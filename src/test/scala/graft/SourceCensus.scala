package graft

/** The main sources as the census specs read them: every `.scala` file
  * under `src/main/scala`, whole or as its code lines (comment lines
  * skipped), and per-file match counts of a pattern over the code.
  * Runs from the project root (sbt's forked test working directory). */
object SourceCensus {

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** Every main source file. */
  lazy val files: Seq[java.io.File] = {
    val root = new java.io.File("src/main/scala")
    require(root.isDirectory, s"run from the project root: $root missing")
    scalaFiles(root)
  }

  def lines(f: java.io.File): Seq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  /** (file name, code lines joined) for every main source file. */
  lazy val code: Seq[(String, String)] = files.map { f =>
    f.getName -> lines(f).filterNot { l =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }.mkString("\n")
  }

  /** Matches of `re` per file, files without one left out. */
  def census(re: String): Map[String, Int] =
    code.map { case (f, c) => f -> re.r.findAllIn(c).size }
      .filter(_._2 > 0).toMap
}
