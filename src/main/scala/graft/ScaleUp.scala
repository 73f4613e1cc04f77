package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-rehearsal generator for the FULL table set: replicates the
  * driver's sf tables `factor`× with consistent key-space shifts — the way
  * TPC-H itself scales (key ranges grow with sf; a literal key filter
  * selects the same absolute rows while the scan under it grows). Join
  * relationships hold within every copy because foreign keys shift by the
  * same stride as their referenced primary keys; the fixed dimensions
  * (region/nation) stay fixed, as they do across real sf steps.
  *
  * Text and embeddings are perturbed per copy (hash-conditioned word
  * mutation / component jitter) so the dedup and ANN families see a
  * genuinely larger corpus, not `factor` identical replicas that would
  * measure a duplicate-regime artifact instead of scaling.
  *
  * Two duplicate-structure modes (4th arg):
  *   - `replica` (default, the round-7/8 corpus): every copy is a light
  *     (~10%) mutation of the SAME base document, so each doc gains
  *     ~`factor` near-identical siblings — duplicate-GROUP size grows
  *     with the factor and true near-dup pair volume grows
  *     QUADRATICALLY per decade (measured ×157/×94 — SCALE.md). Good
  *     for stressing output-volume handling; it masks plan scaling for
  *     the whole dedup family.
  *   - `bounded`: copies are organized into BLOCKS of `DupGroup` (4)
  *     consecutive copy indices. Within a block, copies are light
  *     (~10%) mutations of a shared block base; the block base itself
  *     is a heavy (~60%) mutation of the original (fresh uniform
  *     vectors for embeddings), so blocks are NOT near-dups of each
  *     other or of the original. Duplicate-group sizes stay ≤ 4 at any
  *     factor — the way real corpora grow (constant duplicate rate) —
  *     so pair volume grows LINEARLY and rehearsal exponents measure
  *     the PLAN, not the output size.
  *
  * Everything runs in-plan (no driver materialization): each copy is a
  * projection over the source scan, unioned and written once.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <outDir> <factor>
  *          [replica|bounded] [tableFilter]
  *
  * `tableFilter` (round 12): optional comma-separated table names —
  * only those tables are written (the third-decade probe builds a
  * 1000× documents+embeddings corpus without paying for 1000×
  * lineitem).
  */
object ScaleUp {

  /** Bounded-mode duplicate-group size: copies k with the same k/DupGroup
    * are near-dup siblings; different blocks are unrelated text. */
  val DupGroup = 4

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args.take(3)
    val factor = factorS.toInt
    val dupMode = if (args.length > 3) args(3) else "replica"
    require(Set("replica", "bounded")(dupMode),
      s"dupMode: $dupMode (replica/bounded)")
    val KnownTables = Set("region", "nation", "customer", "supplier",
      "part", "orders", "lineitem", "events", "documents", "embeddings")
    val only: Set[String] =
      if (args.length > 4) args(4).split(",").map(_.trim).toSet
      else Set.empty
    require(only.subsetOf(KnownTables),
      s"tableFilter: unknown table(s) ${(only -- KnownTables).toSeq.sorted
        .mkString(", ")} (known: ${KnownTables.toSeq.sorted.mkString(", ")})" +
        " — a typo here would silently skip the table it meant to build")
    def wants(name: String): Boolean = only.isEmpty || only(name)
    val spark = Sessions.local(32)

    def src(name: String): DataFrame =
      graft.sources.Tables.load(spark, s"$srcDir/$name.parquet")

    /** Stride for a key column: next power of 10 above its max, so
      * shifted copies never collide and keys stay readable. */
    def stride(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key))).head.getLong(0)
      var s = 1L; while (s <= mx) s *= 10; s
    }

    /** The driver's tables are single parquet FILES (pandas-written), and
      * parts of the suite depend on that layout (file copies, footer
      * reads) — so build in parallel, funnel through one writer task
      * (repartition(1) keeps the upstream plan parallel), and move the
      * lone part file into place. A ≤~110 MB file still scans in
      * parallel: parquet splits by row group. */
    // df is BY-NAME: with a tableFilter, a skipped table's source scan,
    // stride jobs, and plan construction never run at all (the lazy
    // vals below force only on first use)
    def writeSingleFile(name: String, df: => DataFrame): Unit = {
      if (!wants(name)) { println(s"[scaleup] skip $name"); return }
      val tmp = s"$outDir/__tmp_$name"
      df.repartition(1).write.mode("overwrite").parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file in $tmp"))
      val dest = new java.io.File(s"$outDir/$name.parquet")
      if (dest.exists()) dest.delete()
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dir.listFiles().foreach(_.delete()); dir.delete()
      println(s"[scaleup] $name")
    }

    /** Balanced union: a left-deep reduce of 1000 copies builds a
      * 1000-deep plan tree (analyzer recursion trouble); grouping by 8
      * keeps the tree ~log-depth at any factor. */
    def treeUnion(dfs: Seq[DataFrame]): DataFrame =
      if (dfs.sizeIs <= 1) dfs.head
      else treeUnion(dfs.grouped(8).map(_.reduce(_ union _)).toSeq)

    def writeCopies(name: String, base: => DataFrame,
        copy: (DataFrame, Int) => DataFrame): Unit =
      // writeSingleFile's by-name df defers the whole plan construction
      // past its wants() check, and the skip gets logged uniformly
      writeSingleFile(name,
        treeUnion((0 until factor).map(k => copy(base, k))))

    // fixed dimensions: copy verbatim
    Seq("region", "nation").foreach { t => writeSingleFile(t, src(t)) }

    lazy val customer = src("customer")
    lazy val custS = stride(customer, "c_custkey")
    lazy val supplier = src("supplier")
    lazy val suppS = stride(supplier, "s_suppkey")
    lazy val part = src("part")
    lazy val partS = stride(part, "p_partkey")
    lazy val orders = src("orders")
    lazy val ordS = stride(orders, "o_orderkey")

    writeCopies("customer", customer, (df, k) =>
      df.withColumn("c_custkey", col("c_custkey") + k * custS))
    writeCopies("supplier", supplier, (df, k) =>
      df.withColumn("s_suppkey", col("s_suppkey") + k * suppS))
    writeCopies("part", part, (df, k) =>
      df.withColumn("p_partkey", col("p_partkey") + k * partS))
    writeCopies("orders", orders, (df, k) => df
      .withColumn("o_orderkey", col("o_orderkey") + k * ordS)
      .withColumn("o_custkey", col("o_custkey") + k * custS))
    writeCopies("lineitem", src("lineitem"), (df, k) => df
      .withColumn("l_orderkey", col("l_orderkey") + k * ordS)
      .withColumn("l_partkey", col("l_partkey") + k * partS)
      .withColumn("l_suppkey", col("l_suppkey") + k * suppS))

    lazy val events = src("events")
    lazy val evS = stride(events, "event_id")
    lazy val userS = stride(events, "user_id")
    writeCopies("events", events, (df, k) => df
      .withColumn("event_id", col("event_id") + k * evS)
      .withColumn("user_id", col("user_id") + k * userS))

    // documents: shift doc_id; mutate ~10% of words per copy k>0 with
    // hash-picked replacements from the copy-0 vocabulary, so the corpus
    // grows like fresh text (stable doc-frequency) instead of stacking
    // exact replicas
    lazy val documents = src("documents")
    lazy val docS = stride(documents, "doc_id")
    lazy val vocabArr = {
      val words = documents.select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 0)
        .groupBy("w").count().orderBy(desc("count"), asc("w"))
        .limit(1000).select("w").collect().map(_.getString(0))
      array(words.map(lit(_)).toIndexedSeq: _*)
    }
    writeCopies("documents", documents, (df, k) =>
      if (k == 0) df
      else if (dupMode == "replica") df
        .withColumn("doc_id", col("doc_id") + k * docS)
        .withColumn("text", array_join(transform(
          split(col("text"), " "),
          (w, i) => when(pmod(hash(col("doc_id"), i, lit(k)), lit(10)) === 0,
            element_at(vocabArr,
              pmod(hash(col("doc_id"), i, lit(k), lit(7)),
                size(vocabArr)) + 1)).otherwise(w)), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
      else {
        // bounded: block-level heavy mutation (seeded by the BASE id and
        // the block index g, so every copy in a block shares one block
        // base) + light per-copy mutation on top. Block g=0 keeps the
        // original as its base, so copy 0 stays pristine. Heavy
        // replacements carry a per-generation suffix pool — FRESH
        // vocabulary, the Heaps'-law behavior of real text — so the
        // shingle space grows with the corpus and blocks share almost
        // no shingles: without this, the base tables' tiny synthetic
        // vocabulary (~31 words) keeps every shingle bucket saturated
        // and chance-level cross-doc similarity alone makes candidate
        // volume quadratic at ANY duplicate rate (measured: the first
        // bounded corpus still grew LSH candidates ×99/×83 per decade
        // from the chance tail).
        val g = k / DupGroup
        val vocabPick = (seed: Column) =>
          element_at(vocabArr, pmod(seed, size(vocabArr)) + 1)
        df.withColumn("__base", col("doc_id"))
          .withColumn("doc_id", col("doc_id") + k * docS)
          .withColumn("text", array_join(transform(
            split(col("text"), " "),
            (w, i) => {
              val light = pmod(hash(col("__base"), i, lit(k), lit(17)),
                lit(10)) === 0
              val heavy = lit(g) > 0 &&
                pmod(hash(col("__base"), i, lit(g), lit(11)),
                  lit(10)) < 6
              when(light,
                vocabPick(hash(col("__base"), i, lit(k), lit(19))))
                .when(heavy, concat(
                  vocabPick(hash(col("__base"), i, lit(g), lit(13))),
                  lit(s"g${g}x"),
                  pmod(hash(col("__base"), i, lit(g), lit(29)),
                    lit(50)).cast("string")))
                .otherwise(w)
            }), " "))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .drop("__base")
      })

    // embeddings: shift vec_id; deterministic per-copy component jitter so
    // vectors are near but not identical across copies (ANN sees a denser
    // space, not factor-fold exact ties)
    writeCopies("embeddings", src("embeddings"), (df, k) => {
      val vecS = 100000L
      if (k == 0) df
      else if (dupMode == "replica") df
        .withColumn("vec_id", col("vec_id") + k * vecS)
        .withColumn("embedding", transform(col("embedding"),
          (x, i) => (x + (pmod(hash(col("vec_id"), i, lit(k)), lit(1000))
            .cast("float") - 500f) / 500000f)))
      else {
        // bounded: blocks beyond g=0 get FRESH hash-uniform vectors as
        // the block base (cosine ≈ 0 to everything at high thresholds),
        // then the same small per-copy jitter — within-block cosine ≈ 1,
        // group size ≤ DupGroup at any factor
        val g = k / DupGroup
        val d0 = df.withColumn("__base", col("vec_id"))
          .withColumn("vec_id", col("vec_id") + k * vecS)
        val blockBase =
          if (g == 0) d0
          else d0.withColumn("embedding", transform(col("embedding"),
            (x, i) => (pmod(hash(col("__base"), i, lit(g)), lit(2000001))
              .cast("float") - 1000000f) / 1000000f))
        blockBase.withColumn("embedding", transform(col("embedding"),
          (x, i) => x + (pmod(hash(col("__base"), i, lit(k), lit(23)),
            lit(1000)).cast("float") - 500f) / 500000f))
          .drop("__base")
      }
    })

    println(s"[scaleup] done: $outDir at ${factor}x $srcDir ($dupMode)")
    spark.stop()
  }
}
