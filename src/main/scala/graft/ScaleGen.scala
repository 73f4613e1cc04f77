package graft

/** Deterministic generator for scale-rehearsal data shaped like the
  * driver's `documents` / `events` tables (same schema, vocab size, doc
  * length distribution, ~5% planted near-duplicates), so the heavy dedup
  * family can be measured one decade above the bench sf without touching
  * the read-only driver testdata.
  *
  * Usage: runMain graft.ScaleGen <outDir> <nDocs> <nEvents>
  */
object ScaleGen {
  private val vocab = Vector("spark", "table", "query", "column", "row",
    "batch", "part", "line", "order", "small", "sort", "fast", "value",
    "scan", "vector", "agg", "hash", "stream", "key", "group", "filter",
    "customer", "slow", "join", "shuffle", "merge", "index", "cache",
    "plan", "stage", "task")

  def main(args: Array[String]): Unit = {
    val Array(outDir, nDocsS, nEventsS) = args.take(3)
    val (nDocs, nEvents) = (nDocsS.toInt, nEventsS.toInt)
    // optional 4th arg: vocabulary size. The driver tables use a FIXED
    // ~31-word vocab, which saturates the 3-shingle space as the corpus
    // grows (per-shingle doc frequency rises linearly — the worst case
    // for shingle bucket joins). Passing a size that grows with the
    // corpus (Heaps' law) models real text instead.
    val vocabSize = if (args.length > 3) args(3).toInt else vocab.size
    val fullVocab = vocab ++
      (vocab.size until vocabSize).map(i => s"w$i")
    val spark = Sessions.local(32)

    // documents: driver-side build (50k x ~300 chars is a few MB), seeded
    val rnd = new scala.util.Random(42)
    val langs = Vector("en", "en", "en", "zh", "de", "fr")
    val texts = new Array[String](nDocs)
    for (i <- 0 until nDocs) {
      texts(i) =
        if (i % 20 == 19 && i >= 19) {
          // near-duplicate of an earlier doc: ~10% of words mutated
          val words = texts(i - 19).split(" ")
          words.map(w => if (rnd.nextDouble() < 0.1)
            fullVocab(rnd.nextInt(fullVocab.size)) else w).mkString(" ")
        } else {
          val len = 16 + rnd.nextInt(101)
          Seq.fill(len)(fullVocab(rnd.nextInt(fullVocab.size))).mkString(" ")
        }
    }
    val docRows = (0 until nDocs).map { i =>
      (i.toLong, texts(i), langs(rnd.nextInt(langs.size)),
        s"src${i % 10}", texts(i).length.toLong)
    }
    import spark.implicits._
    docRows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // events: generated IN-PLAN (hash-derived columns over a range — no
    // driver materialization), schema-matching the driver table
    spark.range(nEvents.toLong).selectExpr(
      "id AS event_id",
      "timestamp_seconds(1700000000 + (hash(id, 1) % 86400) * 7) AS ts",
      "CAST(pmod(hash(id, 2), 1000) AS BIGINT) AS user_id",
      "element_at(array('click','view','buy','scroll'), " +
        "CAST(pmod(hash(id, 3), 4) AS INT) + 1) AS event_type",
      "CAST(pmod(hash(id, 4), 10000) AS DOUBLE) / 100.0 AS value",
      "concat('{\"k\":', pmod(hash(id, 5), 100), '}') AS props")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    println(s"[scalegen] $outDir: $nDocs docs, $nEvents events")
    spark.stop()
  }
}
