package graft.queries

import org.apache.spark.sql.functions._

import graft.model._
import graft.ops.Classifier

import Fixtures._
import Oracles._

/** Structured-streaming faces: continuous migrations, streaming dedup,
  * rollups, quality filtering and IVF-index maintenance. */
private[queries] object StreamingQueries {

  /** Unique memory-sink names so repeated runs (bench rounds) never share
    * a sink table. */
  private val streamCounter = new java.util.concurrent.atomic.AtomicLong(0)

  val all: Seq[Q] = Seq(

    // §2.5/§2.12 streaming windowed rollup: the APM rotation window as an
    // event-time tumbling window over a file stream (AvailableNow), complete
    // mode to a memory sink; oracle = the equivalent batch hour-bucket agg
    Q("q66_stream_rollup", run = (s, dir) => {
      val tmp = scratchDir("graft-swin").toString
      val ev = tbl(s, dir, "events")
      ev.write.parquet(s"$tmp/src")
      val name = s"graft_q66_${streamCounter.incrementAndGet()}"
      val stream = graft.streaming.StreamingMigrations
        .readStream(s, s"$tmp/src", ev.schema)
        .withColumn("ok", col("event_type") =!= "error")
        .withColumn("dur", col("event_id") % 1000)
      // r16: state partitions sized from the source (the windowed agg
      // is the stateful stage; see StreamingMigrations.statePartitionsFor)
      graft.streaming.StreamingMigrations.withShufflePartitions(s,
        graft.streaming.StreamingMigrations.statePartitionsFor(
          s, s"$tmp/src")) {
        graft.streaming.StreamingMigrations
          .windowedRollup(stream, "ts", Seq("event_type"), "ok", "dur",
            windowLen = "1 hour", watermark = "2 hours")
          .writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      }
      s.table(name)
        .select(col("window.start").as("ts_hour"), col("event_type"),
          col("succeeded"), col("failed"), col("duration_ns"))
        .orderBy("ts_hour", "event_type")
    }, oracle = """SELECT date_trunc('hour', ts) AS ts_hour, event_type,
        |  CAST(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS succeeded,
        |  CAST(SUM(CASE WHEN event_type <> 'error' THEN 0 ELSE 1 END)
        |    AS BIGINT) AS failed,
        |  CAST(SUM(event_id % 1000) AS BIGINT) AS duration_ns
        |FROM events GROUP BY ts_hour, event_type
        |ORDER BY ts_hour, event_type""".stripMargin),

    // Continuous IVF-index maintenance: embeddings stream in, each
    // micro-batch is centroid-assigned in the scan and appended to a
    // cell-partitioned store (probe-cell pruning at the file listing);
    // zero streaming state, idempotent per-batch dirs
    Q("q177_stream_ivf", run = (s, dir) => {
      val tmp = scratchDir("graft-sivf").toString
      val emb = tbl(s, dir, "embeddings")
      emb.write.parquet(s"$tmp/src")
      graft.streaming.StreamingMigrations.ivfIndexMaintenance(
        graft.streaming.StreamingMigrations.readStream(
          s, s"$tmp/src", emb.schema),
        "vec_id", "embedding", emb.where(col("vec_id") < 4),
        s"$tmp/out", s"$tmp/ckpt").awaitTermination()
      s.read.parquet(s"$tmp/out")
        .select(col("vec_id"), col("centroid_id").cast("long"))
        .orderBy("vec_id")
    }, oracle = s"""WITH c AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |  WHERE vec_id < 4),
         |p AS (
         |  SELECT e.vec_id AS ia, c.cid AS ib,
         |         e.embedding AS ea, c.ce AS eb
         |  FROM embeddings e, c),
         |${cosineCtes("p")},
         |r AS (
         |  SELECT ia AS vec_id, ib AS centroid_id,
         |    row_number() OVER (PARTITION BY ia
         |      ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, ib) AS rn
         |  FROM d)
         |SELECT vec_id, centroid_id FROM r WHERE rn = 1
         |ORDER BY vec_id""".stripMargin),

    // Streaming quality filter: train the NB model once on the batch
    // corpus, then score a document STREAM against it per micro-batch
    // (stream-static token join via foreachBatch, zero streaming state)
    // and keep the positives — the train-once/filter-forever shape of
    // continuous data curation
    Q("q169_stream_quality", run = (s, dir) => {
      val tmp = scratchDir("graft-squal").toString
      val docs = tbl(s, dir, "documents")
      docs.write.parquet(s"$tmp/src")
      // the model table is read twice (threshold calibration + the
      // per-batch scoring joins) — persist it once
      val model = Classifier.trainLogOdds(docs, "text",
        col("lang") === "en").persist()
      val prior = Classifier.priorFrame(docs, col("lang") === "en")
      // train-time calibration: the keep-threshold is the P50 of the
      // training corpus's per-token scores (how production filters pick
      // their knob), so the query is scale-invariant
      val thr = Classifier.scoreAgainst(docs, "doc_id", "text",
          model, prior)
        .agg(median(col("score") / col("n_tokens"))).head().getDouble(0)
      // r16: per-batch scoring-join/agg partitions sized from the
      // source (no state store here, but the same fixed-cost rule —
      // see StreamingMigrations.statePartitionsFor)
      graft.streaming.StreamingMigrations.withShufflePartitions(s,
        graft.streaming.StreamingMigrations.statePartitionsFor(
          s, s"$tmp/src")) {
        graft.streaming.StreamingMigrations.qualityFilterStream(
          graft.streaming.StreamingMigrations.readStream(
            s, s"$tmp/src", docs.schema),
          "doc_id", "text", model, prior,
          s"$tmp/out", s"$tmp/ckpt",
          minScorePerToken = thr).awaitTermination()
      }
      s.read.parquet(s"$tmp/out")
        .select(col("doc_id"), col("n_tokens"),
          col("score").cast("decimal(18,9)").cast("double").as("score"))
        .orderBy("doc_id")
    }, oracle = """WITH tk AS (SELECT doc_id, lang = 'en' AS pos,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |tok AS (SELECT doc_id, pos, unnest(t) AS w FROM tk),
        |voc AS (SELECT w,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
        |    SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cn
        |  FROM tok GROUP BY w),
        |pri AS (SELECT ln(
        |    (SUM(CASE WHEN pos THEN 1 ELSE 0 END) + 1.0) /
        |    (SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) + 1.0)) AS prior
        |  FROM tk),
        |sc AS (SELECT doc_id, COUNT(*) AS n,
        |    CAST(SUM(CAST(ln((cp + 1.0) / (cn + 1.0))
        |      AS DECIMAL(28,12))) AS DOUBLE) AS s
        |  FROM tok JOIN voc USING (w) GROUP BY doc_id)
        |SELECT doc_id, n AS n_tokens,
        |  CAST(CAST(s + prior AS DECIMAL(18,9)) AS DOUBLE) AS score
        |FROM sc, pri,
        |  (SELECT median((s2.s + p2.prior) / s2.n) AS thr
        |     FROM sc s2, pri p2) t
        |WHERE (s + prior) / n > t.thr
        |ORDER BY doc_id""".stripMargin),

    // streaming extension: the same SimpleMigration spec applied through
    // Structured Streaming (readStream -> transform -> writeStream,
    // AvailableNow), proving batch/stream compilation can't drift
    Q("q47_streaming_migration", run = (s, dir) => {
      val tmp = scratchDir("graft-sstream").toString
      val ev = tbl(s, dir, "events")
      ev.write.parquet(s"$tmp/src")
      val spec = SimpleMigration(
        GeneratorOptions("sm", ns = Namespace("d", "events"),
          query = Map("event_type" -> "click")),
        Map("$set" -> Map("props" -> "CLICKED")))
      graft.streaming.StreamingMigrations.continuousMigration(
        s, spec, s"$tmp/src", ev.schema, s"$tmp/out", s"$tmp/ckpt")
        .awaitTermination()
      s.read.parquet(s"$tmp/out")
        .select("event_id", "event_type", "props").orderBy("event_id")
    }, oracle = """SELECT event_id, event_type,
        |  CASE WHEN event_type = 'click' THEN 'CLICKED' ELSE props END
        |    AS props
        |FROM events ORDER BY event_id""".stripMargin),

    // streaming exact dedup: the source directory holds every event TWICE;
    // dropDuplicatesWithinWatermark keeps one copy per event_id with
    // watermark-bounded state (AvailableNow, checkpointed)
    Q("q87_streaming_dedup", run = (s, dir) => {
      val tmp = scratchDir("graft-sdedup").toString
      val ev = tbl(s, dir, "events").select("event_id", "event_type", "ts")
      ev.write.parquet(s"$tmp/src")
      ev.write.mode("append").parquet(s"$tmp/src") // duplicate arrival
      // watermark wider than the events table's full ts span: if the
      // duplicated files ever split across AvailableNow micro-batches,
      // late copies must still dedup rather than drop as late data
      // r16: state partitions sized from the source (one state store
      // per partition pays load/commit per batch whatever the data —
      // see StreamingMigrations.statePartitionsFor; session conf
      // restored after the stream)
      graft.streaming.StreamingMigrations.withShufflePartitions(s,
        graft.streaming.StreamingMigrations.statePartitionsFor(
          s, s"$tmp/src")) {
        graft.streaming.StreamingMigrations.streamingDedup(
          graft.streaming.StreamingMigrations.readStream(
            s, s"$tmp/src", ev.schema), "ts", Seq("event_id"),
          watermark = "3650 days")
          .writeStream.format("parquet")
          .option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      }
      s.read.parquet(s"$tmp/out")
        .select("event_id", "event_type").orderBy("event_id")
    }, oracle = "SELECT event_id, event_type FROM events ORDER BY event_id"),
  )
}
