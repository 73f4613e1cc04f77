package graft.streaming

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.SimpleMigration
import graft.query.QueryCompiler
import graft.sources.Tables.storeWrite
import graft.update.UpdateCompiler

/** Structured-Streaming extension of the migration engine.
  *
  * The reference is strictly batch: its only "stream" is a cursor fed to
  * user code (/root/reference/migration_job_stream.go:70-77; no watermarks
  * or event-time operators exist — SURVEY.md §1.1/§2.5). This module is the
  * Spark-native extension of the same semantics to continuous arrival:
  *  - [[continuousMigration]]: a Simple migration applied to every
  *    micro-batch of newly arriving files — query compiler + update
  *    compiler reused verbatim, so batch and streaming semantics can't
  *    drift apart.
  *  - [[windowedRollup]]: the APM rotation window (apm/event.go:29-34,
  *    monitor.go:152-171) as an event-time tumbling window with a
  *    watermark, i.e. Rotate() without the wall-clock ticker.
  */
object StreamingMigrations {

  /** Open a file-based stream over a directory of parquet drops.
    * `maxFilesPerTrigger` bounds each micro-batch — the scale knob that
    * keeps a 100 TB backlog from becoming one giant first batch (and the
    * failure-injection seam: smaller batches = finer-grained restart
    * points in the checkpoint). */
  def readStream(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(path)
  }

  /** Apply a simple migration spec to a (possibly streaming) frame:
    * matching rows get the update, others pass through — identical
    * compilation to the batch path. */
  def applySpec(spec: SimpleMigration)(df: DataFrame): DataFrame =
    UpdateCompiler.applyUpdate(df, QueryCompiler.compile(spec.options.query),
      spec.update)

  /** Continuous migration: stream in, transform, append out, exactly-once
    * per file via checkpointing. */
  def continuousMigration(spark: SparkSession, spec: SimpleMigration,
      sourcePath: String, schema: org.apache.spark.sql.types.StructType,
      sinkPath: String, checkpoint: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    applySpec(spec)(readStream(spark, sourcePath, schema, maxFilesPerTrigger))
      .writeStream
      .format("parquet")
      .option("path", sinkPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** SCALE-ADAPTIVE state/shuffle partition count for a stateful
    * stream over a file source (r16, guide §2.2/§2.5 — partitioning
    * derived from data, not from a constant tuned for one host): a
    * stateful operator creates one state store per shuffle partition
    * and pays its load/commit per micro-batch REGARDLESS of data, so
    * partitions far in excess of the input are pure fixed cost — while
    * the count is PINNED into the checkpoint at first start, so it
    * must be right before the query runs. Rule: one partition per
    * `targetBytes` (64 MB) of source data, never more than the
    * session's configured parallelism — at 100 TB the min() leaves the
    * cluster admin's `spark.sql.shuffle.partitions` in charge; on a
    * small source it stops 32 near-empty state stores from costing
    * more than the data. `spark.graft.streaming.statePartitions`
    * overrides the rule outright. A source whose size cannot be read
    * (missing, unreadable) gets the session parallelism. */
  def statePartitionsFor(spark: SparkSession, srcPath: String,
      targetBytes: Long = 64L << 20): Int =
    spark.conf.getOption("spark.graft.streaming.statePartitions")
      .map(_.toInt).getOrElse {
        val cap = spark.sessionState.conf.numShufflePartitions
        val p = new Path(srcPath)
        try {
          val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .getContentSummary(p).getLength
          math.min(cap.toLong,
            math.max(1L, (bytes + targetBytes - 1) / targetBytes)).toInt
        } catch { case NonFatal(_) => cap }
      }

  /** Run `f` with `spark.sql.shuffle.partitions` pinned to `n`,
    * restoring the prior value after — the session-conf scope for
    * starting a stateful stream under [[statePartitionsFor]]'s count
    * (the setting binds into the stream's checkpoint at start). */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(f: => T): T = {
    val prior = spark.conf.get("spark.sql.shuffle.partitions",
      spark.sessionState.conf.numShufflePartitions.toString)
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f
    finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }

  /** Watermarks require an instant (`TimestampType`); parquet written
    * without UTC adjustment (e.g. pandas µs timestamps) reads as
    * `TimestampNTZType`, which `withWatermark` rejects outright
    * (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Interpret NTZ event times in
    * the session time zone — the engine pins UTC, so the cast is
    * value-identical and fuses into the scan projection (no extra pass). */
  private def ensureEventTime(df: DataFrame, tsCol: String): DataFrame =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(tsCol,
          col(tsCol).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Streaming exact deduplication: drop rows whose `keyCols` were already
    * seen within the watermark horizon — the streaming analog of
    * [[graft.ops.Dedup.exact]] for continuously arriving corpora. State is
    * bounded: `dropDuplicatesWithinWatermark` evicts keys older than the
    * horizon, so at 100 TB/day the state store holds one horizon's keys,
    * not all history. */
  def streamingDedup(stream: DataFrame, tsCol: String, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    ensureEventTime(stream, tsCol).withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** The one sink of the micro-batch store streams below. Every stream
    * keeps the same contract, stated here once:
    *  - each batch OVERWRITES its own `batch=N` subdirs (outputs and
    *    store appends alike), so a retried batch replaces its output
    *    instead of double-appending: exactly-once sinks under
    *    foreachBatch's at-least-once contract;
    *  - each batch reads priors only from batch ids STRICTLY BELOW its
    *    own ([[priorBatches]]), so a retried batch re-derives from the
    *    same priors it saw first;
    *  - a store and its checkpoint are one unit of state: reset them
    *    TOGETHER or not at all. After a checkpoint reset over a
    *    retained store the batch ids restart at 0, and the strictly-
    *    below rule makes early replayed batches see fewer priors than
    *    the store holds (a loud undercount) instead of pairing against
    *    stale higher-numbered batches (a silent double-count);
    *  - each batch releases the [[graft.ops.Dedup]]-tracked caches it
    *    made, in a `finally`, so a failed batch leaks none of them.
    *    The release is process-global. */
  private def eachBatch(stream: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        try body(batch, batchId)
        finally graft.ops.Dedup.releaseCaches()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Ascending ids of the `batch=<long>` directories under `root` whose
    * id is strictly below `batchId` (the [[eachBatch]] contract); empty
    * when `root` does not exist yet. Store readers read every listed
    * batch; generation readers take the `.lastOption`; both read them
    * back through [[readPrior]]. */
  private def priorBatches(spark: SparkSession, root: String,
      batchId: Long): Seq[Long] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .flatMap(s => Try(s.getPath.getName.stripPrefix("batch=").toLong)
        .toOption)
      .filter(_ < batchId).sorted
  }

  /** Read back the `batch=N` directories of `root` for `ids` (from
    * [[priorBatches]]). */
  private def readPrior(spark: SparkSession, root: String,
      ids: Seq[Long]): DataFrame =
    spark.read.parquet(ids.map(n => s"$root/batch=$n"): _*)

  /** The pair streams' output: (new_id, ref_id, within_batch) under
    * `pairsPath/batch=N`. Without a store yet, the cross side is the
    * empty `within.limit(0)` — an empty frame with the CALLER'S id
    * type (a long-typed literal frame would fail the union on
    * string-keyed corpora). */
  private def writePairs(within: DataFrame, cross: Option[DataFrame],
      pairsPath: String, batchId: Long): Unit =
    cross.getOrElse(within.limit(0)).withColumn("within_batch", lit(false))
      .unionByName(within.withColumn("within_batch", lit(true)))
      .write.mode("overwrite").parquet(s"$pairsPath/batch=$batchId")

  /** Continuous quality filtering: score each arriving micro-batch of
    * documents against a BATCH-trained Naive-Bayes model (the
    * train-once / filter-forever shape of production data curation) and
    * append rows clearing `minScorePerToken` to `outPath/batch=N`. The
    * per-batch work is a stream-static token equi-join + hash aggregate
    * via `foreachBatch` — the standard pattern for joins-with-aggregation
    * on streams; state is zero (each batch scores independently), so a
    * 100 TB/day feed holds nothing but the model table. Returns the
    * started query. */
  def qualityFilterStream(stream: DataFrame, idCol: String,
      textCol: String, model: DataFrame, prior: DataFrame,
      outPath: String, checkpoint: String,
      minScorePerToken: Double = 0.0): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      graft.ops.Classifier
        .scoreAgainst(batch, idCol, textCol, model, prior)
        // per-token normalization: the raw sum scales with document
        // length, so a length-free threshold is the usable knob
        .where(col("score") / col("n_tokens") > minScorePerToken)
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
    }

  /** Continuous incremental near-dup against a PERSISTED signature
    * store — the streaming face of [[graft.ops.Dedup.minhashBandSignatures]]
    * / [[graft.ops.Dedup.minhashLshPairsBetweenPrecomputed]], i.e. the
    * daily-crawl loop the incrstore probe measures: each arriving
    * micro-batch (a) emits its near-dup pairs against everything
    * absorbed BEFORE it (plus its own within-batch pairs) and (b)
    * appends its band signatures to the store, so per-batch cost is
    * the batch's own hash + one band equi-join against the store —
    * never a corpus recompute.
    *
    * Pair output: (new_id, ref_id, within_batch) under
    * `pairsPath/batch=N`; store layout `storePath/batch=N/band=B`
    * (band-partitioned — the pruning layout
    * [[graft.ops.Dedup.minhashBandSignatures]] prescribes). State is
    * zero: the store IS the state, durable and shared. */
  def incrementalNearDupStream(stream: DataFrame, idCol: String,
      textCol: String, storePath: String, pairsPath: String,
      checkpoint: String, k: Int = 3, numPerms: Int = 12,
      bands: Int = 4): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val prior = priorBatches(spark, storePath, batchId)
      val within = graft.ops.Dedup.minhashLshPairs(
          batch, idCol, textCol, k, numPerms, bands)
        .select(col("id_a").as("new_id"), col("id_b").as("ref_id"))
      writePairs(within, Option.when(prior.nonEmpty)(
        graft.ops.Dedup.minhashLshPairsBetweenPrecomputed(batch,
          readPrior(spark, storePath, prior),
          idCol, textCol, k, numPerms, bands)), pairsPath, batchId)
      storeWrite(graft.ops.Dedup.minhashBandSignatures(
          batch, idCol, textCol, k, numPerms, bands),
        "band", s"$storePath/batch=$batchId")
    }

  /** Continuous incremental EMBEDDING near-dup against a persisted
    * bucket store — [[incrementalNearDupStream]] for vectors, the
    * streaming face of [[graft.ops.Dedup.vectorBucketSignatures]] /
    * [[graft.ops.Dedup.embeddingNearDupBetweenPrecomputed]]: each
    * arriving micro-batch (a) emits cosine near-dup pairs against
    * everything absorbed BEFORE it plus its own within-batch pairs and
    * (b) appends its hyperplane buckets AND its (id, vector) rows to
    * the store, so per-batch cost is the batch's own hashing + one
    * (t, bkt) equi-join + a candidate-pruned vector join-back — the
    * reference corpus is never re-hashed.
    *
    * Store layout: `storePath/buckets/batch=N` (partitioned by t —
    * the [[graft.ops.Dedup.vectorBucketSignatures]] layout) and
    * `storePath/vectors/batch=N` (the narrow (id, vec) sidecar the
    * exact-cosine verify joins back by id). Pair output: (new_id,
    * ref_id, within_batch) under `pairsPath/batch=N`.
    *
    * `blockPlanes` is pinned by the caller (store discipline — see
    * [[graft.ops.Dedup.vectorBucketSignatures]]): size it for the
    * corpus's TARGET size, not the first batch's. */
  def incrementalEmbeddingDedupStream(stream: DataFrame, idCol: String,
      vecCol: String, storePath: String, pairsPath: String,
      checkpoint: String, threshold: Double, blockTables: Int = 4,
      blockPlanes: Int = 12, dim: Int = 0): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val prior = priorBatches(spark, s"$storePath/buckets", batchId)
      val within = graft.ops.Dedup.embeddingNearDup(
          batch, idCol, vecCol, threshold,
          blockTables = blockTables, blockPlanes = blockPlanes,
          dim = dim)
        .select(col("id_a").as("new_id"), col("id_b").as("ref_id"))
      writePairs(within, Option.when(prior.nonEmpty)(
        graft.ops.Dedup.embeddingNearDupBetweenPrecomputed(batch,
          readPrior(spark, s"$storePath/buckets", prior),
          readPrior(spark, s"$storePath/vectors", prior),
          idCol, vecCol, threshold, blockTables, blockPlanes, dim)),
        pairsPath, batchId)
      storeWrite(graft.ops.Dedup.vectorBucketSignatures(
          batch, idCol, vecCol, blockTables, blockPlanes, dim),
        "t", s"$storePath/buckets/batch=$batchId")
      batch.select(col(idCol), col(vecCol))
        .write.mode("overwrite")
        .parquet(s"$storePath/vectors/batch=$batchId")
    }

  /** Continuous duplicate-cluster maintenance — the final stage of the
    * fully-incremental dedup loop: [[incrementalNearDupStream]] /
    * [[incrementalEmbeddingDedupStream]] emit per-batch pair files,
    * and this stream folds each pair batch into a persisted
    * (id, component) labeling via [[graft.ops.Dedup.mergeClusters]] —
    * label propagation runs over the contracted DELTA graph only, so
    * no batch ever re-runs connected components over the accumulated
    * pair set (the q50-class cost the merge probe measured at 12× the
    * merge path by the second decade).
    *
    * Labels are GENERATIONS: each batch writes the complete updated
    * labeling to `labelsPath/batch=N` and reads the HIGHEST generation
    * strictly below its id as the prior. The first batch seeds with a
    * full [[graft.ops.Dedup.duplicateClusters]] over its own pairs.
    * Readers take the max-id generation; superseded generations are
    * retention history (prune externally). At very large node counts
    * the full-generation write is the simplicity/IO trade — the
    * labels frame is two longs per ever-paired doc, orders of
    * magnitude narrower than the corpus. */
  def clusterMaintenanceStream(pairs: DataFrame, idA: String,
      idB: String, labelsPath: String, checkpoint: String,
      maxIter: Int = 20): StreamingQuery =
    eachBatch(pairs, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val labels = priorBatches(spark, labelsPath, batchId).lastOption match {
        case None =>
          graft.ops.Dedup.duplicateClusters(batch, idA, idB, maxIter)
        case Some(k) =>
          graft.ops.Dedup.mergeClusters(
            readPrior(spark, labelsPath, Seq(k)),
            batch, idA, idB, maxIter)
      }
      labels.write.mode("overwrite")
        .parquet(s"$labelsPath/batch=$batchId")
    }

  /** Continuous CRAWL CURATION — the [[graft.ops.Curation.webCurateIncremental]]
    * chain as one stream: each arriving (url, html) micro-batch runs
    * extraction, within-batch + cross-batch canonical-URL dedup,
    * gates, within-batch + cross-batch content dedup, and the sample,
    * then appends ONLY its new keys to the two key stores — per-batch
    * cost scales with the batch; the accumulated corpus text is never
    * re-read. Store layout: `storePath/urlkeys/batch=N` and
    * `storePath/contentkeys/batch=N` (narrow single-column frames);
    * curated output under `outPath/batch=N`. One-shot equivalence
    * needs ids monotone across batches — see
    * [[graft.ops.Curation.webCurateIncremental]]. */
  def webCurateStream(stream: DataFrame, idCol: String,
      urlCol: String, htmlCol: String, storePath: String,
      outPath: String, checkpoint: String, targetLang: String = "en",
      minQuality: Double = 0.0, minLangMargin: Int = 0,
      sampleFraction: Double = 1.0, salt: String = ""): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val urlIds = priorBatches(spark, s"$storePath/urlkeys", batchId)
      val state =
        if (urlIds.isEmpty)
          graft.ops.Curation.webCurateBootstrap(batch, idCol,
            urlCol, htmlCol, targetLang, minQuality, minLangMargin,
            sampleFraction, salt)
        else graft.ops.Curation.webCurateIncremental(batch,
          readPrior(spark, s"$storePath/urlkeys", urlIds),
          readPrior(spark, s"$storePath/contentkeys",
            priorBatches(spark, s"$storePath/contentkeys", batchId)),
          idCol, urlCol, htmlCol, targetLang, minQuality,
          minLangMargin, sampleFraction, salt)
      state.curated.write.mode("overwrite")
        .parquet(s"$outPath/batch=$batchId")
      state.newUrlKeys.write.mode("overwrite")
        .parquet(s"$storePath/urlkeys/batch=$batchId")
      state.newContentKeys.write.mode("overwrite")
        .parquet(s"$storePath/contentkeys/batch=$batchId")
    }

  /** Continuous incremental per-domain quality gate — the streaming
    * face of [[graft.ops.Curation.domainPercentileFilterIncremental]]:
    * each micro-batch writes its own exact (source, score, cnt)
    * histogram generation under `storePath/batch=N` and gates itself
    * under thresholds computed over every PRIOR generation plus its
    * own counts (the corpus-so-far percentile — prior batches' rows
    * are never re-read, only their bounded histograms). Kept rows
    * land under `outPath/batch=N`. */
  def domainGateStream(stream: DataFrame, sourceCol: String,
      scoreCol: String, storePath: String, outPath: String,
      checkpoint: String, quantile: Double): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val prior = priorBatches(spark, storePath, batchId)
      val priorHist =
        if (prior.isEmpty)
          graft.ops.Curation.domainScoreHistogram(batch.limit(0),
            sourceCol, scoreCol)
        else readPrior(spark, storePath, prior)
      val state = graft.ops.Curation.domainPercentileFilterIncremental(
        batch, priorHist, sourceCol, scoreCol, quantile)
      state.kept.write.mode("overwrite")
        .parquet(s"$outPath/batch=$batchId")
      // append THIS batch's generation only (state.hist is the
      // merge — writing it would double-count on the next batch)
      graft.ops.Curation.domainScoreHistogram(batch, sourceCol,
          scoreCol)
        .write.mode("overwrite")
        .parquet(s"$storePath/batch=$batchId")
    }

  /** Continuous incremental MEDIA near-dup against a persisted chunk
    * store — [[incrementalNearDupStream]] for images, the streaming
    * face of [[graft.ops.Multimodal.mediaChunkSignatures]] /
    * [[graft.ops.Multimodal.mediaNearDupBetween]]: each arriving
    * micro-batch of (media_id, content) rows decodes ONCE, emits its
    * near-dup pairs against everything absorbed before it plus its
    * own within-batch pairs, and appends its chunk signatures — the
    * reference corpus is never re-DECODED (the expensive step for
    * images). Pair output: (new_id, ref_id, within_batch) under
    * `pairsPath/batch=N`; store layout `storePath/batch=N/chunk=C`. */
  def mediaDedupStream(stream: DataFrame, storePath: String,
      pairsPath: String, checkpoint: String, maxHamming: Int = 3)
      : StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val prior = priorBatches(spark, storePath, batchId)
      // decode the batch ONCE: the fingerprints feed the store
      // write, the within-batch join, and the cross-frame join
      val fp = graft.ops.Dedup.trackedPersist(
        graft.ops.Multimodal.perceptualHash(batch))
      val within = graft.ops.Dedup.hammingNearDup(fp, "media_id",
          "phash", graft.ops.Multimodal.PHashBits, maxHamming)
        .select(col("id_a").as("new_id"), col("id_b").as("ref_id"),
          col("hamming"))
      writePairs(within, Option.when(prior.nonEmpty)(
        graft.ops.Dedup.hammingNearDupBetweenPrecomputed(fp,
          readPrior(spark, storePath, prior), "media_id",
          "phash", graft.ops.Multimodal.PHashBits, maxHamming)),
        pairsPath, batchId)
      storeWrite(graft.ops.Dedup.hammingChunkSignatures(fp, "media_id",
          "phash", graft.ops.Multimodal.PHashBits, maxHamming),
        "chunk", s"$storePath/batch=$batchId")
    }

  /** Continuous EMBEDDED-CORPUS CURATION — the full incremental
    * preset as one stream: each arriving micro-batch flows through
    * [[graft.ops.Curation.embedCurateIncremental]] (within-batch +
    * batch×store pairs → mergeClusters → incremental keep-best →
    * fresh-survivor decon → sample) against the state every previous
    * batch persisted, and appends its own buckets + doc rows so the
    * next batch sees it as reference. The first batch bootstraps via
    * [[graft.ops.Curation.embedCurateBootstrap]].
    *
    * Store layout under `storePath`: `buckets/batch=N` (the
    * [[graft.ops.Dedup.vectorBucketSignatures]] frame, partitioned by
    * t), `docs/batch=N` (the batch's full rows — the refDocs side;
    * only changed-component members are ever read back), and the
    * label/resolved GENERATIONS `labels/batch=N` /
    * `resolved/batch=N` (each batch reads the highest generation
    * strictly below its id — the [[clusterMaintenanceStream]]
    * pattern). Curated output lands under `outPath/batch=N`.
    * `bench`/`deconThreshold`/plane parameters must stay constant for
    * the chain's life (the one-shot-equivalence contract; the store
    * stamp enforces the plane space). */
  def embedCurateStream(stream: DataFrame, idCol: String,
      vecCol: String, qualityCol: String, dupThreshold: Double,
      storePath: String, outPath: String, checkpoint: String,
      bench: Option[(DataFrame, String, String)] = None,
      deconThreshold: Double = 0.9, blockTables: Int = 4,
      blockPlanes: Int = 12, dim: Int = 0,
      sampleFraction: Double = 1.0, salt: String = ""): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      val prior = priorBatches(spark, s"$storePath/labels", batchId)
      val state = prior.lastOption match {
        case None =>
          graft.ops.Curation.embedCurateBootstrap(batch, idCol,
            vecCol, qualityCol, dupThreshold, bench, deconThreshold,
            blockTables, blockPlanes, dim, sampleFraction, salt)
        case Some(k) =>
          def store(sub: String) = readPrior(spark, s"$storePath/$sub",
            priorBatches(spark, s"$storePath/$sub", batchId))
          def generation(sub: String) =
            readPrior(spark, s"$storePath/$sub", Seq(k))
          graft.ops.Curation.embedCurateIncremental(batch,
            store("docs"), store("buckets"),
            generation("labels"), generation("resolved"),
            idCol, vecCol, qualityCol, dupThreshold, bench,
            deconThreshold, blockTables, blockPlanes, dim,
            sampleFraction, salt)
      }
      state.labels.write.mode("overwrite")
        .parquet(s"$storePath/labels/batch=$batchId")
      val resolvedPath = s"$storePath/resolved/batch=$batchId"
      state.resolved.write.mode("overwrite").parquet(resolvedPath)
      // curated = a deterministic hash filter over resolved: derive
      // it from the JUST-WRITTEN parquet instead of state.curated —
      // re-executing the resolved lineage a second time would
      // re-pay the pair join and the re-elect window per batch
      graft.ops.Sampling.hashSample(
          spark.read.parquet(resolvedPath), idCol, sampleFraction,
          salt)
        .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      // r16: the state carries the batch's (persisted) bucket frame —
      // the same one that fed the pair joins — so the store append
      // reads the cache instead of re-running the plane hash
      storeWrite(state.buckets, "t", s"$storePath/buckets/batch=$batchId")
      batch.write.mode("overwrite")
        .parquet(s"$storePath/docs/batch=$batchId")
    }

  /** Continuous ANN-index maintenance: each arriving embedding
    * micro-batch is assigned to its nearest IVF centroid (the scan-fused
    * literal-centroid compare of `Similarity.ivfAssign`) and appended to
    * a CELL-PARTITIONED store under `outPath/batch=N` —
    * `centroid_id=` partition directories let later searches prune their
    * probe cells at the file listing, so the index grows in place with
    * zero reorganization; state is zero. */
  def ivfIndexMaintenance(stream: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, outPath: String,
      checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      storeWrite(graft.ops.Similarity
          .ivfAssign(batch, idCol, vecCol, centroids),
        "centroid_id", s"$outPath/batch=$batchId")
    }

  /** Event-time windowed success/fail/duration rollup with watermark —
    * the streaming analog of Apm.rollup + window rotation. */
  def windowedRollup(events: DataFrame, tsCol: String, keys: Seq[String],
      okCol: String, durCol: String, windowLen: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    ensureEventTime(events, tsCol)
      .withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), windowLen) +: keys.map(col)): _*)
      .agg(
        sum(when(col(okCol), 1L).otherwise(0L)).as("succeeded"),
        sum(when(col(okCol), 0L).otherwise(1L)).as("failed"),
        sum(col(durCol)).as("duration_ns"))
}
