package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Sequence packing for LLM pretraining: documents are concatenated in a
  * deterministic order and cut into fixed-size token windows ("pack then
  * chunk", the standard pretraining batcher). Each document is assigned
  * the sequence its FIRST token lands in — `seq_id = floor(start / max)`
  * where `start` is the running token count of all earlier documents in
  * its group — so the assignment is a pure prefix sum, exactly
  * reproducible in SQL, and every document belongs to exactly one
  * sequence.
  *
  * Scale shape: ONE window aggregate partitioned by `groupCol` (the
  * source/shard key a real mix already carries) — parallelism is
  * per-group, so thousands of sources pack concurrently with no global
  * ordering. For a single giant group the same math distributes as a
  * two-pass prefix sum (per-partition subtotals broadcast back as
  * offsets); that variant is not needed at the current corpus shapes and
  * the group-keyed window keeps the whole operator in one exchange.
  */
object Packing {

  /** Adds `seq_id` (per-group packed sequence index) and `start_tok`
    * (token offset of the document inside its group's concatenation).
    * `orderCol` must be unique within a group for determinism. */
  def packSequences(df: DataFrame, orderCol: String, tokenCol: String,
      maxTokens: Long, groupCol: String): DataFrame = {
    require(maxTokens > 0, s"packSequences: maxTokens must be > 0")
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val start = sum(col(tokenCol)).over(w) - col(tokenCol)
    df.withColumn("start_tok", start.cast("long"))
      .withColumn("seq_id", floor(col("start_tok") / lit(maxTokens)))
  }

  /** Per-sequence rollup of a packed frame: document count, token sum,
    * and fill ratio against `maxTokens` (sequences overflow their nominal
    * size only by the tail of a boundary-crossing document, mirroring
    * how packed pretraining batches carry spill-over). */
  def packedStats(packed: DataFrame, tokenCol: String, maxTokens: Long,
      groupCol: String): DataFrame =
    packed.groupBy(col(groupCol), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokenCol)).cast("long").as("n_tokens"))
      .withColumn("fill",
        (col("n_tokens").cast("double") / lit(maxTokens.toDouble)))
}
