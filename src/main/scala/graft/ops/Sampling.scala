package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextFunctions.hash60

/** Deterministic hash-based sampling for training-data pipelines.
  *
  * `rand()`-based sampling is irreproducible across retries/engines and
  * unstable under repartitioning; hashing the row id is the 100 TB
  * technique: membership is a pure function of the id, so splits are
  * stable across runs, engines (md5-derived — DuckDB oracles verify),
  * task retries, and dataset growth (a row's split never changes).
  * Everything is a codegen'd Column expression evaluated at the scan —
  * zero shuffles.
  */
object Sampling {

  private val Buckets = 1000000L

  /** Uniform pseudo-random bucket in [0, 1e6) from the id column. */
  def hashBucket(id: Column, salt: String = ""): Column =
    hash60(concat(id.cast("string"), lit(salt))) % Buckets

  /** Keep at most `n` rows per key — the per-domain cap of web-corpus
    * curation (a handful of mega-domains otherwise dominate the
    * mixture). The kept subset is DETERMINISTIC: rows rank by the
    * md5-derived hash bucket of their id (+`salt`), id tie-break, so
    * reruns, task retries, and repartitioning keep the same rows, and
    * changing `salt` redraws the subset.
    *
    * Shape at 100 TB: ONE hash shuffle on the key for the per-key
    * window; the ranking value is scan-computed. A mega-key makes one
    * window partition long, but row_number streams (no per-partition
    * buffering), so the cost is that partition's scan, not memory. */
  def capPerKey(df: DataFrame, idCol: String, keyCol: String, n: Int,
      salt: String = ""): DataFrame = {
    require(n > 0, "capPerKey: n must be positive")
    require(!df.columns.contains("__cap_rn"),
      "capPerKey: input already carries a __cap_rn column — rename it " +
        "(the cap would silently overwrite and drop it)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(hashBucket(col(idCol), salt).asc, col(idCol).asc)
    df.withColumn("__cap_rn", row_number().over(w))
      .where(col("__cap_rn") <= n)
      .drop("__cap_rn")
  }

  /** Keep ~`fraction` of rows, deterministically by id. A null id has
    * no bucket and never survives. Fractions 1 and 0 decide every row
    * without hashing it: every bucket is below 10⁶ and none below 0,
    * so they keep exactly the non-null ids, or nothing. */
  def hashSample(df: DataFrame, idCol: String, fraction: Double,
      salt: String = ""): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    if (fraction == 1.0) df.where(col(idCol).isNotNull)
    else if (fraction == 0.0) df.where(lit(false))
    else df.where(hashBucket(col(idCol), salt) < (fraction * Buckets).toLong)
  }

  /** Token-budget source mixing — the data-mixture step of a pre-training
    * pipeline: sample each source down so the kept corpus totals
    * ~`tokenBudget` tokens split across sources by `shares` (normalized;
    * sources absent from `shares` are dropped). A source with fewer
    * tokens than its allocation keeps everything (fraction caps at 1;
    * the shortfall is NOT redistributed to other sources — deterministic
    * and documented; re-run with adjusted shares to rebalance).
    *
    * Shape: one aggregation for per-source token totals (tiny result,
    * collected — |sources| rows), then a scan-fused deterministic
    * hash-sample per row with its source's fraction. Two passes over the
    * corpus, zero joins, zero shuffles beyond the count agg. */
  def tokenBudgetMix(df: DataFrame, idCol: String, sourceCol: String,
      tokenCol: String, tokenBudget: Long, shares: Map[String, Double],
      salt: String = ""): DataFrame = {
    require(tokenBudget > 0, "tokenBudget must be positive")
    require(shares.nonEmpty && shares.values.forall(_ > 0),
      "shares must be positive")
    val norm = shares.values.sum
    val totals = sourceTotals(df, sourceCol, tokenCol)
    val fractions = shares.map { case (src, w) =>
      val alloc = tokenBudget.toDouble * (w / norm)
      val have = totals.getOrElse(src, 0L).toDouble
      src -> (if (have <= 0) 0.0 else math.min(1.0, alloc / have))
    }
    val cutoff = fractions.foldRight(lit(0L)) { case ((src, f), els) =>
      when(col(sourceCol) === src, lit((f * Buckets).toLong)).otherwise(els)
    }
    df.where(hashBucket(col(idCol), salt) < cutoff)
  }

  /** Per-source token totals: |sources| rows — the one driver-side
    * collect, same class as the IVF centroid table. Read type-tolerantly:
    * the source column may be non-string and sum() returns Long, Double,
    * or BigDecimal depending on the token column's type; null source
    * groups can't be mix keys and are skipped. */
  private def sourceTotals(df: DataFrame, sourceCol: String,
      tokenCol: String): Map[String, Long] =
    df.groupBy(col(sourceCol).as("__src"))
      .agg(sum(col(tokenCol)).as("__tok"))
      .collect()
      .flatMap { r =>
        (Option(r.get(0)), Option(r.get(1))) match {
          case (Some(src), Some(tok: Number)) =>
            Some(src.toString -> tok.longValue())
          case _ => None
        }
      }.toMap

  /** Temperature-based mixture sampling — the multilingual pre-training
    * `p_s ∝ n_s^α` rule (α < 1 flattens the source distribution,
    * up-weighting small sources; α = 1 is proportional, i.e. uniform
    * downsampling). Shares are DERIVED from the measured per-source
    * token totals raised to `alpha`; allocation then follows
    * `tokenBudgetMix`: fraction_s = min(1, budget·share_s / n_s), with
    * over-allocated small sources capped at keeping everything. Same
    * plan shape: one |sources|-row count agg + a scan-fused
    * deterministic hash-sample — two passes, zero joins. */
  def temperatureMix(df: DataFrame, idCol: String, sourceCol: String,
      tokenCol: String, tokenBudget: Long, alpha: Double,
      salt: String = ""): DataFrame = {
    require(tokenBudget > 0, "tokenBudget must be positive")
    require(alpha > 0 && alpha <= 1, s"alpha in (0, 1], got $alpha")
    val totals = sourceTotals(df, sourceCol, tokenCol)
      .filter(_._2 > 0)
    require(totals.nonEmpty, "temperatureMix: no sources with tokens")
    val pows = totals.map { case (s, n) =>
      s -> math.pow(n.toDouble, alpha) }
    val norm = pows.values.sum
    val fractions = pows.map { case (s, w) =>
      s -> math.min(1.0, tokenBudget.toDouble * (w / norm) /
        totals(s).toDouble)
    }
    val cutoff = fractions.foldRight(lit(0L)) { case ((src, f), els) =>
      when(col(sourceCol) === src, lit((f * Buckets).toLong)).otherwise(els)
    }
    df.where(hashBucket(col(idCol), salt) < cutoff)
  }

  /** Per-class sampling fractions (e.g. downsample dominant languages).
    * Classes absent from `fractions` keep `defaultFraction`. */
  def stratifiedHashSample(df: DataFrame, idCol: String, classCol: String,
      fractions: Map[String, Double], defaultFraction: Double = 1.0,
      salt: String = ""): DataFrame = {
    val cutoff = fractions.foldRight(
      lit((defaultFraction * Buckets).toLong)) { case ((cls, f), els) =>
      when(col(classCol) === cls, lit((f * Buckets).toLong)).otherwise(els)
    }
    df.where(hashBucket(col(idCol), salt) < cutoff)
  }

  /** Deterministic k-fold assignment: adds `foldCol` ∈ [0, k) as a pure
    * function of the id — cross-validation splits that are stable across
    * runs, engines, task retries, and dataset growth (a row never changes
    * fold). Scalar hash math in the scan, no shuffle. */
  def kFold(df: DataFrame, idCol: String, k: Int,
      foldCol: String = "fold", salt: String = ""): DataFrame = {
    require(k >= 2, s"kFold: k must be >= 2, got $k")
    df.withColumn(foldCol, (hashBucket(col(idCol), salt) % k).cast("int"))
  }

  /** Stable train/test split: returns (train, test); a row's side is a
    * pure function of its id and the salt. */
  def trainTestSplit(df: DataFrame, idCol: String, testFraction: Double,
      salt: String = "split"): (DataFrame, DataFrame) = {
    val isTest = hashBucket(col(idCol), salt) < (testFraction * Buckets).toLong
    (df.where(!isTest), df.where(isTest))
  }

  /** Leakage-preventing train/test split: rows connected by a near-dup
    * `pairs` graph ((id_a, id_b) edges, e.g. from
    * [[Dedup.minhashLshPairs]]) always land on the SAME side — the split
    * hashes each row's duplicate-cluster representative
    * ([[Dedup.duplicateClusters]] component, own id for singletons)
    * instead of the row id. Without this, a near-duplicate of a training
    * document sitting in the eval split silently inflates benchmarks.
    * One left join against the (small) component table on top of the
    * cluster propagation; the split itself stays a scan-fused predicate. */
  def clusterAwareSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      testFraction: Double, salt: String = "split")
      : (DataFrame, DataFrame) = {
    // the cluster table joins in under reserved internal names so a user
    // column called "component"/"__rep" can never collide or be picked up
    val repCol = "__graft_cluster_rep"
    require(!df.columns.contains(repCol),
      s"clusterAwareSplit: input already has reserved column $repCol")
    val comps = Dedup.duplicateClusters(pairs)
      .select(col("id").as(idCol), col("component").as(repCol))
    val withRep = df.join(comps, Seq(idCol), "left_outer")
      .withColumn(repCol, coalesce(col(repCol), col(idCol)))
    val isTest =
      hashBucket(col(repCol), salt) < (testFraction * Buckets).toLong
    (withRep.where(!isTest).drop(repCol),
      withRep.where(isTest).drop(repCol))
  }
}
