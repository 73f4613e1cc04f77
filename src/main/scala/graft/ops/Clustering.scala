package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed spherical k-means — trains the coarse centroids that
  * [[Similarity.ivfAssign]]/[[Similarity.ivfTopK]] probe. Lloyd iterations:
  * assign every vector to its highest-cosine centroid (centroid constants
  * folded into the generated code — a shuffle-free scan map, the
  * [[Similarity.ivfTopK]] cellScores pattern; deterministic id
  * tie-break), then recompute each centroid as the component-wise mean
  * of its members.
  *
  * Scale shape per iteration: ONE collect with ONE Exchange of its
  * own — assignment folded into the scan (never shuffles; the earlier
  * broadcast-join + per-vector window form exchanged k×|corpus| rows
  * per iteration), one (cell, dim) aggregate, and a k·dim-row collect.
  * A source with fewer splits than the default parallelism adds the
  * [[Partitioning.ensureMinPartitions]] round-robin Exchange, and
  * adaptive execution runs each Exchange as its own job: ProfileProbe
  * q130_semdedup at sf0.01 (a one-split source) lists three jobs per
  * step (1, 2 and 3 stages). The centroid table
  * is bounded driver state (the same class as the IVF/PQ literal
  * folds), so there is no growing lineage and nothing to checkpoint —
  * every step's plan restarts from the scan with the current
  * generation's centroids as codegen literals.
  *
  * Determinism contract (oracle-checkable): init = the k smallest-id
  * vectors; assignment ties break on centroid id; member sums are exact
  * decimal addition of double-widened components, so means are identical
  * in any engine at any partitioning.
  */
object Clustering {

  /** Driver-side mini spherical k-means over the CENTROIDS themselves —
    * the coarse quantizer of the two-level assignment (the IVF
    * coarse-quantizer trick). Deterministic: seeded by the `nGroups`
    * smallest-id centroids, cosine argmax with smallest-group tie-break,
    * plain double means. k is bounded driver state (same class as the
    * IVF/PQ literal folds), so ~5 passes over k·dim doubles is
    * microseconds next to one Spark job. Returns (superCentroid,
    * members) with empty groups dropped. */
  private[ops] def coarsen(cents: Seq[(Long, Array[Double])],
      nGroups: Int, iters: Int = 5)
      : Seq[(Array[Double], Seq[(Long, Array[Double])])] = {
    val sorted = cents.sortBy(_._1).toArray
    val dim = sorted.head._2.length
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var dp = 0.0; var na = 0.0; var nb = 0.0
      while (i < dim) {
        dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 0.0 else dp / den
    }
    val g = math.min(nGroups, sorted.length)
    var coarse: Array[Array[Double]] = sorted.take(g).map(_._2)
    def assignAll(): Array[Int] = sorted.map { case (_, v) =>
      var best = 0; var bc = -2.0
      var gi = 0
      while (gi < coarse.length) {
        val c0 = cos(v, coarse(gi))
        if (c0 > bc) { bc = c0; best = gi }
        gi += 1
      }
      best
    }
    for (_ <- 1 to iters) {
      val assign = assignAll()
      coarse = coarse.indices.map { gi =>
        val members = sorted.indices.filter(assign(_) == gi)
        if (members.isEmpty) coarse(gi)
        else {
          val m = new Array[Double](dim)
          members.foreach { mi =>
            val v = sorted(mi)._2
            var i = 0; while (i < dim) { m(i) += v(i); i += 1 }
          }
          var i = 0; while (i < dim) { m(i) /= members.length; i += 1 }
          m
        }
      }.toArray
    }
    val fin = assignAll()
    coarse.indices.flatMap { gi =>
      val members = sorted.indices.filter(fin(_) == gi)
        .map(sorted(_)).toSeq
      if (members.isEmpty) None else Some((coarse(gi), members))
    }
  }

  /** Adds `idOut` = id of the row's nearest centroid (highest cosine,
    * smallest-id tie-break) — and `cosOut` = that winning cosine, when
    * asked — as a shuffle-free scan map with the centroid constants
    * folded into the generated code.
    *
    * Below `spark.graft.kmeans.twoLevelAssignMinK` (default 128) the
    * argmax runs over ALL k centroids: exact, O(k·dim) per row, the
    * oracle-checked path. At or above it, assignment is TWO-LEVEL
    * (IVF coarse-quantizer shape): route through ⌈√k⌉ super-centroids
    * (coarse argmax), then argmax within the winning group's members —
    * O(√k·dim) per row instead of O(k·dim), which turns Lloyd's
    * O(n·k) per pass into O(n·√k) and removes the engine's last
    * super-linear plan term (k grows with the corpus under
    * [[Dedup.autoCellCount]], so O(n·k) is O(n²/targetCell)). The
    * two-level route is declared APPROXIMATE: a row whose true nearest
    * centroid lives outside its nearest super-centroid's group assigns
    * to the best member of the wrong group (standard IVF nprobe=1
    * semantics). The coarse pick lands in its own projection so the
    * group argmaxes reference it by attribute (evaluated once per row,
    * not once per branch). */
  private[ops] def withNearestCentroid(df: DataFrame, vecCol: String,
      cents: Seq[(Long, Array[Double])], idOut: String,
      cosOut: Option[String] = None): DataFrame = {
    require(cents.nonEmpty, "withNearestCentroid: empty centroid set")
    val twoLevelMinK = df.sparkSession.conf
      .getOption("spark.graft.kmeans.twoLevelAssignMinK")
      .map(_.toInt).getOrElse(128)
    val vec = col(vecCol)
    // one extraction helper for BOTH paths, so a future change to the
    // nid/cos unpacking cannot silently miss one of them
    def finish(src: DataFrame, nearest: org.apache.spark.sql.Column,
        extraDrops: String*): DataFrame = {
      val withS = src.withColumn("__near", nearest)
      val withId = withS.withColumn(idOut, -col("__near").getField("nid"))
      cosOut.fold(withId)(c =>
        withId.withColumn(c, col("__near").getField("c")))
        .drop("__near" +: extraDrops: _*)
    }
    if (cents.size < twoLevelMinK)
      finish(df, array_max(Similarity.cellScores(vec, cents)))
    else {
      val groups = coarsen(cents, math.ceil(math.sqrt(cents.size)).toInt)
      val coarse = array(groups.zipWithIndex.map { case ((gc, _), gi) =>
        struct(Similarity.cosine(vec, typedlit(gc)).as("c"),
          lit(-gi).as("nid"))
      }: _*)
      val gsel = df.withColumn("__grp",
        -array_max(coarse).getField("nid"))
      val nearest = groups.zipWithIndex
        .foldLeft(lit(null).cast("struct<c:double,nid:bigint>")) {
          case (acc, ((_, members), gi)) =>
            when(col("__grp") === gi,
              array_max(Similarity.cellScores(vec, members))).otherwise(acc)
        }
      finish(gsel, nearest, "__grp")
    }
  }

  /** Train `k` centroids with `iters` Lloyd iterations. Returns
    * (centroid_id, centroid) with `centroid` an array<double>. Cells that
    * lose all members keep their previous centroid. */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): DataFrame = {
    val centSeq = kmeansSeq(df, idCol, vecCol, k, iters)
    val spark = df.sparkSession
    import spark.implicits._
    centSeq.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("centroid_id", "centroid")
  }

  /** [[kmeans]] returning the centroid table as the bounded DRIVER state
    * it already is — callers that immediately fold the centroids back
    * into a scan ([[Dedup.semDeDupKMeans]]) skip a pointless
    * round-trip through a DataFrame + collect. */
  def kmeansSeq(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): Seq[(Long, Array[Double])] = {
    require(k > 0 && iters >= 0, "kmeans: k > 0, iters >= 0")
    // centroid ids are longs (they seed ivfAssign's tie-break); a string id
    // would cast to null and silently merge every cell into one group
    require(df.schema(idCol).dataType.isInstanceOf[
      org.apache.spark.sql.types.NumericType],
      s"kmeans: idCol '$idCol' must be numeric, got " +
        df.schema(idCol).dataType.simpleString)
    // the scan-fused assignment adds NO exchange, so a single-split
    // parquet scan would run the whole (cell, dim) aggregate's map side
    // on one or two cores — fix the parallelism up front (no-op when the
    // source is already parallel; measured 4x at the 100x rehearsal)
    // Persisted once per fit: every Lloyd step reads it, and without the
    // cache each step would re-read the source and re-run the round-robin
    // Exchange of a one-split source. Released when the fit returns.
    val data = Dedup.trackedPersist(Partitioning.ensureMinPartitions(
      df.select(col(idCol).as("__vid"),
        col(vecCol).cast("array<double>").as("__v"))))
    try {
      // The centroid table is k rows — bounded DRIVER state (the class the
      // IVF/PQ literal fold already puts it in), so the whole loop holds it
      // driver-side: each Lloyd step is one collect over the cached frame
      // with one Exchange of its own (assignment folded into the scan, one
      // (cell, dim) aggregate, k·dim rows collected), which adaptive
      // execution runs as a map-stage job and a result job.
      // No checkpoints and no growing lineage — every step's plan restarts
      // from the cached frame with this generation's centroids as literals.
      // deterministic seed: the k smallest-id vectors
      var centSeq: Seq[(Long, Array[Double])] = data.orderBy("__vid")
        .limit(k)
        .select(col("__vid").cast("long"), col("__v")).collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      for (_ <- 1 to iters) {
        val assigned =
          withNearestCentroid(data, "__v", centSeq, "centroid_id")
        // component-wise mean via exact decimal sums (partitioning-invariant).
        // ONE exchange per Lloyd step (r16, guide §2.4): the per-(cell, dim)
        // means — k·dim bounded rows, the driver-state class this loop
        // already lives in — collect directly and assemble into arrays
        // driver-side; the former second groupBy (collect_list + array_sort
        // per cell) was a second full shuffle per iteration for what is a
        // driver-side regroup of a few thousand rows. Values and positional
        // order are identical by construction (posexplode emits contiguous
        // 0-based positions, so filling by index = the old pos-sorted list).
        val meanRows = assigned
          .select(col("centroid_id"), posexplode(col("__v"))
            .as(Seq("pos", "x")))
          .groupBy("centroid_id", "pos")
          .agg((sum(col("x").cast("decimal(28,12)")).cast("double") /
            count(lit(1))).as("m"))
          .collect()
        val fresh: Map[Long, Array[Double]] = meanRows
          .groupBy(_.getLong(0))
          .map { case (cid, rs) =>
            val arr = new Array[Double](rs.map(_.getInt(1)).max + 1)
            rs.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
            cid -> arr
          }
        // empty cells keep their previous centroid
        centSeq = centSeq.map { case (cid, old) =>
          (cid, fresh.getOrElse(cid, old)) }
      }
      centSeq
    } finally Dedup.release(data)
  }

  /** Grouped k-means: ONE Lloyd iteration trains EVERY group's codebook
    * in a single corpus pass — assignment dispatches on the group column
    * inside the scan (all groups' centroid constants folded into the
    * generated code) and one (group, cell, dim) aggregate recomputes all
    * means. The caller's groups must share the id space (each id appears
    * once per group — the PQ subspace layout), so the seed for every
    * group is the global k smallest ids' vectors.
    *
    * Versus |groups| independent [[kmeans]] fits this is |groups|× fewer
    * corpus scans and jobs per iteration — the difference
    * between m passes and one pass over 100 TB per Lloyd step.
    * Returns (grpCol, centroid_id, centroid). */
  def kmeansGrouped(df: DataFrame, idCol: String, grpCol: String,
      vecCol: String, k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters >= 0, "kmeansGrouped: k > 0, iters >= 0")
    require(df.schema(idCol).dataType.isInstanceOf[
      org.apache.spark.sql.types.NumericType],
      s"kmeansGrouped: idCol '$idCol' must be numeric, got " +
        df.schema(idCol).dataType.simpleString)
    val data = Partitioning.ensureMinPartitions(
      df.select(col(grpCol).cast("int").as("__g"),
        col(idCol).as("__vid"),
        col(vecCol).cast("array<double>").as("__v")))
    // seed: the global k smallest ids' vectors, per group —
    // |groups|·k rows, the PQ-codebook driver-side class
    val seedIds = data.select(col("__vid")).distinct()
      .orderBy("__vid").limit(k)
    var cm: Map[Int, Seq[(Long, Array[Double])]] =
      data.join(broadcast(seedIds), Seq("__vid"))
        .select(col("__g"), col("__vid").cast("long"), col("__v"))
        .collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
        .groupBy(_._1).map { case (g, rows) =>
          g -> rows.map(t => (t._2, t._3)).sortBy(_._1)
        }
    // the per-group dispatch is a chained `when` whose codegen grows
    // linearly with |groups| — the right shape for PQ's m ≤ 16 subspaces
    // (each branch keeps its centroid dot products as codegen literals),
    // the wrong one past a few dozen groups. Fail loudly with the
    // remedy rather than compile a pathological expression.
    require(cm.size <= 64,
      s"kmeansGrouped: ${cm.size} groups — the fused single-pass form " +
        "folds one scoring branch per group into the generated code and " +
        "degrades past ~64 groups; call kmeans per group (or batch " +
        "groups across several kmeansGrouped calls) instead")
    for (_ <- 1 to iters) {
      val assign = cm.toSeq.sortBy(_._1).map { case (g, cs) =>
        (g, -array_max(Similarity.cellScores(col("__v"), cs))
          .getField("nid"))
      }.foldLeft(lit(null).cast("long")) { case (acc, (g, e)) =>
        when(col("__g") === g, e).otherwise(acc)
      }
      val assigned = data.withColumn("centroid_id", assign)
      // ONE exchange per Lloyd step (r16): collect the |groups|·k·dim
      // bounded (group, cell, dim) means and assemble arrays driver-side
      // — same rationale and identical values/order as kmeansSeq above
      val meanRows = assigned
        .select(col("__g"), col("centroid_id"),
          posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy("__g", "centroid_id", "pos")
        .agg((sum(col("x").cast("decimal(28,12)")).cast("double") /
          count(lit(1))).as("m"))
        .collect()
      val fresh: Map[(Int, Long), Array[Double]] = meanRows
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case (key, rs) =>
          val arr = new Array[Double](rs.map(_.getInt(2)).max + 1)
          rs.foreach(r => arr(r.getInt(2)) = r.getDouble(3))
          key -> arr
        }
      // empty cells keep their previous centroid
      cm = cm.map { case (g, cs) =>
        g -> cs.map { case (cid, old) =>
          (cid, fresh.getOrElse((g, cid), old)) }
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    cm.toSeq.sortBy(_._1).flatMap { case (g, cs) =>
      cs.map { case (cid, v) => (g, cid, v.toSeq) }
    }.toDF(grpCol, "centroid_id", "centroid")
  }
}
