package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Johnson–Lindenstrauss random projection to `outDim` dimensions —
  * the zero-fit distance-preserving reduction used ahead of ANN
  * indexing / clustering when [[Pca]]'s fit pass is not worth a job:
  * pairwise distances survive within ε for outDim ≳ 8·ln(n)/ε², and
  * Achlioptas (2003) shows a ±1 sign matrix suffices (no gaussians
  * needed), which keeps the whole projection exact integer-sign
  * arithmetic over the input floats.
  *
  * The matrix is DETERMINISTIC — md5("jl&lt;seed&gt;-j-i") parity, the
  * [[graft.functions.VectorKernels.planeVector]] recipe — and the driver
  * folds it to codegen literals exactly like the k-means centroids:
  * projection is ONE scan-fused expression per output coordinate, no
  * fit job, no shuffle, no stored model, and any engine (or the DuckDB
  * oracle) regenerates the identical matrix from the seed.
  */
object RandomProjection {

  /** Row j of the ±1 sign matrix (before the 1/√outDim scale). */
  private[graft] def signRow(seed: Int, j: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl$seed-$j-$i".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }

  /** Project `vecCol` (array&lt;float|double&gt;, length `dim`) to
    * `outCol` (array&lt;double&gt;, length `outDim`): out_j =
    * (1/√outDim) · Σ_i sign(seed,j,i) · v_i. Index-ordered left-fold
    * accumulation (`aggregate` over `zip_with`), so the oracle's
    * explicit sums reproduce it bit-for-bit at sane magnitudes. */
  def project(df: DataFrame, vecCol: String, outCol: String,
      outDim: Int, dim: Int, seed: Int = 0): DataFrame = {
    require(outDim >= 1 && dim >= 1,
      s"RandomProjection: outDim/dim must be positive, got $outDim/$dim")
    val x = col(vecCol).cast("array<double>")
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    // ONE native plan node for the outDim×dim sign projection (r16):
    // same index-ordered fold + trailing `* scale` arithmetic as the
    // per-coordinate aggregate(zip_with) form, without its outDim·dim
    // interpreted lambdas per row — the Pca.project rationale
    val rows = (0 until outDim).map(j => signRow(seed, j, dim).toSeq)
    df.withColumn(outCol, graft.functions.VectorFunctions
      .vec_mat_project(x, None, rows,
        Some(Seq.fill(outDim)(scale))))
  }
}
