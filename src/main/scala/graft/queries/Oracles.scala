package graft.queries

import graft.ops.Similarity

/** DuckDB SQL builders shared by the oracles of several query families:
  * each mirrors one engine primitive (tokens, shingles, hashes, LSH
  * buckets, cosine, k-means iterations) so every oracle replays it the
  * same way. */
private[queries] object Oracles {

  /** DuckDB mirror of TextFunctions.tokens. */
  val toksCte =
    "toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents)"

  /** DuckDB mirror of TextFunctions.shingles(k=3) + distinct. */
  val shingleCte =
    """sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
      |  FROM toks, UNNEST(range(1, len(t)-1)) AS u(i) WHERE len(t) >= 3)""".stripMargin

  /** DuckDB mirror of TextFunctions.tokenHash. */
  def sqlHash(e: String): String =
    s"(('0x'||substr(md5($e),1,15))::BIGINT % 2147483647)"

  /** DuckDB mirror of Similarity.hyperplaneBucket: the dot products are
    * explicit left-associated sums so double rounding matches FloatVecDot's
    * index-ordered accumulation bit-for-bit (the >= 0 sign test must agree
    * exactly between engines). */
  def hyperBucketSql(vecExpr: String, table: Int, nPlanes: Int,
      dim: Int): String =
    (0 until nPlanes).map { j =>
      val plane = Similarity.planeVector(table * 1000 + j, dim)
      val dot = plane.zipWithIndex.map { case (p, i) =>
        s"CAST($vecExpr[${i + 1}] AS DOUBLE)*($p)" }.mkString(" + ")
      s"(CASE WHEN $dot >= 0.0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n + ")

  /** (vec_id, t, bkt) rows for every embedding across `tables` LSH tables —
    * the DuckDB side of the multi-table hyperplane bucketing used by
    * Similarity.lshTopK and Dedup.embeddingNearDup. */
  def lshBucketsCte(tables: Int, nPlanes: Int, dim: Int): String =
    (0 until tables).map { t =>
      s"SELECT vec_id, $t AS t, ${hyperBucketSql("embedding", t, nPlanes, dim)} AS bkt FROM embeddings"
    }.mkString("\nUNION ALL\n")

  /** DuckDB double-precision cosine between two float lists, via unnested
    * positions (cosine gaps dwarf float-association noise; ties broken by
    * id in every ranked query). */
  def cosineCtes(pairsFrom: String): String =
    s"""d AS (SELECT ia, ib,
       |  SUM(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
       |  SUM(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)) AS na,
       |  SUM(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS nb
       |  FROM $pairsFrom, UNNEST(range(1, len(ea)+1)) AS u(i)
       |  GROUP BY ia, ib)""".stripMargin

  /** One unrolled Lloyd iteration for the q89 oracle: assignment by cosine
    * against `prev` centroids (id tie-break), decimal-exact component
    * means, empty cells keep the previous centroid. Emits CTEs named
    * `p$i s$i a$i m$i c$i`. */
  def kmeansIterCtes(i: Int, prev: String, data: String = "data",
      pfx: String = ""): String =
    s"""${pfx}p$i AS (SELECT d.vec_id, d.v, pc.cid, pc.c FROM $data d CROSS JOIN $prev pc),
       |${pfx}s$i AS (SELECT vec_id, cid,
       |  SUM(v[u.i]*c[u.i]) AS dot, SUM(v[u.i]*v[u.i]) AS nv,
       |  SUM(c[u.i]*c[u.i]) AS nc
       |  FROM ${pfx}p$i, UNNEST(range(1, len(v)+1)) u(i) GROUP BY vec_id, cid),
       |${pfx}a$i AS (SELECT vec_id, cid FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY CASE WHEN nv = 0 OR nc = 0 THEN 0.0
       |                  ELSE dot / (sqrt(nv) * sqrt(nc)) END DESC, cid) AS rn
       |  FROM ${pfx}s$i) WHERE rn = 1),
       |${pfx}m$i AS (SELECT ${pfx}a$i.cid, u.i AS pos,
       |  CAST(SUM(CAST(d.v[u.i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
       |  FROM ${pfx}a$i JOIN $data d USING (vec_id),
       |    UNNEST(range(1, len(d.v)+1)) u(i)
       |  GROUP BY ${pfx}a$i.cid, u.i),
       |${pfx}c$i AS (SELECT pc.cid, COALESCE(n.c, pc.c) AS c FROM $prev pc
       |  LEFT JOIN (SELECT cid, list(m ORDER BY pos) AS c FROM ${pfx}m$i
       |             GROUP BY cid) n USING (cid))""".stripMargin
}
