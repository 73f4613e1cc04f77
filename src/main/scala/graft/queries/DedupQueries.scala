package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextFunctions, Multimodal}

import Fixtures._
import Oracles._

/** Deduplication: exact, n-gram, MinHash, SimHash, fuzzy, embedding and
  * media near-dups, cluster resolution and the persisted-store
  * incremental variants. */
private[queries] object DedupQueries {

  /** The WITH-body through `bands(doc_id, band, sig)` — the ONE SQL
    * mirror of Dedup.minhashSignatures+bandFrame (permutation
    * constants live here and in Dedup only); q19/q50/q225/q228 all
    * build on it. */
  private def minhashBandsCtes(numPerms: Int, bands: Int): String = {
    val rows = numPerms / bands
    val minExprs = (0 until numPerms).map { i =>
      s"MIN((h * ${2 * i + 3} + ${i.toLong * i + 1}) % 2147483647) AS mh$i"
    }.mkString(", ")
    val bandSelects = (0 until bands).map { b =>
      val cols = (0 until rows).map(r => s"mh${b * rows + r}::VARCHAR")
      s"SELECT doc_id, $b AS band, concat_ws(',', ${cols.mkString(", ")}) AS sig FROM sigs"
    }.mkString("\nUNION ALL\n")
    s"""$toksCte,
       |$shingleCte,
       |h AS (SELECT doc_id, ${sqlHash("sh")} AS h FROM sh),
       |sigs AS (SELECT doc_id, $minExprs FROM h GROUP BY doc_id),
       |bands AS ($bandSelects)""".stripMargin
  }

  /** MinHash-LSH oracle generated from the same constants as
    * Dedup.minhashLshPairs (a_i=2i+3, b_i=i^2+1, M=2^31-1). */
  private def minhashOracle(numPerms: Int, bands: Int): String =
    s"""WITH ${minhashBandsCtes(numPerms, bands)}
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB mirror of TextFunctions.simhash(bits): raw 60-bit md5 token
    * hash reduced mod 2^bits, per-bit signed votes, positive bits set.
    * Expects `toks` in scope; yields CTEs ending in sim(doc_id, simhash). */
  private def simhashCtes(bits: Int): String =
    s"""tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |hh AS (SELECT doc_id,
       |  ('0x'||substr(md5(tok),1,15))::BIGINT % (1::BIGINT << $bits) AS h FROM tok),
       |votes AS (
       |  SELECT doc_id, j, SUM(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM hh, UNNEST(range(0, $bits)) AS u(j) GROUP BY doc_id, j),
       |sim AS (SELECT doc_id,
       |  CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id)""".stripMargin

  /** The q225 keep-best replay (recursive-CTE components + per-cluster
    * window), shared verbatim by q252: the incremental resolve must
    * produce EXACTLY the one-shot resolution of the full corpus. */
  private def keepBestOracle: String =
    s"""WITH RECURSIVE p AS (
       |${minhashOracle(12, 4)}
       |),
       |und AS (SELECT id_a AS a, id_b AS b FROM p
       |        UNION SELECT id_b, id_a FROM p),
       |reach(a, b) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
       |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS component
       |         FROM reach GROUP BY a),
       |lab AS (
       |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
       |    d.n_chars
       |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
       |r AS (
       |  SELECT doc_id, component,
       |    count(*) OVER (PARTITION BY component) AS cluster_size,
       |    row_number() OVER (PARTITION BY component
       |      ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM lab)
       |SELECT doc_id, component, cluster_size FROM r WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

  val all: Seq[Q] = Seq(

    // incremental-ingest near-dup: the incoming shard (doc_id >= 200)
    // dedups against the existing corpus (doc_id < 200) on the shared
    // minhash band join — delta×corpus candidates only, never
    // corpus×corpus
    Q("q228_incremental_neardup", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.minhashLshPairsBetween(
        docs.where(col("doc_id") >= 200), docs.where(col("doc_id") < 200),
        "doc_id", "text", k = 3, numPerms = 12, bands = 4)
        .orderBy("new_id", "ref_id")
    },
    // the q19/q50 minhash machinery with the self-join's id ordering
    // replaced by the frame split (new >= 200 vs ref < 200)
    oracle = s"""WITH ${minhashBandsCtes(12, 4)}
         |SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id
         |FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         |WHERE a.doc_id >= 200 AND b.doc_id < 200
         |ORDER BY new_id, ref_id""".stripMargin),

    // incremental ingest with a PERSISTED signature store: the ref
    // corpus's band signatures are written once (partitioned by band,
    // the IVF-store pattern) and each delta batch joins against the
    // SAVED frame — per-batch cost scales with the delta, never a ref
    // recompute; must produce exactly q228's pairs (same oracle)
    Q("q230_incremental_precomputed", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val store = scratchDir("graft-bandstore").toString
      storeWrite(Dedup.minhashBandSignatures(
        docs.where(col("doc_id") < 200),
        "doc_id", "text", k = 3, numPerms = 12, bands = 4),
        "band", store)
      Dedup.minhashLshPairsBetweenPrecomputed(
        docs.where(col("doc_id") >= 200), s.read.parquet(store),
        "doc_id", "text", k = 3, numPerms = 12, bands = 4)
        .orderBy("new_id", "ref_id")
    },
    // the signature-store path must produce exactly the recompute
    // path's pairs — same oracle as q228
    oracle = s"""WITH ${minhashBandsCtes(12, 4)}
         |SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id
         |FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
         |WHERE a.doc_id >= 200 AND b.doc_id < 200
         |ORDER BY new_id, ref_id""".stripMargin),

    // minhash signature-agreement similarity estimate: threshold
    // near-dups WITHOUT re-touching pair texts — est_jaccard =
    // (#equal coordinates)/numPerms over the band-join candidates
    Q("q233_minhash_estimate", run = (s, dir) =>
      Dedup.minhashJaccardEstimate(tbl(s, dir, "documents"),
        "doc_id", "text", k = 3, numPerms = 12, bands = 4)
        .orderBy("id_a", "id_b"),
      // the q19 band-join candidates, then the per-coordinate agreement
      // count against the signature CTE — an independent estimate replay
      oracle = {
        val eq = (0 until 12).map(i =>
          s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH ${minhashBandsCtes(12, 4)},
           |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands a JOIN bands b
           |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
           |SELECT p.id_a, p.id_b,
           |  CAST(CAST(($eq) / 12.0 AS DECIMAL(18,9)) AS DOUBLE)
           |    AS est_jaccard
           |FROM p JOIN sigs sa ON sa.doc_id = p.id_a
           |JOIN sigs sb ON sb.doc_id = p.id_b
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // incremental cluster maintenance: batch-2 pairs fold into the
    // batch-1 labeling by contracted label propagation (delta pairs +
    // touched prior components only — untouched components never
    // shuffle); the result must equal the full recompute over ALL
    // pairs, so the oracle is q50's recursive-CTE components on the
    // whole corpus
    Q("q245_merge_clusters", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      // persisted: prior and delta filters below both consume this one
      // pair frame — one LSH band join instead of two
      val all = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 12, 4)
        .persist()
      val prior = Dedup.duplicateClusters(
        all.where(col("id_a") < 250 && col("id_b") < 250))
      Dedup.mergeClusters(prior,
        all.where(col("id_a") >= 250 || col("id_b") >= 250))
        .orderBy("id")
    },
    // the merge must equal the FULL recompute: q50's recursive-CTE
    // connected components over the complete pair set (both batches)
    oracle = s"""WITH RECURSIVE p AS (
         |${minhashOracle(12, 4)}
         |),
         |und AS (SELECT id_a AS a, id_b AS b FROM p
         |        UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM und
         |  UNION
         |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
         |SELECT a AS id, LEAST(a, MIN(b)) AS component
         |FROM reach GROUP BY a ORDER BY id""".stripMargin),

    // MinHash + LSH candidate pairs (12 perms, 4 bands)
    Q("q19_dedup_minhash", run = (s, dir) =>
      Dedup.minhashLshPairs(tbl(s, dir, "documents"), "doc_id", "text",
        k = 3, numPerms = 12, bands = 4)
        .orderBy("id_a", "id_b"),
      oracle = minhashOracle(12, 4)),

    // leakage-preventing split: near-dup clusters (MinHash-LSH graph)
    // always land on one side — the split hashes the cluster representative
    Q("q93_cluster_split", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 3, numPerms = 12, bands = 4)
      val (train, test) = graft.ops.Sampling.clusterAwareSplit(
        docs, "doc_id", pairs, testFraction = 0.3)
      train.select(col("doc_id"), lit("train").as("side"))
        .unionByName(test.select(col("doc_id"), lit("test").as("side")))
        .orderBy("doc_id")
    }, oracle = s"""WITH RECURSIVE p AS (
         |${minhashOracle(12, 4)}
         |),
         |und AS (SELECT id_a AS a, id_b AS b FROM p
         |        UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM und
         |  UNION
         |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
         |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS component
         |         FROM reach GROUP BY a),
         |rep AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS r
         |        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
         |SELECT doc_id,
         |  CASE WHEN ('0x'||substr(md5(r::VARCHAR || 'split'),1,15))::BIGINT
         |         % 1000000 < 300000
         |       THEN 'test' ELSE 'train' END AS side
         |FROM rep ORDER BY doc_id""".stripMargin),

    // dedup survivor selection: connected components over the MinHash-LSH
    // near-dup pair graph (hash-min label propagation)
    Q("q50_dedup_clusters", run = (s, dir) =>
      Dedup.duplicateClusters(
        Dedup.minhashLshPairs(tbl(s, dir, "documents"), "doc_id", "text",
          k = 3, numPerms = 12, bands = 4))
        .orderBy("id"),
      // transitive closure over the same pair set the engine's label
      // propagation converges on; component = min id reachable
      oracle = s"""WITH RECURSIVE p AS (
         |${minhashOracle(12, 4)}
         |),
         |und AS (SELECT id_a AS a, id_b AS b FROM p
         |        UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM und
         |  UNION
         |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
         |SELECT a AS id, LEAST(a, MIN(b)) AS component
         |FROM reach GROUP BY a ORDER BY id""".stripMargin),

    // incremental simhash ingest with a PERSISTED chunk store: the ref
    // corpus's (simhash, chunk, key) rows are written once and the
    // delta joins the SAVED frame — even the hamming verify reads the
    // store's fingerprint column, never ref text. Pigeonhole blocking
    // is COMPLETE within the radius, so the oracle is brute hamming
    Q("q246_simhash_store_neardup", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val store = scratchDir("graft-simstore").toString
      storeWrite(Dedup.simhashChunkSignatures(
        docs.where(col("doc_id") < 200),
        "doc_id", "text", bits = 60, maxHamming = 3), "chunk", store)
      Dedup.simhashNearDupBetweenPrecomputed(
        docs.where(col("doc_id") >= 200), s.read.parquet(store),
        "doc_id", "text", bits = 60, maxHamming = 3)
        .orderBy("new_id", "ref_id")
    },
    // brute hamming over the fingerprints, directional (new >= 200 vs
    // ref < 200) — pigeonhole chunk blocking is complete within the
    // radius, so the store path must match the exhaustive join
    oracle = s"""WITH $toksCte,
         |${simhashCtes(60)}
         |SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id
         |FROM sim a JOIN sim b
         |  ON a.doc_id >= 200 AND b.doc_id < 200
         | AND bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY new_id, ref_id""".stripMargin),

    // SimHash fingerprints (16-bit here; q32 exercises the 60-bit width)
    Q("q20_simhash", run = (s, dir) =>
      TextFunctions.simhash(tbl(s, dir, "documents"), "doc_id", "text", 16)
        .orderBy("doc_id"),
      oracle = s"""WITH $toksCte,
         |${simhashCtes(16)}
         |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin),

    // SimHash near-dup pairs (60-bit fingerprints, 15-bit chunk-band join,
    // hamming verify before the distinct exchange)
    Q("q32_simhash_neardup", run = (s, dir) =>
      Dedup.simhashNearDup(tbl(s, dir, "documents"), "doc_id", "text",
        bits = 60, maxHamming = 3)
        .orderBy("id_a", "id_b"),
      oracle = {
        // direct O(n^2)-over-fingerprints oracle; the engine's chunk-band
        // plan must produce exactly the same pair set
        s"""WITH $toksCte,
           |${simhashCtes(60)}
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // cluster RESOLUTION: the retention policy over q50's duplicate
    // clusters — keep the best-quality (longest, tie-break min id) doc
    // per cluster instead of the arbitrary min-id representative;
    // singletons survive as their own component
    Q("q225_dedup_keep_best", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val clusters = Dedup.duplicateClusters(
        Dedup.minhashLshPairs(docs, "doc_id", "text",
          k = 3, numPerms = 12, bands = 4))
      Dedup.resolveClusters(docs, clusters, "doc_id", "n_chars")
        .select("doc_id", "component", "cluster_size")
        .orderBy("doc_id")
    },
    // the q50 component recursion, then argmax quality per component
    // (n_chars DESC, doc_id ASC) with unclustered docs as singletons
    oracle = keepBestOracle),

    // INCREMENTAL keep-best resolve: batch-2 pairs fold into the
    // batch-1 labeling (q245's mergeClusters), then ONLY the changed
    // components re-elect survivors — untouched prior survivors pass
    // through, new singletons ride in — and the result must equal the
    // one-shot q225 keep-best over the full corpus (SHARED oracle)
    Q("q252_resolve_incremental", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      // persisted: the fixture splits this ONE pair frame into prior
      // and delta halves consumed by four downstream stages — without
      // the persist each stage re-runs the LSH band join
      val all = Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 3, numPerms = 12, bands = 4).persist()
      val priorPairs = all.where(col("id_a") < 250 && col("id_b") < 250)
      val deltaPairs = all.where(col("id_a") >= 250 || col("id_b") >= 250)
      val priorLabels = Dedup.duplicateClusters(priorPairs)
      val priorResolved = Dedup.resolveClusters(
        docs.where(col("doc_id") < 250), priorLabels,
        "doc_id", "n_chars")
      val newLabels = Dedup.mergeClusters(priorLabels, deltaPairs)
      Dedup.resolveClustersIncremental(docs,
        docs.where(col("doc_id") >= 250), priorResolved, priorLabels,
        newLabels, "doc_id", "n_chars")
        .select("doc_id", "component", "cluster_size")
        .orderBy("doc_id")
    },
    // the incremental resolve must equal the one-shot keep-best over
    // the full corpus — SAME oracle text as q225 (shared helper)
    oracle = keepBestOracle),

    // SemDeDup (arXiv:2303.09540) on the paper's own clustering: spherical
    // k-means cells (k stays 0 = the corpus-adaptive default,
    // Dedup.autoCellCount: k = ceil(corpus/1000)), then within-cell
    // cosine dedup — a row drops when an earlier same-cell row is >= 0.3
    // similar. The oracle recomputes k from count(*) and unrolls the same
    // five Lloyd iterations (q89's CTE machinery: deterministic
    // smallest-id seed, decimal-exact means, id tie-breaks), so the
    // checked run is the auto-sized production path that also completes
    // the 100x rehearsal; the fixed-label semDeDup variant stays
    // spec-pinned in OpsSpec
    // rev 2, r10: fixed-label semDeDup -> full semDeDupKMeans(auto k)
    Q("q130_semdedup", rev = 2, run = (s, dir) =>
      graft.ops.Dedup.semDeDupKMeans(tbl(s, dir, "embeddings"), "vec_id",
        "embedding", eps = 0.3)
        .select(col("vec_id"))
        .orderBy("vec_id"),
      // auto-sized SemDeDup reproduced end-to-end: k = Dedup.autoCellCount
      // recomputed from count(*), five unrolled Lloyd iterations (the q89
      // CTE machinery — smallest-id seed, decimal-exact means, cosine
      // assignment with id tie-break, empty cells keep their centroid), a
      // sixth assignment block against the FINAL centroids (m6/c6 unused),
      // then the within-cell earlier-row cosine drop rule
      oracle = s"""WITH data AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |kk AS (SELECT GREATEST(1, CAST(ceil(count(*) / 1000.0) AS INT))
         |  AS k FROM data),
         |c0 AS (
         |  SELECT CAST(r.vec_id AS BIGINT) AS cid, r.v AS c
         |  FROM (SELECT vec_id, v,
         |          row_number() OVER (ORDER BY vec_id) AS rn FROM data) r,
         |    kk
         |  WHERE r.rn <= kk.k),
         |${kmeansIterCtes(1, "c0")},
         |${kmeansIterCtes(2, "c1")},
         |${kmeansIterCtes(3, "c2")},
         |${kmeansIterCtes(4, "c3")},
         |${kmeansIterCtes(5, "c4")},
         |${kmeansIterCtes(6, "c5")},
         |p AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib,
         |         x.embedding AS ea, y.embedding AS eb
         |  FROM a6 a JOIN a6 b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  JOIN embeddings x ON x.vec_id = a.vec_id
         |  JOIN embeddings y ON y.vec_id = b.vec_id),
         |${cosineCtes("p")}
         |SELECT vec_id FROM data
         |WHERE vec_id NOT IN (
         |  SELECT ib FROM d WHERE dot / (sqrt(na) * sqrt(nb)) >= 0.3)
         |ORDER BY vec_id""".stripMargin),

    // exact substring (n-gram window) dedup per Lee et al. 2021: a shared
    // sentence is injected into every 4th doc; 5-token windows occurring
    // in >= 2 docs are flagged and their token positions removed
    Q("q137_dup_spans", run = (s, dir) => {
      val framed = tbl(s, dir, "documents").where(col("doc_id") < 300)
        .withColumn("text", when(col("doc_id") % 4 === 0,
          concat(col("text"),
            lit(" shared span alpha beta gamma delta epsilon closing")))
          .otherwise(col("text")))
      graft.ops.Dedup.duplicateSpans(framed, "doc_id", "text", n = 5)
        .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
          col("clean"))
        .orderBy("doc_id")
    }, oracle = """WITH d AS (
        |  SELECT doc_id, CASE WHEN doc_id % 4 = 0
        |    THEN text || ' shared span alpha beta gamma delta epsilon closing'
        |    ELSE text END AS t
        |  FROM documents WHERE doc_id < 300),
        |tk AS (SELECT doc_id,
        |  list_filter(string_split(t, ' '), x -> x <> '') AS toks FROM d),
        |tok AS (SELECT doc_id, unnest(toks) AS tok,
        |  generate_subscripts(toks, 1) AS pos FROM tk),
        |g AS (
        |  SELECT doc_id, i AS pos, array_to_string(toks[i:i+4], chr(1)) AS gram
        |  FROM tk, UNNEST(range(1, len(toks) - 3)) AS u(i)),
        |dup AS (SELECT gram FROM g GROUP BY gram
        |  HAVING COUNT(DISTINCT doc_id) >= 2),
        |hit AS (SELECT doc_id, pos FROM g
        |  WHERE gram IN (SELECT gram FROM dup)),
        |cov AS (SELECT DISTINCT doc_id, pos + o AS pos
        |  FROM hit, UNNEST(range(0, 5)) AS v(o)),
        |j AS (SELECT tok.doc_id, tok.pos, tok.tok,
        |    cov.doc_id IS NOT NULL AS c
        |  FROM tok LEFT JOIN cov
        |    ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos)
        |SELECT doc_id,
        |  COUNT(*) AS n_tokens,
        |  CAST(COALESCE(SUM(CASE WHEN c THEN 1 ELSE 0 END), 0) AS BIGINT)
        |    AS dup_tokens,
        |  COALESCE(string_agg(CASE WHEN NOT c THEN tok END, ' '
        |    ORDER BY pos), '') AS clean
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // cross-document boilerplate line removal (CCNet-style): lines in
    // > maxDocFreq docs drop; one explode + line-keyed count + semi-join
    // + ordered reassembly — injected header/footer lines must vanish
    Q("q129_boilerplate", run = (s, dir) => {
      val framed = tbl(s, dir, "documents").where(col("doc_id") < 250)
        .withColumn("text", concat(
          lit("hdr "), (col("doc_id") % 5).cast("string"), lit("\n"),
          col("text"), lit("\ncommon footer")))
      graft.ops.Dedup.removeBoilerplateLines(
        framed, "doc_id", "text", maxDocFreq = 10)
        .select(col("doc_id"), col("clean"))
        .orderBy("doc_id")
    }, oracle = """WITH d AS (
        |  SELECT doc_id, 'hdr ' || (doc_id % 5) || chr(10) || text
        |    || chr(10) || 'common footer' AS t
        |  FROM documents WHERE doc_id < 250),
        |l AS (
        |  SELECT doc_id, z.pos AS pos, z.line AS line FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, len(string_split(t, chr(10))) + 1),
        |      i -> struct_pack(pos := i,
        |        line := string_split(t, chr(10))[i]))) AS z
        |    FROM d)),
        |rare AS (
        |  SELECT line FROM (
        |    SELECT line, COUNT(DISTINCT doc_id) AS df FROM l GROUP BY 1)
        |  WHERE df <= 10),
        |k AS (SELECT doc_id, pos, line FROM l
        |  WHERE line IN (SELECT line FROM rare)),
        |o AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean
        |  FROM k GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(o.clean, '') AS clean
        |FROM d LEFT JOIN o USING (doc_id) ORDER BY doc_id""".stripMargin),

    // URL canonicalization dedup: trivially-distinct spellings of one
    // resource (tracking/session params, param ORDER, case-varied
    // host, default port, fragment, www., trailing slash) collide on
    // the normalized key — one scan-fused regex/array chain + the
    // one-shuffle exact dedup. Variants 5-7 stay distinct: a different
    // param value, a kept `ref` param (meaningful, NOT a tracker), a
    // different host.
    Q("q227_url_dedup", run = (s, dir) => {
      val pre = Seq(
        "https://Example.com/p", "https://example.com/p",
        "https://example.com:443/p", "https://www.example.com/p",
        "https://example.com/p", "https://example.com/p",
        "https://example.com/p", "https://other.org/p")
      val suf = Seq(
        "/b?utm_source=x&id=7&z=2", "/b?z=2&id=7", "/b?id=7&z=2#frag",
        "/b/?id=7&z=2", "/b?jsessionid=A9F3&id=7&z=2", "/b?id=8&z=2",
        "/b?ref=main&id=7&z=2", "/c")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 360)
        .withColumn("url", concat(
          element_at(typedlit(pre), (col("doc_id") % 8 + 1).cast("int")),
          (col("doc_id") / 8).cast("long").cast("string"),
          element_at(typedlit(suf), (col("doc_id") % 8 + 1).cast("int"))))
        .withColumn("url_canonical",
          TextFunctions.normalizeUrl(col("url")))
      Dedup.exact(df, Seq("url_canonical"), "doc_id")
        .orderBy("doc_id")
    },
    // the oracle runs the IDENTICAL normalization chain in RE2 (the
    // Spark regexes deliberately avoid lookaround for this) — an
    // independent re-implementation, then min-id per canonical key
    oracle = """WITH u AS (SELECT doc_id,
        |  CASE doc_id % 8
        |    WHEN 0 THEN 'https://Example.com/p' || (doc_id // 8)
        |      || '/b?utm_source=x&id=7&z=2'
        |    WHEN 1 THEN 'https://example.com/p' || (doc_id // 8)
        |      || '/b?z=2&id=7'
        |    WHEN 2 THEN 'https://example.com:443/p' || (doc_id // 8)
        |      || '/b?id=7&z=2#frag'
        |    WHEN 3 THEN 'https://www.example.com/p' || (doc_id // 8)
        |      || '/b/?id=7&z=2'
        |    WHEN 4 THEN 'https://example.com/p' || (doc_id // 8)
        |      || '/b?jsessionid=A9F3&id=7&z=2'
        |    WHEN 5 THEN 'https://example.com/p' || (doc_id // 8)
        |      || '/b?id=8&z=2'
        |    WHEN 6 THEN 'https://example.com/p' || (doc_id // 8)
        |      || '/b?ref=main&id=7&z=2'
        |    ELSE 'https://other.org/p' || (doc_id // 8) || '/c'
        |  END AS url
        |  FROM documents WHERE doc_id < 360),
        |s1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS u
        |  FROM u),
        |sp AS (SELECT doc_id, regexp_extract(u, '^([^?]*)', 1) AS p,
        |  regexp_replace(u, '^[^?]*', '') AS q FROM s1),
        |s2a AS (SELECT doc_id, p, regexp_replace(regexp_replace(
        |  regexp_replace(regexp_replace(q,
        |    '([?&])(?i:utm_[a-z0-9_]+|fbclid|gclid|jsessionid|phpsessid)=[^&]*',
        |    '\1', 'g'), '&&+', '&', 'g'), '^\?&', '?'), '[?&]$', '')
        |  AS q FROM sp),
        |s2 AS (SELECT doc_id, p,
        |  CASE WHEN qb = '' THEN '' ELSE '?' ||
        |    array_to_string(list_sort(string_split(qb, '&')), '&') END
        |  AS q
        |  FROM (SELECT doc_id, p, regexp_replace(q, '^\?', '') AS qb
        |        FROM s2a)),
        |s3 AS (SELECT doc_id, regexp_replace(p, '/+$', '') AS p, q
        |  FROM s2),
        |s4 AS (SELECT doc_id,
        |  lower(regexp_extract(p,
        |    '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)) ||
        |  regexp_replace(p, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '')
        |  AS p, q FROM s3),
        |s5 AS (SELECT doc_id, regexp_replace(regexp_replace(p,
        |  '^(http://[^/?#]*):80([/?#]|$)', '\1\2'),
        |  '^(https://[^/?#]*):443([/?#]|$)', '\1\2') AS p, q FROM s4),
        |s6 AS (SELECT doc_id,
        |  regexp_replace(p, '^(https?://)www\.', '\1') || q AS u
        |  FROM s5)
        |SELECT u AS url_canonical, min(doc_id) AS doc_id,
        |  count(*) AS n_copies
        |FROM s6 GROUP BY u ORDER BY doc_id""".stripMargin),

    // incremental FUZZY dedup: the day's shard (doc_id >= 177, a
    // split that cuts through a variant group) fuzzy-matches against
    // the accumulated corpus on the directional PassJoin — ref
    // segments indexed once, delta substrings probe them; oracle is
    // the brute-force cross levenshtein, so blocking recall is proven
    // complete across the frames
    Q("q241_incremental_fuzzy", run = (s, dir) => {
      val suf = Seq("-alpha", "-alphA", "-alpha7", "-alph", "-beta",
        "-gamma")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 360)
        .withColumn("code", concat(lit("prod"),
          (col("doc_id") / 6).cast("long").cast("string"),
          element_at(typedlit(suf), (col("doc_id") % 6 + 1).cast("int"))))
      Dedup.editDistancePairsBetween(
        df.where(col("doc_id") >= 177), df.where(col("doc_id") < 177),
        "doc_id", "code", maxDist = 1)
        .orderBy("new_id", "ref_id")
    },
    // brute-force cross levenshtein ground truth (proves the
    // directional blocking recall-complete)
    oracle = """WITH u AS (SELECT doc_id,
        |  'prod' || (doc_id // 6) ||
        |  CASE doc_id % 6 WHEN 0 THEN '-alpha' WHEN 1 THEN '-alphA'
        |    WHEN 2 THEN '-alpha7' WHEN 3 THEN '-alph' WHEN 4 THEN '-beta'
        |    ELSE '-gamma' END AS code
        |  FROM documents WHERE doc_id < 360)
        |SELECT a.doc_id AS new_id, b.doc_id AS ref_id
        |FROM u a JOIN u b ON a.doc_id >= 177 AND b.doc_id < 177
        |WHERE abs(len(a.code) - len(b.code)) <= 1
        |  AND levenshtein(a.code, b.code) <= 1
        |ORDER BY new_id, ref_id""".stripMargin),

    // incremental fuzzy ingest with a PERSISTED segment store: the ref
    // corpus's PassJoin segments (+ ridden strings — the store is
    // self-sufficient, ref text never re-read) are written once
    // partitioned by segment index, and the delta probes the SAVED
    // frame — must produce exactly q241's pairs (same oracle)
    Q("q255_fuzzy_store", run = (s, dir) => {
      val suf = Seq("-alpha", "-alphA", "-alpha7", "-alph", "-beta",
        "-gamma")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 360)
        .withColumn("code", concat(lit("prod"),
          (col("doc_id") / 6).cast("long").cast("string"),
          element_at(typedlit(suf), (col("doc_id") % 6 + 1).cast("int"))))
      val store = scratchDir("graft-edstore").toString
      storeWrite(Dedup.editDistanceSegmentStore(
        df.where(col("doc_id") < 177), "doc_id", "code", maxDist = 1),
        "k", store)
      Dedup.editDistancePairsBetweenPrecomputed(
        df.where(col("doc_id") >= 177), s.read.parquet(store),
        "doc_id", "code", maxDist = 1)
        .orderBy("new_id", "ref_id")
    },
    // the store path replays q241's pairs from saved segments — SAME
    // oracle (shared helper would hide the q241 text; it is one string)
    oracle = """WITH u AS (SELECT doc_id,
        |  'prod' || (doc_id // 6) ||
        |  CASE doc_id % 6 WHEN 0 THEN '-alpha' WHEN 1 THEN '-alphA'
        |    WHEN 2 THEN '-alpha7' WHEN 3 THEN '-alph' WHEN 4 THEN '-beta'
        |    ELSE '-gamma' END AS code
        |  FROM documents WHERE doc_id < 360)
        |SELECT a.doc_id AS new_id, b.doc_id AS ref_id
        |FROM u a JOIN u b ON a.doc_id >= 177 AND b.doc_id < 177
        |WHERE abs(len(a.code) - len(b.code)) <= 1
        |  AND levenshtein(a.code, b.code) <= 1
        |ORDER BY new_id, ref_id""".stripMargin),

    // the one-call crawl preset verified END-TO-END: raw (url, html)
    // pages through extraction, canonical-URL first-fetch dedup,
    // language + quality gates, and content dedup — the oracle
    // replays every stage (the q227 URL chain, the q235 HTML chain,
    // the q25 scores, the q26 quality formula, both dedup windows)
    // incremental embedding ingest with a PERSISTED bucket store: the
    // ref corpus's hyperplane buckets are written once (partitioned by
    // table — the q230 store pattern applied to vectors) and the delta
    // batch joins the SAVED frame; the ref side is never re-HASHED —
    // its vectors only join back by id for the exact-cosine verify
    Q("q244_embed_store_neardup", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val store = scratchDir("graft-vecstore").toString
      storeWrite(Dedup.vectorBucketSignatures(
        e.where(col("vec_id") < 400),
        "vec_id", "embedding", blockTables = 4, blockPlanes = 8,
        dim = 64), "t", store)
      Dedup.embeddingNearDupBetweenPrecomputed(
        e.where(col("vec_id") >= 400), s.read.parquet(store),
        e.where(col("vec_id") < 400), "vec_id", "embedding",
        threshold = 0.3, blockTables = 4, blockPlanes = 8, dim = 64)
        .orderBy("new_id", "ref_id")
    },
    // every stage replayed: URL chain (q227), HTML chain (q235),
    // first-fetch window, marker scores (q25), quality formula (q26),
    // content-dedup window (q174) — assembled end-to-end
    // pinned 8-plane/4-table buckets replayed with literal plane
    // constants (the q22/q24 machinery), candidates split new >= 400
    // vs ref < 400, exact-cosine verify — the store path must produce
    // exactly what a from-scratch cross-frame run produces
    oracle = s"""WITH raw AS (
         |${lshBucketsCte(4, 8, 64)}),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         |  FROM raw a JOIN raw b
         |    ON a.t = b.t AND a.bkt = b.bkt
         |   AND a.vec_id >= 400 AND b.vec_id < 400),
         |p AS (
         |  SELECT ia, ib, x.embedding AS ea, y.embedding AS eb FROM cand
         |  JOIN embeddings x ON x.vec_id = ia
         |  JOIN embeddings y ON y.vec_id = ib),
         |${cosineCtes("p")}
         |SELECT ia AS new_id, ib AS ref_id FROM d
         |WHERE dot / (sqrt(na) * sqrt(nb)) >= 0.3
         |ORDER BY new_id, ref_id""".stripMargin),

    // perceptual-hash image near-dup: deterministic 9x7 BMPs (REAL
    // ImageIO decode, not the stub) where ids >= 100 perturb one pixel
    // of their id-100 sibling — dHash flips at most two gradient bits,
    // the pigeonhole-banded hamming join finds the planted pairs; the
    // oracle replays the hash from the shared pixel formula
    Q("q247_media_phash_neardup", run = (s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").where(col("doc_id") < 200)
        .select("doc_id").as[Long]
        .map(id => (id, Multimodal.fixtureBmp(id)))
        .toDF("media_id", "content")
      Multimodal.mediaNearDup(media, maxHamming = 3)
        .orderBy("id_a", "id_b")
    },
    // the dHash replayed from the pixel formula: 9x7 grayscale cells
    // map 1:1 onto the 8x7 gradient grid, and r=g=b makes the
    // luminance compare monotonic in the formula value — so the
    // oracle never decodes an image, it rebuilds the 56-bit hash with
    // integer sums and brute-joins on hamming
    oracle = """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
        |px AS (
        |  SELECT doc_id, u.x, w.y,
    |    CASE WHEN doc_id >= 100
        |           AND u.x = (doc_id % 100) % 9
        |           AND w.y = (doc_id % 100) % 7
        |      THEN (((doc_id % 100)*31
        |             + u.x*(17 + (doc_id % 100) % 13 * 29)
        |             + w.y*13) % 251 + 3) % 251
        |      ELSE ((doc_id % 100)*31
        |            + u.x*(17 + (doc_id % 100) % 13 * 29)
        |            + w.y*13) % 251 END AS v
        |  FROM d, UNNEST(range(0, 9)) u(x), UNNEST(range(0, 7)) w(y)),
        |bits AS (
        |  SELECT a.doc_id, (a.y * 8 + a.x) AS j,
        |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM px a JOIN px b
        |    ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8),
        |ph AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN bit = 1
        |      THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS BIGINT)
        |      AS phash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    // incremental MEDIA ingest with a PERSISTED chunk store (the q246
    // simhash-store story for images, where DECODE is the expensive
    // step): the ref corpus's perceptual hashes are decoded + chunked
    // ONCE into the store, and the delta batch (ids 200-299, one-pixel
    // perturbations of bases 0-99) decodes only itself — the verify
    // reads the store's fingerprint column, never ref pixels
    Q("q250_media_store_neardup", run = (s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").where(col("doc_id") < 300)
        .select("doc_id").as[Long]
        .map(id => (id, Multimodal.fixtureBmp(id)))
        .toDF("media_id", "content")
      val store = scratchDir("graft-mediastore").toString
      storeWrite(Multimodal.mediaChunkSignatures(
        media.where(col("media_id") < 200), maxHamming = 3),
        "chunk", store)
      Multimodal.mediaNearDupBetween(
        media.where(col("media_id") >= 200), s.read.parquet(store),
        maxHamming = 3)
        .orderBy("new_id", "ref_id")
    },
    // the q247 pixel-formula hash replay extended to the delta ids,
    // then brute DIRECTIONAL hamming (new >= 200 vs ref < 200) —
    // pigeonhole chunk blocking is complete within the radius, so the
    // store path must match the exhaustive join
    oracle = """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 300),
        |px AS (
        |  SELECT doc_id, u.x, w.y,
        |    CASE WHEN doc_id >= 100
        |           AND u.x = (doc_id % 100) % 9
        |           AND w.y = (doc_id % 100) % 7
        |      THEN (((doc_id % 100)*31
        |             + u.x*(17 + (doc_id % 100) % 13 * 29)
        |             + w.y*13) % 251 + 3) % 251
        |      ELSE ((doc_id % 100)*31
        |            + u.x*(17 + (doc_id % 100) % 13 * 29)
        |            + w.y*13) % 251 END AS v
        |  FROM d, UNNEST(range(0, 9)) u(x), UNNEST(range(0, 7)) w(y)),
        |bits AS (
        |  SELECT a.doc_id, (a.y * 8 + a.x) AS j,
        |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM px a JOIN px b
        |    ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8),
        |ph AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN bit = 1
        |      THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS BIGINT)
        |      AS phash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS new_id, b.doc_id AS ref_id,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM ph a JOIN ph b ON a.doc_id >= 200 AND b.doc_id < 200
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |ORDER BY new_id, ref_id""".stripMargin),

    // WITHIN-doc repeated-line removal: nav menus/headers repeated in
    // one page keep only their first occurrence; empty separator lines
    // survive — zero shuffle, pure scan-local array algebra
    Q("q239_line_dedup_in_doc", run = (s, dir) =>
      tbl(s, dir, "documents")
        .withColumn("mtext", concat_ws("\n",
          lit("site navigation menu"), col("text"),
          lit("site navigation menu"), lit(""),
          lit("site navigation menu"), col("text"), lit("footer line")))
        .select(col("doc_id"),
          TextFunctions.dedupLinesInDoc(col("mtext")).as("clean"))
        .orderBy("doc_id"),
      // DuckDB's 1-based index lambda replays the prefix check exactly
      oracle = """WITH d AS (SELECT doc_id,
        |  'site navigation menu' || chr(10) || text || chr(10) ||
        |  'site navigation menu' || chr(10) || '' || chr(10) ||
        |  'site navigation menu' || chr(10) || text || chr(10) ||
        |  'footer line' AS mtext
        |  FROM documents)
        |SELECT doc_id, array_to_string(list_filter(
        |  string_split(mtext, chr(10)),
        |  (x, i) -> x = '' OR NOT list_contains(
        |    string_split(mtext, chr(10))[1:i-1], x)), chr(10)) AS clean
        |FROM d ORDER BY doc_id""".stripMargin),

    // cross-document paragraph dedup (RefinedWeb-style): the shared
    // footer survives only in its first corpus occurrence, rotating
    // boilerplate in the first doc of each residue class, unique prose
    // everywhere — min-(id, pos) winner per md5(paragraph), docs
    // reassemble in order
    Q("q236_paragraph_dedup", run = (s, dir) => {
      val rot = Seq("follow us on social media",
        "all rights reserved worldwide", "contact support for help")
      val df = tbl(s, dir, "documents")
        .withColumn("mtext", concat_ws("\n\n", col("text"),
          lit("subscribe to our newsletter today"),
          element_at(typedlit(rot), (col("doc_id") % 3 + 1).cast("int"))))
      Dedup.paragraphDedup(df, "doc_id", "mtext", sep = "\n\n")
        .orderBy("doc_id")
    },
    // paragraph-granularity replay: 1-based unnest with position,
    // min-(doc, pos) winner per md5(paragraph), ordered reassembly
    oracle = """WITH d AS (SELECT doc_id,
        |  text || chr(10) || chr(10) ||
        |  'subscribe to our newsletter today' || chr(10) || chr(10) ||
        |  CASE doc_id % 3 WHEN 0 THEN 'follow us on social media'
        |    WHEN 1 THEN 'all rights reserved worldwide'
        |    ELSE 'contact support for help' END AS mtext
        |  FROM documents),
        |sp AS (SELECT doc_id,
        |  string_split(mtext, chr(10) || chr(10)) AS parts FROM d),
        |p AS (SELECT doc_id, i AS pos, parts[i] AS para
        |  FROM sp, UNNEST(range(1, len(parts) + 1)) AS u(i)
        |  WHERE trim(parts[i]) <> ''),
        |k AS (SELECT doc_id, pos, para, row_number() OVER (
        |    PARTITION BY md5(para) ORDER BY doc_id, pos) AS rk FROM p)
        |SELECT doc_id,
        |  string_agg(para, chr(10) || chr(10) ORDER BY pos) AS clean,
        |  CAST(COUNT(*) AS BIGINT) AS n_kept
        |FROM k WHERE rk = 1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // edit-distance (character-level) fuzzy dedup on short code fields
    // via PassJoin segment blocking — typo/insert/delete variants of
    // one product code meet within distance 1; the oracle is the
    // BRUTE-FORCE levenshtein ground truth, so this also proves the
    // blocking recall-complete on real data
    Q("q229_fuzzy_dedup", run = (s, dir) => {
      val suf = Seq("-alpha", "-alphA", "-alpha7", "-alph", "-beta",
        "-gamma")
      val df = tbl(s, dir, "documents").where(col("doc_id") < 360)
        .withColumn("code", concat(lit("prod"),
          (col("doc_id") / 6).cast("long").cast("string"),
          element_at(typedlit(suf), (col("doc_id") % 6 + 1).cast("int"))))
      Dedup.editDistancePairs(df, "doc_id", "code", maxDist = 1)
        .orderBy("id_a", "id_b")
    },
    // brute-force levenshtein over all id-ordered pairs (the length
    // prefilter only skips pairs the distance bound already excludes)
    oracle = """WITH u AS (SELECT doc_id,
        |  'prod' || (doc_id // 6) ||
        |  CASE doc_id % 6 WHEN 0 THEN '-alpha' WHEN 1 THEN '-alphA'
        |    WHEN 2 THEN '-alpha7' WHEN 3 THEN '-alph' WHEN 4 THEN '-beta'
        |    ELSE '-gamma' END AS code
        |  FROM documents WHERE doc_id < 360)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM u a JOIN u b ON a.doc_id < b.doc_id
        |WHERE abs(len(a.code) - len(b.code)) <= 1
        |  AND levenshtein(a.code, b.code) <= 1
        |ORDER BY id_a, id_b""".stripMargin),

    // exact dedup (hash-groupBy); dups synthesized by unioning a shifted copy
    Q("q17_dedup_exact", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      val copies = docs.where(col("doc_id") < 100)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      Dedup.exact(docs.unionByName(copies), Seq("text"), "doc_id")
        .select("doc_id", "n_copies").orderBy("doc_id")
    }, oracle = """SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 100
        |) GROUP BY text ORDER BY doc_id""".stripMargin),

    // n-gram (3-shingle) Jaccard near-dup pairs
    Q("q18_dedup_jaccard", run = (s, dir) =>
      Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), "doc_id", "text",
        k = 3, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      oracle = s"""WITH $toksCte,
         |$shingleCte,
         |shh0 AS (SELECT doc_id, ${sqlHash("sh")} AS sh FROM sh),
         |-- the engine's AUTO stop-shingle cap: max(1000, n_docs/1000);
         |-- shingles above the doc-frequency cap are dropped BEFORE sizes
         |-- and pairs, mirroring ngramJaccardPairs exactly
         |kept AS (SELECT sh FROM shh0 GROUP BY sh
         |  HAVING COUNT(*) <= greatest(1000,
         |    (SELECT COUNT(*) // 1000 FROM documents))),
         |shh AS (SELECT shh0.doc_id, shh0.sh FROM shh0 JOIN kept USING (sh)),
         |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
         |  FROM shh a JOIN shh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b,
         |       CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
         |FROM pairs
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin),

    // positional rolling-hash document fingerprint
    Q("q21_fingerprint", run = (s, dir) =>
      TextFunctions.fingerprint(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      oracle = s"""WITH $toksCte,
         |tok AS (SELECT doc_id, i, t[i] AS tok FROM toks, UNNEST(range(1, len(t)+1)) AS u(i))
         |SELECT doc_id,
         |  CAST(SUM((${sqlHash("tok")} * i) % 2147483647) % 2147483647 AS BIGINT) AS fingerprint
         |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // embedding cosine near-duplicate pairs (default path: multi-table
    // hyperplane LSH blocking + exact cosine verify — sub-quadratic).
    // blockPlanes stays 0 = the corpus-adaptive default
    // (Dedup.autoBlockPlanes: clamp(ceil(log2(corpus/100)), 4, 24)) — the
    // oracle recomputes the SAME parameter from count(*) and masks a
    // 24-plane bucket to it (bit j of the bucket depends only on plane j,
    // so the p-plane bucket is the 24-plane bucket mod 2^p), making the
    // checked run the auto-sized production path that also completes the
    // 100x rehearsal; the explicit-planes pin lives in OpsSpec
    // rev 2, r10: fixed 12-plane embeddingNearDup -> auto-sized planes
    Q("q22_embed_neardup", rev = 2, run = (s, dir) =>
      Dedup.embeddingNearDup(tbl(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.3, dim = 64)
        .orderBy("id_a", "id_b"),
      // the auto-sized run reproduced exactly: np = Dedup.autoBlockPlanes
      // recomputed from count(*) in INTEGER arithmetic (bit length of
      // ceil(cells)-1 == ceil(log2(cells)) — the divide+ceil are exact
      // IEEE ops, while a floating log2 could flip by an ulp between
      // libm implementations at exact powers of two), +1 skew-headroom
      // plane, and the p-plane bucket recovered from a full 24-plane
      // bucket by masking — plane j's constants depend only on
      // (table, j), so bit j is the same at any plane count and
      // bkt_p = bkt_24 & (2^p - 1)
      oracle = s"""WITH pl AS (
         |  SELECT LEAST(24, GREATEST(4,
         |    CASE WHEN cc <= 1 THEN 0
         |         ELSE length(bin(cc - 1)) END + 1)) AS np
         |  FROM (SELECT GREATEST(1,
         |      CAST(ceil(count(*) / 100.0) AS BIGINT)) AS cc
         |    FROM embeddings)),
         |raw AS (
         |${lshBucketsCte(4, 24, 64)}),
         |bkts AS (
         |  SELECT vec_id, t, raw.bkt & ((CAST(1 AS BIGINT) << pl.np) - 1)
         |    AS bkt
         |  FROM raw, pl),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         |  FROM bkts a JOIN bkts b
         |    ON a.t = b.t AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
         |p AS (
         |  SELECT ia, ib, x.embedding AS ea, y.embedding AS eb FROM cand
         |  JOIN embeddings x ON x.vec_id = ia
         |  JOIN embeddings y ON y.vec_id = ib),
         |${cosineCtes("p")}
         |SELECT ia AS id_a, ib AS id_b FROM d
         |WHERE dot / (sqrt(na) * sqrt(nb)) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin),

    // MinHash signature table (the LSH input, verified directly)
    Q("q33_minhash_sig", run = (s, dir) =>
      Dedup.minhashSignatures(tbl(s, dir, "documents"), "doc_id", "text",
        k = 3, numPerms = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
      oracle = {
        val minExprs = (0 until 4).map { i =>
          s"CAST(MIN((h * ${2 * i + 3} + ${i.toLong * i + 1}) % 2147483647) AS BIGINT) AS mh$i"
        }.mkString(", ")
        s"""WITH $toksCte,
           |$shingleCte,
           |h AS (SELECT doc_id, ${sqlHash("sh")} AS h FROM sh)
           |SELECT doc_id, $minExprs FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // distributed spherical k-means (trains the IVF coarse centroids):
    // broadcast-join assignment + decimal-exact component means, 2 Lloyd
    // iterations, checkpoint-truncated lineage
    Q("q89_kmeans", run = (s, dir) =>
      graft.ops.Clustering.kmeans(tbl(s, dir, "embeddings"), "vec_id",
        "embedding", k = 8, iters = 2)
        .select(col("centroid_id"),
          // stringified as integer nano-units: driver comparator can't
          // hash arrays, and decimal→string risks sci-notation for tiny
          // values; floor(x*1e9+0.5) is the engine-agnostic rounding
          concat_ws(",", transform(col("centroid"),
            x => floor(x * 1e9 + 0.5).cast("long").cast("string")))
            .as("centroid"))
        .orderBy("centroid_id"),
      oracle = s"""WITH data AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, v AS c FROM data
         |  ORDER BY vec_id LIMIT 8),
         |${kmeansIterCtes(1, "c0")},
         |${kmeansIterCtes(2, "c1")}
         |SELECT cid AS centroid_id,
         |  array_to_string(list_transform(c, x ->
         |    CAST(CAST(floor(x * 1e9 + 0.5) AS BIGINT) AS VARCHAR)), ',')
         |    AS centroid
         |FROM c2 ORDER BY cid""".stripMargin),
  )
}
