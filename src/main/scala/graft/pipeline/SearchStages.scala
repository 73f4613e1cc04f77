package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.TextFunctions
import graft.query.QueryCompiler
import PipelineCompiler.{TableResolver, compile, dbl, doc, expr2col, int,
  pipelineSeq, scaleGuard}

/** Ranked retrieval as aggregation stages: Atlas `$search`/`$searchMeta`,
  * `$vectorSearch`, and the Mongo 8.1 scoring stages `$rankFusion`,
  * `$score` and `$scoreFusion`. The module owns Atlas search compilation
  * (operator leaves, compound, facets, pagination, highlights) and the
  * score carriers later stages read through `{$meta}`: `__searchScore`
  * (every ranked stage's score) and `__scoreDetails` (the fusion
  * breakdown), beside `$search`'s own `__searchScoreDetails`,
  * `__searchHighlights`, `__searchSequenceToken` and `__search_meta`.
  * The math it shares with the ops layer is spelled once there: the BM25
  * term weight ([[graft.ops.TextSearch.bm25Weight]]) and the RRF term
  * ([[graft.ops.Hybrid.rrfTerm]]). */
private[pipeline] object SearchStages {

  /** The stage names [[stage]] compiles. */
  val names: Set[String] = Set("$search", "$searchMeta", "$vectorSearch",
    "$rankFusion", "$score", "$scoreFusion")

  def stage(df: DataFrame, name: String, spec: Any,
      tables: TableResolver): DataFrame = name match {
    case "$search" | "$searchMeta" => search(df, name, spec, tables)
    case "$vectorSearch" => vectorSearch(df, spec)
    case "$rankFusion" => rankFusion(df, spec, tables)
    case "$score" => score(df, spec)
    case "$scoreFusion" => scoreFusion(df, spec, tables)
  }

  /** An analyzer's document tokens and query terms — always taken as a
    * pair, so query terms meet index terms. Unknown names fall back to
    * whitespace splitting (`$search` validates names up front). */
  private def analyzer(an: String)
      : (Column => Column, String => Seq[String]) = an match {
    case "lucene.standard" =>
      (TextFunctions.standardTokens _, TextFunctions.standardTerms _)
    case "lucene.keyword" => (array(_), Seq(_))
    case a if TextFunctions.LanguageAnalyzers.contains(a) =>
      TextFunctions.LanguageAnalyzers(a)
    case _ => (TextFunctions.tokens _,
      _.split("\\s+").filter(_.nonEmpty).toSeq)
  }

  /** A Lucene glob as an anchored regex: `*` any run, `?` one char,
    * everything else literal. */
  private def globRx(glob: String): String =
    "^" + glob.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
      case c => c.toString
    } + "$"

  /** A `compound` operator's clauses — must, mustNot, should, filter,
    * compiled in that order by `clause(key, operator, spec)` — and its
    * minimumShouldMatch; `where` leads the errors. */
  private def compoundClauses[A](os: Map[String, Any], where: String)(
      clause: (String, String, Any) => A)
      : (Seq[A], Seq[A], Seq[A], Seq[A], Int) = {
    val unknown = os.keySet --
      Set("must", "mustNot", "should", "filter", "minimumShouldMatch")
    require(unknown.isEmpty, s"$where: unsupported option(s) $unknown")
    def legs(key: String): Seq[A] =
      os.get(key).map {
        case s: Seq[_] => s
        case one => Seq(one) // single clause, no array wrapper
      }.getOrElse(Nil).map { e =>
        val m = doc(e)
        require(m.size == 1, s"$where.$key: one operator per clause")
        clause(key, m.head._1, m.head._2)
      }
    val must = legs("must"); val mustNot = legs("mustNot")
    val should = legs("should"); val fil = legs("filter")
    require(must.nonEmpty || mustNot.nonEmpty ||
      should.nonEmpty || fil.nonEmpty, s"$where: no clauses")
    (must, mustNot, should, fil,
      os.get("minimumShouldMatch").map(int).getOrElse(0))
  }

  /** Lucene's compound over compiled (match, score) clauses: must and
    * filter clauses must hit and mustNot clauses miss; should clauses
    * are optional beside must/filter, but when they are the only
    * scoring/matching clauses at least one has to hit (at least
    * `msm`, when set). Score = must + the hitting should clauses;
    * filter and mustNot score 0. */
  private def combine(must: Seq[(Column, Column)],
      mustNot: Seq[(Column, Column)], should: Seq[(Column, Column)],
      fil: Seq[(Column, Column)], msm: Int): (Column, Column) = {
    val shouldHits = should.map(_._1.cast("int"))
      .reduceOption(_ + _).getOrElse(lit(0))
    val basePred =
      (must.map(_._1) ++ fil.map(_._1) ++ mustNot.map(l => !l._1))
        .reduceOption(_ && _).getOrElse(lit(true))
    val shouldPred =
      if (msm > 0) shouldHits >= msm
      else if (must.isEmpty && fil.isEmpty && should.nonEmpty)
        shouldHits >= 1
      else lit(true)
    val score =
      (must.map(_._2) ++
        should.map(l => when(l._1, l._2).otherwise(lit(0.0))))
        .reduceOption(_ + _).getOrElse(lit(0.0))
    (basePred && shouldPred, score)
  }

  private def vectorSearch(df: DataFrame, spec: Any): DataFrame = {
    // Atlas-style vector search as a pipeline stage: cosine similarity
    // of `path` against a literal query vector, top-`limit` rows.
    // The query vector folds into codegen (native FloatVecDot), so the
    // scan streams once with no join at all — the 100 TB plan is a
    // TakeOrderedAndProject over the scan. `numCandidates` is accepted
    // for API parity (this stage is exact, a superset of the ANN
    // contract); `tieBreak` (extension) names a column that makes the
    // limit boundary deterministic; `scoreField` (extension) keeps the
    // cosine score in the output.
    val d = doc(spec)
    val path = d("path").toString
    val qv = d("queryVector") match {
      case s: Seq[_] => s.map {
        case n: Number => n.doubleValue()
        case other =>
          throw new IllegalArgumentException(s"$$vectorSearch: $other")
      }.toArray
      case other =>
        throw new IllegalArgumentException(s"$$vectorSearch queryVector: $other")
    }
    val limit = int(d.getOrElse("limit",
      throw new IllegalArgumentException("$vectorSearch requires limit")))
    // Atlas pre-filter: an MQL match document applied BEFORE the
    // ranking, so the predicate pushes into the scan
    val base = d.get("filter") match {
      case Some(f: Map[_, _]) =>
        df.where(QueryCompiler.compile(doc(f)))
      case Some(other) =>
        throw new IllegalArgumentException(
          s"$$vectorSearch filter must be a match document: $other")
      case None => df
    }
    val score = graft.ops.Similarity.cosine(col(path), typedlit(qv))
    def tied(frame: DataFrame, key: Column): DataFrame =
      d.get("tieBreak") match {
        case Some(t) => frame.orderBy(key, col(t.toString).asc)
        case None    => frame.orderBy(key)
      }
    // Atlas index-level `quantization`, surfaced on the stage since
    // this engine has no separate index definition: "scalar" scores
    // the int8 codes' cosine directly (per-vector scales cancel in
    // cosine — Quantize.quantizeInt8 on the scan, the query
    // quantized at compile time), "binary" runs the
    // hamming-shortlist + exact-rescore flow (numCandidates = the
    // shortlist size, Atlas's own reading of it). Both stay
    // join-free: TakeOrderedAndProject over the scan.
    val quant = d.get("quantization").map(_.toString).getOrElse("none")
    val ordered = quant match {
      case "none" => tied(base, score.desc)
      case "scalar" =>
        val qmax = qv.map(math.abs).max
        val qscale = if (qmax > 0) qmax / 127.0 else 1.0
        val qCodes = qv.map(x => math.floor(x / qscale + 0.5))
        val cCodes = graft.ops.Quantize
          .int8Codes(col(path)).cast("array<double>")
        val qScore = graft.ops.Similarity.cosine(
          cCodes, typedlit(qCodes))
        tied(base, qScore.desc)
      case "binary" =>
        // the hamming shortlist cuts at an INTEGER distance, so ties
        // at the numCandidates boundary are common — without a total
        // order the rescored set (and thus the final top-k) would
        // depend on partitioning. Require the caller's tie-break
        // column rather than guessing an id (the stage has no
        // schema knowledge; binaryAnnTopK ties on neighbor_id the
        // same way).
        if (d.get("tieBreak").isEmpty)
          throw new IllegalArgumentException(
            "$vectorSearch: quantization \"binary\" requires " +
              "tieBreak (a unique column) — the hamming shortlist " +
              "cut is an integer distance whose boundary ties would " +
              "otherwise make the rescored set nondeterministic")
        val dim = qv.length
        val numCand = d.get("numCandidates").map(int)
          .getOrElse(limit * 4)
        require(numCand >= limit,
          s"$$vectorSearch: numCandidates $numCand < limit $limit")
        val words = (dim + 31) / 32
        val qSig = Array.tabulate(words) { w =>
          var acc = 0L
          val len = math.min(32, dim - w * 32)
          var j = 0
          while (j < len) {
            if (qv(w * 32 + j) > 0) acc |= (1L << j); j += 1
          }
          acc
        }
        val ham = graft.ops.Quantize.hammingDistance(
          graft.ops.Quantize.binarySignature(col(path), dim),
          lit(qSig))
        tied(tied(base, ham.asc).limit(numCand), score.desc)
      case other => throw new IllegalArgumentException(
        s"$$vectorSearch.quantization: $other (none/scalar/binary)")
    }
    // the score also rides the shared carrier so a later
    // {$meta: "vectorSearchScore"} (Atlas spelling) can read it
    val limited = ordered.limit(limit)
      .withColumn("__searchScore", score)
    d.get("scoreField") match {
      case Some(f) => limited.withColumn(f.toString, score)
      case None    => limited
    }
  }

  private def search(df: DataFrame, name: String, spec: Any,
      tables: TableResolver): DataFrame = {
    // Atlas-style search (reference pass-through db/wrapper.go:88-94):
    // `text` (BM25 with ops/TextSearch's term weight, summed as
    // scan-fused per-row math so every input column passes through),
    // `phrase`
    // (exact substring, score = occurrence count), `wildcard` (glob →
    // anchored regex, constant score), `autocomplete` (token-prefix
    // match, constant score), structured `equals`/`range`/`exists`/
    // `in` (constant score), and `compound` (must/mustNot/should/
    // filter over any of the above; score = must + matching should,
    // filter and mustNot score 0, Lucene-style). Leaves accept
    // {score: {boost|constant}}; $searchMeta adds the `facet`
    // collector.
    // Corpus stats (N, avgdl, per-term df — per text leg) are ONE
    // broadcast row computed in-plan — the only exchange besides the
    // relevance ordering, which collapses to TakeOrderedAndProject
    // under a following $limit. Match predicates read only the row's
    // own tokens, so $searchMeta and compound structure never force
    // the stats scan. The score is exposed to later stages through
    // {$meta: "searchScore"}.
    // accepted-and-ignored options (no columnar counterpart, and
    // ignoring them never changes results): `index` (no named indexes
    // over parquet), `tracking` (Atlas analytics telemetry),
    // `concurrent` (intra-segment parallelism — Spark's task
    // parallelism is always on), `returnStoredSource` (no separate
    // stored source; the scan IS the source)
    val d0 = doc(spec) - "index" - "tracking" - "concurrent" -
      "returnStoredSource"
    // Atlas `sort` option: order results by stored fields (and/or the
    // score via {$meta}) instead of pure relevance
    val sortOpt = d0.get("sort").map(doc)
    // Atlas `searchAfter` keyset pagination: resume strictly after
    // the sort position a {$meta: "searchSequenceToken"} projection
    // produced. Tokens encode the sort-key VALUES (base64 JSON, in
    // sort order), so paging is deterministic with no overlap or gap
    // as long as the sort is total — include a unique field (Atlas
    // pages on its internal _id the same way)
    val searchAfterOpt = d0.get("searchAfter").map(_.toString)
    require(searchAfterOpt.isEmpty || sortOpt.isDefined,
      s"$name.searchAfter requires sort (the token is a position " +
        "in that ordering)")
    // Atlas `highlight` option: per-match passages exposed through
    // {$meta: "searchHighlights"}. Columnar form (documented
    // simplification): one passage per matching ANALYZED TOKEN of the
    // highlight path — {path, texts: [pre "text", hit "hit", post
    // "text"], score 1.0} with a ±2-token context window, capped at
    // maxNumPassages (Atlas default 5). Terms come from the text/
    // phrase legs naming the same path; pure array lambda algebra in
    // the scan.
    val highlightOpt = d0.get("highlight").map(doc)
    // Atlas `count` option: match-count metadata exposed to later
    // stages as $$SEARCH_META.count.total (one extra count aggregate
    // over the matched set, broadcast as a 1-row frame). `lowerBound`
    // returns the exact total too — a columnar engine has no cheaper
    // partial count (documented).
    val countOpt = d0.get("count").map(doc)
    countOpt.foreach { c =>
      val t = c.getOrElse("type", "lowerBound").toString
      require(Set("total", "lowerBound")(t),
        s"$name.count.type: $t (total/lowerBound)")
    }
    // Atlas `analyzer`/`searchAnalyzer` selection: the engine has no
    // separate index definition, so the analyzer rides the stage
    // (index-level default) and `path: {value, multi}` (per-leg
    // multi-analyzer override). Unknown analyzers are rejected loudly
    // instead of silently falling back to the default.
    val knownAnalyzers =
      Set("lucene.whitespace", "lucene.standard", "lucene.keyword") ++
        TextFunctions.LanguageAnalyzers.keySet
    val stageAnalyzer = d0.get("analyzer")
      .orElse(d0.get("searchAnalyzer")).map(_.toString)
      .getOrElse("lucene.whitespace")
    require(knownAnalyzers(stageAnalyzer),
      s"$name.analyzer: unsupported $stageAnalyzer " +
        s"(supported: ${knownAnalyzers.toSeq.sorted.mkString(", ")})")
    val d = d0 - "sort" - "highlight" - "count" - "analyzer" -
      "searchAnalyzer" - "scoreDetails" - "searchAfter"
    require(d.size == 1,
      s"$name: exactly one operator (text/phrase/wildcard/autocomplete" +
        s"/equals/range/exists/in/compound), got ${d.keys}")
    val legId = new java.util.concurrent.atomic.AtomicInteger(0)
    // Atlas scoreDetails: true — per-clause score breakdown exposed
    // through {$meta: "searchScoreDetails"}. Columnar form
    // (documented simplification of Lucene's explain tree): a FLAT
    // list of the scoring clauses (must/should, nested compounds
    // flattened) as {value, description}; the top struct carries the
    // total. Compound's legs() appends here as it compiles.
    val wantScoreDetails = d0.get("scoreDetails").contains(true)
    val sdLegs =
      scala.collection.mutable.Buffer.empty[(String, Column, Column)]
    // true while compiling a filter/mustNot subtree: those clauses
    // contribute nothing to the total score, so nothing under them
    // (incl. a nested compound's must/should) may land in sdLegs —
    // else the listed leg values wouldn't sum to the reported total
    var sdSuppress = false
    def dblV(v: Any): Double = dbl(v, s"$name: expected a number")
    // Atlas {score: {function: ...}} expression DSL → a Column over
    // the clause's relevance score: constant, path (with undefined
    // fallback), score ("relevance"), add/multiply, log/log1p
    // (log10-based, Atlas semantics), gauss (multiplier
    // decay^((max(0, |v−origin|−offset)/scale)²) — decay at
    // distance `scale` from `origin`). Pure scan algebra, composes
    // inside the same whole-stage-codegen score projection as the
    // BM25 terms it modifies.
    def fnScore(spec: Any, relevance: Column, where: String): Column = {
      def pathCol(p: Any): Column = p match {
        case s: String => col(s).cast("double")
        case m: Map[_, _] =>
          val pd = doc(m)
          val c = col(pd.getOrElse("value",
            throw new IllegalArgumentException(
              s"$where.path requires value")).toString).cast("double")
          pd.get("undefined")
            .map(u => coalesce(c, lit(dblV(u)))).getOrElse(c)
        case other => throw new IllegalArgumentException(
          s"$where.path: $other")
      }
      val d0 = doc(spec)
      require(d0.size == 1,
        s"$where: exactly one function expression, got " +
          d0.keys.mkString(", "))
      d0.head match {
        case ("constant", v) => lit(dblV(v))
        case ("score", _) => relevance
        case ("path", p) => pathCol(p)
        case ("add", xs: Seq[_]) =>
          require(xs.nonEmpty, s"$where.add: empty")
          xs.map(fnScore(_, relevance, s"$where.add")).reduce(_ + _)
        case ("multiply", xs: Seq[_]) =>
          require(xs.nonEmpty, s"$where.multiply: empty")
          xs.map(fnScore(_, relevance, s"$where.multiply"))
            .reduce(_ * _)
        case ("log", x) =>
          log10(fnScore(x, relevance, s"$where.log"))
        case ("log1p", x) =>
          log10(fnScore(x, relevance, s"$where.log1p") + lit(1.0))
        case ("gauss", g) =>
          val gd = doc(g)
          val v = pathCol(gd.getOrElse("path",
            throw new IllegalArgumentException(
              s"$where.gauss requires path")))
          val origin = dblV(gd.getOrElse("origin",
            throw new IllegalArgumentException(
              s"$where.gauss requires origin")))
          val scale = dblV(gd.getOrElse("scale",
            throw new IllegalArgumentException(
              s"$where.gauss requires scale")))
          val offset = gd.get("offset").map(dblV).getOrElse(0.0)
          val decay = gd.get("decay").map(dblV).getOrElse(0.5)
          require(scale != 0, s"$where.gauss: scale must be nonzero")
          require(decay > 0 && decay < 1,
            s"$where.gauss: decay must be in (0, 1)")
          pow(lit(decay),
            pow(greatest(lit(0.0), abs(v - lit(origin)) - lit(offset))
              / lit(scale), lit(2.0)))
        case (other, _) => throw new IllegalArgumentException(
          s"$where: unsupported function expression '$other' " +
            "(constant/path/score/add/multiply/log/log1p/gauss)")
      }
    }
    def pathOf(op: String, os: Map[String, Any]): String =
      os.getOrElse("path", throw new IllegalArgumentException(
        s"$name.$op requires path")) match {
        // multi-analyzer path doc: {value: field, multi: analyzer}
        case m: Map[_, _] => doc(m).getOrElse("value",
          throw new IllegalArgumentException(
            s"$name.$op path doc requires value")).toString
        case v => v.toString
      }
    def pathQuery(op: String, os: Map[String, Any]): (String, String) = (
      pathOf(op, os),
      os.getOrElse("query", throw new IllegalArgumentException(
        s"$name.$op requires query")).toString)
    // multi-path form: `path` may be an ARRAY of fields (each a bare
    // name or a {value, multi} doc) — the operator applies per field
    // and clause scores SUM, Atlas' multi-field reading
    def pathElem(op: String, e: Any): (String, String) = e match {
      case m: Map[_, _] =>
        val pm = doc(m)
        val field = pm.getOrElse("value",
          throw new IllegalArgumentException(
            s"$name.$op path doc requires value")).toString
        val an = pm.get("multi").map(_.toString)
          .getOrElse(stageAnalyzer)
        require(knownAnalyzers(an),
          s"$name.$op path.multi: unsupported analyzer $an " +
            s"(supported: " +
            s"${knownAnalyzers.toSeq.sorted.mkString(", ")})")
        (field, an)
      case v => (v.toString, stageAnalyzer)
    }
    def pathElems(op: String, os: Map[String, Any])
        : Seq[(String, String)] =
      os.getOrElse("path", throw new IllegalArgumentException(
        s"$name.$op requires path")) match {
        case s: Seq[_] =>
          require(s.nonEmpty, s"$name.$op: empty path array")
          s.map(pathElem(op, _))
        case e => Seq(pathElem(op, e))
      }
    // the analyzer of a single-path leg: its path doc's `multi`, else
    // the stage's
    def analyzerFor(op: String, os: Map[String, Any]): String =
      os.get("path") match {
        case Some(m: Map[_, _]) => pathElem(op, m)._2
        case _ => stageAnalyzer
      }
    // analyzed document tokens + analyzed literal query terms for the
    // token-matching legs (text/autocomplete)
    def docToks(op: String, os: Map[String, Any]): Column =
      analyzer(analyzerFor(op, os))._1(col(pathOf(op, os)))
    def queryTerms(op: String, os: Map[String, Any],
        q: String): Seq[String] = analyzer(analyzerFor(op, os))._2(q)
    // the constant-scored structured operators (the usual compound
    // filter legs): exact value, set membership, open/closed ranges,
    // field presence — one predicate for a top-level field and for a
    // field of an embeddedDocument element (`at` resolves the path)
    def structured(op: String, os: Map[String, Any], embedded: Boolean,
        at: String => Column): Column = {
      import QueryCompiler.{toLit, toScalaLit}
      val where = if (embedded) s"$name.embeddedDocument" else name
      def field = at(pathOf(op, os))
      op match {
        case "equals" =>
          val v = os.getOrElse("value", throw new IllegalArgumentException(
            s"$where.equals requires value"))
          field === toLit(v)
        case "exists" => field.isNotNull
        case "in" =>
          val c = field
          os.getOrElse("value", throw new IllegalArgumentException(
            s"$where.in requires value")) match {
            case s: Seq[_] =>
              require(s.nonEmpty, s"$where.in: empty value array")
              c.isin(s.map(toScalaLit): _*)
            case one => c === toLit(one)
          }
        case "range" =>
          val c = field
          val preds = Seq[(String, (Column, Column) => Column)](
            ("gt", _ > _), ("gte", _ >= _), ("lt", _ < _), ("lte", _ <= _))
            .flatMap { case (k, cmp) =>
              os.get(k).map(v => cmp(c, toLit(v))) }
          require(preds.nonEmpty,
            if (embedded) s"$where.range requires gt/gte/lt/lte"
            else s"$where.range requires at least one of gt/gte/lt/lte")
          preds.reduce(_ && _)
      }
    }
    // one search operator doc -> (match predicate, score expression,
    // corpus-stat aggregate columns the score reads after a broadcast
    // join). Leaf operators accept Atlas' per-operator score option:
    // {score: {boost: {value: N}}} multiplies, {constant: {value: N}}
    // replaces.
    def compileOp(op: String, osRaw: Any): (Column, Column, Seq[Column]) = {
      // compound nests per-clause scores; embeddedDocument owns its
      // score doc ({embedded: {aggregate}}) — both parse it themselves
      val (clean: Any, mod: (Column => Column)) = osRaw match {
        case m: Map[_, _]
            if op != "compound" && op != "embeddedDocument" =>
          val mm = doc(m)
          mm.get("score") match {
            case Some(sc) =>
              val sd = doc(sc)
              require(sd.size == 1,
                s"$name.$op.score: exactly one of " +
                  "boost/constant/function")
              sd.head match {
                case ("boost", bv) =>
                  // value form multiplies by a literal; path form by
                  // a document field (undefined = fallback when the
                  // field is null), Atlas' boost-by-popularity idiom
                  // — the path form delegates to fnScore's shared
                  // path expression so the two can't drift
                  val bd = doc(bv)
                  val mul: Column = (bd.get("value"), bd.get("path"))
                    match {
                    case (Some(v), None) => lit(dblV(v))
                    case (None, Some(p)) =>
                      fnScore(Map("path" -> (Map("value" -> p) ++
                        bd.get("undefined").map("undefined" -> _))),
                        lit(0.0), s"$name.$op.score.boost")
                    case _ => throw new IllegalArgumentException(
                      s"$name.$op.score.boost requires exactly one " +
                        "of value/path")
                  }
                  (mm - "score", (c: Column) => c * mul)
                case ("constant", cv) =>
                  val f = dblV(doc(cv).getOrElse("value",
                    throw new IllegalArgumentException(
                      s"$name.$op.score.constant requires value")))
                  (mm - "score", (_: Column) => lit(f))
                case ("function", fv) =>
                  (mm - "score", (c: Column) =>
                    fnScore(fv, c, s"$name.$op.score.function"))
                case (other, _) => throw new IllegalArgumentException(
                  s"$name.$op.score: unsupported $other " +
                    "(boost/constant/function)")
              }
            case None => (mm, identity[Column] _)
          }
        case other => (other, identity[Column] _)
      }
      val (pred, score, stats) = compileLeaf(op, clean)
      (pred, mod(score), stats)
    }
    def compileLeaf(op: String, osRaw: Any): (Column, Column, Seq[Column]) =
      op match {
        case "text" =>
          val os = doc(osRaw)
          val (_, queryStr) = pathQuery(op, os)
          val toks = docToks(op, os)
          val terms = queryTerms(op, os, queryStr).distinct
          require(terms.nonEmpty, s"$name.text: empty query")
          // Atlas fuzzy option: a token hits a term when its edit
          // distance is within maxEdits (default 2) — levenshtein is
          // scan-fused scalar math, no expansion join
          val maxEdits: Option[Int] = os.get("fuzzy").map {
            case m: Map[_, _] =>
              doc(m).get("maxEdits").map(int).getOrElse(2)
            case _ => 2
          }
          // Atlas synonyms option: the named sibling collection holds
          // the mapping docs — equivalent classes ({synonyms: [...]})
          // or one-directional ({input: [...], synonyms: [...]}).
          // The mapping is a bounded dimension table, collected once
          // (same class as the IVF centroid table); each query term
          // expands to its class and a token hits the TERM when it
          // matches any class member — scoring still counts the
          // original term, Atlas semantics. Fuzzy and synonyms are
          // mutually exclusive, as in Atlas.
          val synonymsOf: String => Seq[String] =
            os.get("synonyms").map(_.toString) match {
              case None => t => Seq(t)
              case Some(mapping) =>
                require(maxEdits.isEmpty,
                  s"$name.text: fuzzy and synonyms cannot combine")
                val tbl = tables(mapping)
                val hasInput = tbl.columns.contains("input")
                val rows = tbl.collect()
                val classes: Seq[(Seq[String], Seq[String])] =
                  rows.toSeq.map { r =>
                    val syn = r.getSeq[String](
                      r.fieldIndex("synonyms"))
                    val in = if (hasInput &&
                        !r.isNullAt(r.fieldIndex("input")))
                      r.getSeq[String](r.fieldIndex("input"))
                    else syn // equivalent mapping: any member triggers
                    (in, syn)
                  }
                t => {
                  val expanded = classes.collect {
                    case (in, syn) if in.contains(t) => syn
                  }.flatten
                  (t +: expanded).distinct
                }
            }
          def termHit(t: String)(x: Column): Column = maxEdits match {
            // thresholded levenshtein: early-exits at maxEdits (O(k·n)
            // per pair instead of O(n·m)); -1 signals "over threshold"
            case Some(me) => levenshtein(x, lit(t), me) =!= -1
            case None => synonymsOf(t) match {
              case Seq(only) => x === lit(only)
              case many => x.isin(many: _*)
            }
          }
          def anyHit(t: String): Column = maxEdits match {
            case Some(_) => exists(toks, x => termHit(t)(x))
            case None => synonymsOf(t) match {
              case Seq(only) => array_contains(toks, only)
              case many => arrays_overlap(toks,
                array(many.map(lit): _*))
            }
          }
          val p = s"__s${legId.getAndIncrement()}"
          val statCols =
            count(lit(1)).cast("double").as(s"${p}_n") +:
            avg(size(toks).cast("double")).as(s"${p}_avgdl") +:
            terms.zipWithIndex.map { case (t, i) =>
              sum(when(anyHit(t), 1L).otherwise(0L))
                .cast("double").as(s"${p}_df$i")
            }
          val dl = size(toks).cast("double")
          val perTerm = terms.zipWithIndex.map { case (t, i) =>
            val tf = size(filter(toks, x => termHit(t)(x)))
              .cast("double")
            when(tf > 0, graft.ops.TextSearch.bm25Weight(tf,
              col(s"${p}_df$i"), col(s"${p}_n"), dl, col(s"${p}_avgdl")))
              .otherwise(lit(0.0))
          }
          // Atlas matchCriteria (8.0+): "any" (default) ORs the
          // analyzed terms, "all" requires every term. Scoring is
          // the same BM25 sum either way, as in Atlas.
          val matchCriteria = os.get("matchCriteria")
            .map(_.toString).getOrElse("any")
          require(Set("any", "all")(matchCriteria),
            s"$name.text.matchCriteria: $matchCriteria (any/all)")
          val hits = terms.map(anyHit)
          val pred = if (matchCriteria == "all") hits.reduce(_ && _)
                     else hits.reduce(_ || _)
          (pred, perTerm.reduce(_ + _), statCols)
        case "moreLikeThis" =>
          // find-similar: the `like` documents' analyzed terms become
          // one BM25 text query over `path` — the terms are extracted
          // driver-side from the LITERAL like docs (they are inline
          // values by definition), then the text leaf does the rest.
          // Path must be given explicitly (columnar collections have
          // no dynamic "all indexed fields" to infer).
          val os = doc(osRaw)
          val likeTexts: Seq[String] = os.getOrElse("like",
            throw new IllegalArgumentException(
              s"$name.moreLikeThis requires like")) match {
            case s: Seq[_] => s.map(e => doc(e))
                .map(m => m.getOrElse(pathOf(op, os),
                  throw new IllegalArgumentException(
                    s"$name.moreLikeThis: like doc lacks field " +
                      pathOf(op, os))).toString)
            case one => Seq(doc(one).getOrElse(pathOf(op, os),
              throw new IllegalArgumentException(
                s"$name.moreLikeThis: like doc lacks field " +
                  pathOf(op, os))).toString)
          }
          val terms = likeTexts.flatMap(_.split("\\s+"))
            .filter(_.nonEmpty).distinct
          require(terms.nonEmpty,
            s"$name.moreLikeThis: like docs have no terms")
          compileLeaf("text", Map("path" -> pathOf(op, os),
            "query" -> terms.mkString(" ")))
        case "queryString" =>
          // Lucene query syntax over a defaultPath: AND/OR/NOT,
          // parentheses, field:term overrides, quoted phrases
          // (substring), wildcard terms (analyzed-term glob).
          // Constant-scored (documented simplification — Atlas
          // blends per-clause scores; predicate semantics match).
          val os = doc(osRaw)
          val dp = os.getOrElse("defaultPath",
            throw new IllegalArgumentException(
              s"$name.queryString requires defaultPath")).toString
          val q = os.getOrElse("query",
            throw new IllegalArgumentException(
              s"$name.queryString requires query")).toString
          import graft.query.QueryStringParser
          def predOf(node: QueryStringParser.Node): Column =
            node match {
              case QueryStringParser.And(l, r) => predOf(l) && predOf(r)
              case QueryStringParser.Or(l, r) => predOf(l) || predOf(r)
              case QueryStringParser.Not(c) => !predOf(c)
              case QueryStringParser.Phrase(f, t) =>
                col(f.getOrElse(dp)).contains(t)
              case QueryStringParser.Term(f, t)
                  if t.exists(c => c == '*' || c == '?') =>
                exists(TextFunctions.tokens(
                  col(f.getOrElse(dp))), x => x.rlike(globRx(t)))
              case QueryStringParser.Term(f, t) =>
                array_contains(TextFunctions.tokens(
                  col(f.getOrElse(dp))), t)
            }
          (predOf(QueryStringParser.parse(q)), lit(1.0), Nil)
        case "regex" =>
          // Lucene-anchored regex against ANALYZED TERMS: a doc
          // matches when any token matches the whole pattern.
          // Constant-scored, like Atlas' term-expansion queries.
          val os = doc(osRaw)
          val (path, queryStr) = pathQuery(op, os)
          require(queryStr.nonEmpty, s"$name.regex: empty query")
          val toks = TextFunctions.tokens(col(path))
          (exists(toks, t => t.rlike("^(?:" + queryStr + ")$")),
            lit(1.0), Nil)
        case "near" =>
          // proximity scoring: pivot / (pivot + |path − origin|);
          // matches every document with a value (score-only leg, the
          // way Atlas uses it inside compound.should). A multi-field
          // path array scores each field and SUMS (null fields score
          // 0; the leg matches when ANY field has a value).
          val os = doc(osRaw)
          val pivot = dblV(os.getOrElse("pivot",
            throw new IllegalArgumentException(
              s"$name.near requires pivot")))
          require(pivot > 0, s"$name.near: pivot must be positive")
          val origin = os.getOrElse("origin",
            throw new IllegalArgumentException(
              s"$name.near requires origin"))
          val per = pathElems(op, os).map { case (field, _) =>
            val dist = origin match {
              case n: Number => abs(col(field).cast("double") -
                lit(n.doubleValue()))
              case d: java.time.Instant => // pivot in milliseconds
                abs(unix_millis(col(field).cast("timestamp")) -
                  lit(d.toEpochMilli)).cast("double")
              case other => throw new IllegalArgumentException(
                s"$name.near origin: $other (number or date)")
            }
            (col(field).isNotNull,
              lit(pivot) / (lit(pivot) + dist))
          }
          (per.map(_._1).reduce(_ || _),
            per.map { case (nn, s) =>
              when(nn, s).otherwise(lit(0.0)) }.reduce(_ + _), Nil)
        case "phrase" =>
          // analyzed-token phrase: the query's ANALYZED terms must
          // appear in order with total inter-term gap ≤ slop
          // (Atlas/Lucene sloppy-phrase semantics — "stream, filter!"
          // under lucene.standard matches the phrase "stream filter",
          // which raw substring matching never could). Score = number
          // of phrase occurrences; with a multi-field path array the
          // per-field occurrences SUM (Atlas multi-field clauses).
          val os0 = doc(osRaw)
          val queryStr = os0.getOrElse("query",
            throw new IllegalArgumentException(
              s"$name.$op requires query")).toString
          require(queryStr.nonEmpty, s"$name.phrase: empty query")
          val slop = os0.get("slop").map(int).getOrElse(0)
          require(slop >= 0, s"$name.phrase: slop must be >= 0")
          val occ = pathElems(op, os0).map { case (field, an) =>
            val (toksOf, termsOf) = analyzer(an)
            val toks = toksOf(col(field))
            val terms = termsOf(queryStr)
            require(terms.nonEmpty,
              s"$name.phrase: query has no analyzed terms")
            TextFunctions.phraseOccurrences(toks, terms, slop)
          }.reduce(_ + _)
          (occ > 0, occ.cast("double"), Nil)
        case "wildcard" =>
          // Lucene glob: * = any run, ? = one char; everything else
          // literal. Constant score, like Atlas' constant-scored
          // term-expansion queries.
          val os = doc(osRaw)
          val (path, queryStr) = pathQuery(op, os)
          (col(path).rlike(globRx(queryStr)), lit(1.0), Nil)
        case "autocomplete" =>
          // token-prefix match (the minimal edgeGram analyzer form):
          // every analyzed query term must PREFIX a document token —
          // tokenOrder "any" (default) anywhere, "sequential"
          // adjacent and in order. Under lucene.standard the query
          // folds to lowercase like the indexed tokens do. `fuzzy`
          // matches the way a FuzzyQuery over the edgeGram index
          // does: some token prefix within maxEdits edit distance of
          // the term (thresholded levenshtein over the 2·maxEdits+1
          // candidate gram lengths — scan-fused, no expansion join).
          // maxExpansions is Lucene's expansion-COUNT performance
          // cap; the columnar reading evaluates the predicate
          // directly with nothing to enumerate, so it is accepted
          // and ignored (a superset of any capped expansion).
          val os = doc(osRaw)
          val (_, queryStr) = pathQuery(op, os)
          require(queryStr.nonEmpty, s"$name.autocomplete: empty query")
          val fuzzy: Option[(Int, Int)] = os.get("fuzzy").map { f =>
            val fm = f match {
              case m: Map[_, _] => doc(m)
              case _ => Map.empty[String, Any]
            }
            val me = fm.get("maxEdits").map(int).getOrElse(2)
            require(me == 1 || me == 2,
              s"$name.autocomplete.fuzzy.maxEdits: $me " +
                "(Atlas allows 1 or 2)")
            val pl = fm.get("prefixLength").map(int).getOrElse(0)
            require(pl >= 0,
              s"$name.autocomplete.fuzzy.prefixLength: $pl")
            (me, pl)
          }
          val tokenOrder = os.get("tokenOrder").map(_.toString)
            .getOrElse("any")
          require(Set("any", "sequential")(tokenOrder),
            s"$name.autocomplete.tokenOrder: $tokenOrder " +
              "(any/sequential)")
          val terms = queryTerms(op, os, queryStr)
          val toks = docToks(op, os)
          val hit: (Column, String) => Column = fuzzy match {
            case Some((me, pl)) => (x, t) =>
              TextFunctions.fuzzyPrefixHit(x, t, me, pl)
            case None => (x, t) => x.startsWith(lit(t))
          }
          val pred =
            if (terms.size > 1 && tokenOrder == "sequential")
              TextFunctions.prefixPhraseHitWith(
                toks, terms, hit)
            else terms.map(t => exists(toks, x => hit(x, t)))
              .reduce(_ && _)
          (pred, lit(1.0), Nil)
        case "equals" | "exists" | "in" | "range" =>
          (structured(op, doc(osRaw), embedded = false, col(_)), lit(1.0),
            Nil)
        case "geoWithin" =>
          // Atlas geoWithin: point field inside circle (GeoJSON center
          // + radius meters), box (bottomLeft/topRight), or GeoJSON
          // geometry — constant-scored filter legs reusing the query
          // compiler's scan-fused geo predicates.
          val os = doc(osRaw)
          val c = col(pathOf(op, os))
          import graft.functions.Geo
          def geoPoint(v: Any, what: String): (Double, Double) = {
            val m = doc(v)
            require(m.get("type").contains("Point"),
              s"$name.geoWithin.$what: GeoJSON Point required")
            m.getOrElse("coordinates", throw new
                IllegalArgumentException(
                  s"$name.geoWithin.$what needs coordinates")) match {
              case s: Seq[_] if s.size == 2 =>
                (dblV(s(0)), dblV(s(1)))
              case other => throw new IllegalArgumentException(
                s"$name.geoWithin.$what coordinates: $other")
            }
          }
          val shapes = os - "path"
          require(shapes.size == 1, s"$name.geoWithin: exactly one of " +
            s"circle/box/geometry, got ${shapes.keys}")
          val pred = shapes.head match {
            case ("circle", arg) =>
              val m = doc(arg)
              val (clon, clat) = geoPoint(m.getOrElse("center",
                throw new IllegalArgumentException(
                  s"$name.geoWithin.circle needs center")), "circle")
              val r = dblV(m.getOrElse("radius",
                throw new IllegalArgumentException(
                  s"$name.geoWithin.circle needs radius")))
              Geo.haversineMeters(Geo.lon(c), Geo.lat(c), clon, clat) <=
                lit(r)
            case ("box", arg) =>
              val m = doc(arg)
              val (x1, y1) = geoPoint(m.getOrElse("bottomLeft",
                throw new IllegalArgumentException(
                  s"$name.geoWithin.box needs bottomLeft")), "box")
              val (x2, y2) = geoPoint(m.getOrElse("topRight",
                throw new IllegalArgumentException(
                  s"$name.geoWithin.box needs topRight")), "box")
              Geo.lon(c) >= math.min(x1, x2) &&
                Geo.lon(c) <= math.max(x1, x2) &&
                Geo.lat(c) >= math.min(y1, y2) &&
                Geo.lat(c) <= math.max(y1, y2)
            case ("geometry", g) =>
              QueryCompiler.geoWithin(c,
                Map("$geometry" -> g))
            case (other, _) => throw new IllegalArgumentException(
              s"$name.geoWithin: unsupported shape $other")
          }
          (pred, lit(1.0), Nil)
        case "geoShape" =>
          // Atlas geoShape: point field vs a literal geometry under a
          // relation — intersects/within reuse the query compiler's
          // predicates, disjoint is ¬intersects, contains holds for a
          // point field only against an equal Point geometry.
          val os = doc(osRaw)
          val c = col(pathOf(op, os))
          val g = os.getOrElse("geometry",
            throw new IllegalArgumentException(
              s"$name.geoShape requires geometry"))
          val rel = os.getOrElse("relation",
            throw new IllegalArgumentException(
              s"$name.geoShape requires relation")).toString
          import graft.functions.Geo
          val pred = rel match {
            case "within" =>
              QueryCompiler.geoWithin(c,
                Map("$geometry" -> g))
            case "intersects" =>
              QueryCompiler.geoIntersects(c,
                Map("$geometry" -> g))
            case "disjoint" =>
              !QueryCompiler.geoIntersects(c,
                Map("$geometry" -> g))
            case "contains" =>
              val gm = doc(g)
              require(gm.get("type").contains("Point"),
                s"$name.geoShape contains: a point field can only " +
                  "contain a Point geometry")
              gm.getOrElse("coordinates", throw new
                  IllegalArgumentException(
                    s"$name.geoShape.geometry needs coordinates")) match {
                case s: Seq[_] if s.size == 2 =>
                  Geo.lon(c) === lit(dblV(s(0))) &&
                    Geo.lat(c) === lit(dblV(s(1)))
                case other => throw new IllegalArgumentException(
                  s"$name.geoShape.geometry coordinates: $other")
              }
            case other => throw new IllegalArgumentException(
              s"$name.geoShape.relation: $other (within/intersects/" +
                "disjoint/contains)")
          }
          (pred, lit(1.0), Nil)
        case "embeddedDocument" =>
          // array-of-documents leg: the inner operator is evaluated
          // once per array element (inner paths are full dotted paths
          // THROUGH the array field, Atlas-style: "items.qty"); a
          // document matches when ≥1 element matches, and the score
          // aggregates the matching elements' scores —
          // score.embedded.aggregate ∈ sum (default) / mean / maximum /
          // minimum. Pure lambda algebra over the array column (exists/
          // filter/aggregate): no explode, no join, scan-fused. Inner
          // text/phrase legs are element-local and constant-per-term
          // scored (no corpus stats across elements — documented
          // simplification, same contract as queryString).
          val osAll = doc(osRaw)
          val aggMode = osAll.get("score").map { sc =>
            val sd = doc(sc)
            require(sd.keySet == Set("embedded"),
              s"$name.embeddedDocument.score: {embedded: {aggregate}} " +
                s"only, got ${sd.keys}")
            doc(sd("embedded")).getOrElse("aggregate", "sum").toString
          }.getOrElse("sum")
          require(Set("sum", "mean", "maximum", "minimum")(aggMode),
            s"$name.embeddedDocument.score.embedded.aggregate: " +
              s"sum/mean/maximum/minimum, got $aggMode")
          val os = osAll - "score"
          val arrPath = pathOf(op, os)
          val innerDoc = doc(os.getOrElse("operator",
            throw new IllegalArgumentException(
              s"$name.embeddedDocument requires operator")))
          require(innerDoc.size == 1,
            s"$name.embeddedDocument.operator: exactly one operator")
          def sub(el: Column, p: String): Column = {
            require(p == arrPath || p.startsWith(arrPath + "."),
              s"$name.embeddedDocument: inner path $p must extend " +
                arrPath)
            if (p == arrPath) el
            else p.substring(arrPath.length + 1).split('.')
              .foldLeft(el)((c, f) => c.getField(f))
          }
          // element-local (pred, score) compiler over the stat-free
          // operator subset; per-leaf {score: {boost|constant}} applies
          def elem(opE: String, rawE: Any)
              : (Column => Column, Column => Column) = {
            val (osE: Map[String, Any], modE: (Column => Column)) =
              (doc(rawE), opE) match {
                case (mm, o) if o != "compound" =>
                  mm.get("score") match {
                    case Some(sc) => doc(sc).head match {
                      case ("boost", bv) =>
                        val f = dblV(doc(bv)("value"))
                        (mm - "score", (c: Column) => c * lit(f))
                      case ("constant", cv) =>
                        val f = dblV(doc(cv)("value"))
                        (mm - "score", (_: Column) => lit(f))
                      case (other, _) =>
                        throw new IllegalArgumentException(
                          s"$name.embeddedDocument.$opE.score: " +
                            s"unsupported $other")
                    }
                    case None => (mm, identity[Column] _)
                  }
                case (mm, _) => (mm, identity[Column] _)
              }
            val (pr, scr): (Column => Column, Column => Column) =
              opE match {
                case "equals" | "exists" | "in" | "range" =>
                  (el => structured(opE, osE, embedded = true, sub(el, _)),
                    _ => lit(1.0))
                case "text" =>
                  val (p, queryStr) = pathQuery(opE, osE)
                  val terms = queryStr.split("\\s+").filter(_.nonEmpty)
                    .distinct.toSeq
                  require(terms.nonEmpty,
                    s"$name.embeddedDocument.text: empty query")
                  def toks(el: Column) =
                    TextFunctions.tokens(sub(el, p))
                  (el => terms.map(t => array_contains(toks(el), t))
                      .reduce(_ || _),
                    // score = number of query terms the element hits
                    el => terms.map(t =>
                      when(array_contains(toks(el), t), 1.0)
                        .otherwise(0.0)).reduce(_ + _))
                case "phrase" =>
                  val (p, queryStr) = pathQuery(opE, osE)
                  require(queryStr.nonEmpty,
                    s"$name.embeddedDocument.phrase: empty query")
                  (el => sub(el, p).contains(queryStr),
                    el => ((length(sub(el, p)) - length(replace(
                      sub(el, p), lit(queryStr), lit("")))) /
                      lit(queryStr.length)).cast("double"))
                case "wildcard" =>
                  val (p, queryStr) = pathQuery(opE, osE)
                  (el => sub(el, p).rlike(globRx(queryStr)), _ => lit(1.0))
                case "autocomplete" =>
                  val (p, queryStr) = pathQuery(opE, osE)
                  require(queryStr.nonEmpty,
                    s"$name.embeddedDocument.autocomplete: empty query")
                  (el => exists(TextFunctions.tokens(
                      sub(el, p)), t => t.startsWith(queryStr)),
                    _ => lit(1.0))
                case "regex" =>
                  val (p, queryStr) = pathQuery(opE, osE)
                  require(queryStr.nonEmpty,
                    s"$name.embeddedDocument.regex: empty query")
                  (el => exists(TextFunctions.tokens(
                      sub(el, p)),
                      t => t.rlike("^(?:" + queryStr + ")$")),
                    _ => lit(1.0))
                case "compound" =>
                  val (must, mustNot, should, fil, msm) =
                    compoundClauses(osE, s"$name.embeddedDocument.compound")(
                      (_, o, r) => elem(o, r))
                  def combined(el: Column): (Column, Column) = {
                    def on(ls: Seq[(Column => Column, Column => Column)]) =
                      ls.map(l => (l._1(el), l._2(el)))
                    combine(on(must), on(mustNot), on(should), on(fil), msm)
                  }
                  (el => combined(el)._1, el => combined(el)._2)
                case other => throw new IllegalArgumentException(
                  s"$name.embeddedDocument: unsupported inner operator " +
                    s"$other (equals/exists/in/range/text/phrase/" +
                    "wildcard/autocomplete/regex/compound)")
              }
            (el => pr(el), el => modE(scr(el)))
          }
          val (ePred, eScore) = elem(innerDoc.head._1, innerDoc.head._2)
          val arr = col(arrPath)
          val matched = filter(arr, el => ePred(el))
          val total = aggregate(matched, lit(0.0),
            (acc, el) => acc + eScore(el))
          val docScore = aggMode match {
            case "sum" => total
            case "mean" => total / size(matched).cast("double")
            case "maximum" => aggregate(matched,
              lit(Double.NegativeInfinity),
              (acc, el) => greatest(acc, eScore(el)))
            case "minimum" => aggregate(matched,
              lit(Double.PositiveInfinity),
              (acc, el) => least(acc, eScore(el)))
          }
          (size(matched) > 0, docScore, Nil)
        case "compound" =>
          val (must, mustNot, should, fil, msm) =
            compoundClauses(doc(osRaw), s"$name.compound") { (key, o, r) =>
              val scoringCtx = key == "must" || key == "should"
              val saved = sdSuppress
              if (!scoringCtx) sdSuppress = true
              val c = try compileOp(o, r) finally sdSuppress = saved
              // scoring clauses feed the scoreDetails breakdown;
              // a filter/mustNot context (here or in any enclosing
              // compound) records nothing
              if (wantScoreDetails && !sdSuppress && o != "compound" &&
                  scoringCtx)
                sdLegs += ((s"$key.$o", c._1, c._2))
              c
            }
          def ps(ls: Seq[(Column, Column, Seq[Column])]) =
            ls.map(l => (l._1, l._2))
          val (pred, score) =
            combine(ps(must), ps(mustNot), ps(should), ps(fil), msm)
          // only must/should scores are read downstream; mustNot and
          // filter legs never need their corpus stats
          (pred, score, (must ++ should).flatMap(_._3))
        case other => throw new IllegalArgumentException(
          s"$name: unsupported operator $other (text/phrase/wildcard/" +
            "autocomplete/equals/range/exists/in/regex/near/" +
            "moreLikeThis/queryString/embeddedDocument/compound)")
      }
    if (name == "$searchMeta" && d.head._1 == "facet") {
      // facet collector: {operator?, facets: {name: {type: string,
      // path, numBuckets?} | {type: number, path, boundaries}}}.
      // String facets: top-numBuckets values by count desc (value asc
      // tie-break); number facets: [boundaries) buckets keyed by lower
      // bound, ascending; empty buckets are omitted (a groupBy cannot
      // see them — Atlas also returns only non-empty string buckets).
      // Each facet is one hash aggregate collapsed to a 1-row frame;
      // the combine is broadcast joins of 1-row frames.
      val os = doc(d.head._2)
      require(os.keySet.subsetOf(Set("operator", "facets")),
        s"$name.facet: operator/facets only, got ${os.keys}")
      val matched = os.get("operator").map { o =>
        val m = doc(o)
        require(m.size == 1, s"$name.facet.operator: one operator")
        compileOp(m.head._1, m.head._2)._1
      }.getOrElse(lit(true))
      val base = df.where(matched)
      val facets = doc(os.getOrElse("facets",
        throw new IllegalArgumentException(s"$name.facet requires facets")))
      require(facets.nonEmpty, s"$name.facet: empty facets")
      // Atlas' `default` catch-all bucket mixes a string _id into a
      // typed bucket column — no faithful columnar shape, so it is
      // rejected with the standard workaround instead of silently
      // dropping out-of-range rows under a different contract
      def requireNoDefault(fname: String, fs: Map[String, Any]): Unit =
        require(!fs.contains("default"),
          s"$name.facet.$fname.default: not supported — out-of-" +
            "boundary rows are excluded; add an explicit catch-all " +
            "boundary pair, or count the remainder with a second " +
            "$searchMeta over the complementary range")
      val frames = facets.toSeq.map { case (fname, fsRaw) =>
        val fs = doc(fsRaw)
        val path = pathOf("facet", fs)
        fs.getOrElse("type", throw new IllegalArgumentException(
          s"$name.facet.$fname requires type")).toString match {
          case "string" =>
            val nb = fs.get("numBuckets").map(int).getOrElse(10)
            base.groupBy(col(path).as("_id"))
              .agg(count(lit(1)).as("count"))
              .agg(transform(
                slice(array_sort(collect_list(struct(
                  (-col("count")).as("negc"), col("_id").as("_id"),
                  col("count").as("count")))), 1, nb),
                x => struct(x.getField("_id").as("_id"),
                  x.getField("count").as("count"))).as(fname))
          case "number" =>
            requireNoDefault(fname, fs)
            val bs = fs.getOrElse("boundaries",
              throw new IllegalArgumentException(
                s"$name.facet.$fname requires boundaries")) match {
              case s: Seq[_] => s.map(dblV)
              case other => throw new IllegalArgumentException(
                s"$name.facet.$fname boundaries: $other")
            }
            require(bs.size >= 2 && bs == bs.sorted &&
              bs.distinct.size == bs.size,
              s"$name.facet.$fname: boundaries must be ascending")
            val c = col(path).cast("double")
            val bucket = bs.init.zip(bs.tail).map { case (lo, hi) =>
              when(c >= lo && c < hi, lit(lo))
            }.reduce((a, b) => coalesce(a, b))
            base.where(c >= bs.head && c < bs.last)
              .groupBy(bucket.as("_id"))
              .agg(count(lit(1)).as("count"))
              .agg(array_sort(collect_list(struct(col("_id").as("_id"),
                col("count").as("count")))).as(fname))
          case "date" =>
            // Atlas date facet: [boundaries) buckets keyed by the
            // lower boundary timestamp; boundaries are ISO-8601
            // strings (date-only accepted) or Date values, strictly
            // ascending. String boundaries compare NAIVELY: they
            // become to_timestamp literals parsed under the SAME
            // session time zone the faceted column casts with, so
            // bucket membership is invariant to
            // spark.sql.session.timeZone (a UTC-pinned Instant
            // would shift buckets under a non-UTC session and
            // diverge from any naive SQL oracle).
            requireNoDefault(fname, fs)
            def naive(v: Any): (java.time.LocalDateTime, Column) =
              v match {
                case t: java.sql.Timestamp =>
                  (t.toLocalDateTime, lit(t))
                case d: java.util.Date =>
                  val t = new java.sql.Timestamp(d.getTime)
                  (t.toLocalDateTime, lit(t))
                case s: String =>
                  val ldt = try {
                    if (s.length == 10)
                      java.time.LocalDate.parse(s).atStartOfDay
                    else java.time.LocalDateTime.parse(
                      s.stripSuffix("Z"))
                  } catch {
                    case e: java.time.format.DateTimeParseException =>
                      throw new IllegalArgumentException(
                        s"$name.facet.$fname boundary '$s': " +
                          s"not an ISO-8601 date/datetime ($e)")
                  }
                  (ldt, to_timestamp(lit(
                    ldt.toString.replace('T', ' '))))
                case other => throw new IllegalArgumentException(
                  s"$name.facet.$fname boundary: $other")
              }
            val bs = fs.getOrElse("boundaries",
              throw new IllegalArgumentException(
                s"$name.facet.$fname requires boundaries")) match {
              case s: Seq[_] => s.map(naive)
              case other => throw new IllegalArgumentException(
                s"$name.facet.$fname boundaries: $other")
            }
            val ldts = bs.map(_._1)
            require(bs.size >= 2 &&
              ldts.sliding(2).forall(p => p(0).isBefore(p(1))),
              s"$name.facet.$fname: boundaries must be ascending")
            val c = col(path).cast("timestamp")
            val bucket = bs.init.zip(bs.tail).map {
              case ((_, lo), (_, hi)) =>
                when(c >= lo && c < hi, lo)
            }.reduce((a, b) => coalesce(a, b))
            base.where(c >= bs.head._2 && c < bs.last._2)
              .groupBy(bucket.as("_id"))
              .agg(count(lit(1)).as("count"))
              .agg(array_sort(collect_list(struct(col("_id").as("_id"),
                col("count").as("count")))).as(fname))
          case other => throw new IllegalArgumentException(
            s"$name.facet.$fname: unsupported type $other " +
              "(string/number/date)")
        }
      }
      val total = base.agg(count(lit(1)).as("__total"))
      frames.foldLeft(total)((acc, fr) => acc.join(broadcast(fr)))
        .select(struct(col("__total").as("total")).as("count"),
          struct(facets.keys.toSeq.map(fn =>
            struct(col(fn).as("buckets")).as(fn)): _*).as("facet"))
    } else {
    val (matched, score, statCols) = compileOp(d.head._1, d.head._2)
    if (name == "$searchMeta") {
      // metadata-only result: Mongo's {count: {total: N}} shape. The
      // match predicate reads only the row's own tokens, so the BM25
      // stats aggregate (score-only) is skipped — no second corpus
      // scan for a count
      df.where(matched)
        .agg(count(lit(1)).as("__total"))
        .select(struct(col("__total").as("total")).as("count"))
    } else {
      val sortKeys: Seq[(Column, Boolean)] = sortOpt match {
        case None => Seq((col("__searchScore"), false))
        case Some(sd) =>
          require(sd.nonEmpty, s"$name.sort: empty document")
          sd.toSeq.map {
            case (f, 1) => (col(f), true)
            case (f, -1) => (col(f), false)
            case (_, m: Map[_, _])
              if doc(m).get("$meta").nonEmpty =>
              (col("__searchScore"), false)
            case (f, other) => throw new IllegalArgumentException(
              s"$name.sort.$f: $other (1/-1/{$$meta})")
          }
      }
      val order: Seq[Column] =
        sortKeys.map { case (c, asc) => if (asc) c.asc else c.desc }
      // searchSequenceToken: base64 JSON of this row's sort-key
      // values (positional field names t0..tn — the token is opaque
      // to callers, Atlas-style). Pure scan expressions; stashed
      // only under an explicit sort, which pagination requires.
      val tokenExpr = base64(to_json(struct(
        sortKeys.zipWithIndex.map { case ((c, _), i) =>
          c.as(s"t$i") }: _*)))
      // strictly-after predicate from a token: OR over key prefixes
      // — (k1 after v1) ∨ (k1 = v1 ∧ k2 after v2) ∨ …, "after"
      // following each key's direction AND its null placement:
      // Spark sorts NULLs last under desc, so a NULL row value is
      // strictly after any non-null cursor (c < v OR c IS NULL);
      // under asc NULLs sort first and can never follow a non-null
      // cursor (the default null-propagating comparison already
      // excludes them). The cursor row itself (all keys equal) is
      // excluded, which is the no-overlap guarantee; a NULL sort
      // value cannot produce a resumable token (to_json drops it)
      // and fails here with the remedy — pages can reach the null
      // tail once, but paging onward FROM it needs a non-null sort.
      def afterPredicate(tok: String): Column = {
        val json = try new String(
          java.util.Base64.getDecoder.decode(tok), "UTF-8")
        catch { case _: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"$name.searchAfter: not a searchSequenceToken " +
              "(bad base64)")
        }
        val fields = graft.orchestrate.ConfigLoader.parseJson(json)
          match {
          case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
          case other => throw new IllegalArgumentException(
            s"$name.searchAfter: not a searchSequenceToken ($other)")
        }
        val vals = sortKeys.indices.map(i => fields.getOrElse(s"t$i",
          throw new IllegalArgumentException(
            s"$name.searchAfter: token lacks sort key $i — it must " +
              "come from a {$meta: \"searchSequenceToken\"} " +
              "projection under the SAME non-null sort")))
        sortKeys.zip(vals).zipWithIndex.map {
          case (((c, asc), v), i) =>
            val samePrefix = sortKeys.take(i).map(_._1).zip(vals)
              .map { case (pc, pv) => pc === lit(pv) }
              .reduceOption(_ && _).getOrElse(lit(true))
            samePrefix && (if (asc) c > lit(v)
              else c < lit(v) || c.isNull)
        }.reduce(_ || _)
      }
      def addPagination(frame: DataFrame): DataFrame = {
        val withTok =
          if (sortOpt.isEmpty) frame
          else frame.withColumn("__searchSequenceToken", tokenExpr)
        searchAfterOpt match {
          case None => withTok
          case Some(tok) => withTok.where(afterPredicate(tok))
        }
      }
      // highlight passages: (analyzer, term) pairs harvested
      // driver-side from the text/phrase legs that name the highlight
      // path, each query analyzed the way its leg analyzes it
      def termsFor(hp: String, opName: String, spec: Any)
          : Seq[(String, String)] =
        opName match {
          case "text" | "phrase" =>
            val os = doc(spec)
            for {
              (field, an) <- pathElems(opName, os) if field == hp
              q <- os.get("query").toSeq
              t <- analyzer(an)._2(q.toString)
            } yield (an, t)
          case "compound" =>
            Seq("must", "should", "filter").flatMap { key =>
              doc(spec).get(key).toSeq.flatMap {
                case s: Seq[_] => s.flatMap { e =>
                  val m = doc(e); termsFor(hp, m.head._1, m.head._2)
                }
                case one =>
                  val m = doc(one); termsFor(hp, m.head._1, m.head._2)
              }
            }
          case _ => Nil
        }
      def addHighlights(frame: DataFrame): DataFrame =
        highlightOpt match {
          case None => frame
          case Some(h) =>
            val hp = h.getOrElse("path",
              throw new IllegalArgumentException(
                s"$name.highlight requires path")).toString
            val maxP = h.get("maxNumPassages").map(int).getOrElse(5)
            val analyzed = termsFor(hp, d.head._1, d.head._2)
            val terms = analyzed.map(_._2).distinct
            require(terms.nonEmpty,
              s"$name.highlight: no text/phrase leg names path $hp")
            // the path's tokens under the first naming leg's analyzer
            val toks = analyzer(analyzed.head._1)._1(col(hp))
            val hits = filter(
              zip_with(toks, sequence(lit(0), size(toks) - 1),
                (t, i) => struct(t.as("t"), i.as("i"))),
              s => s.getField("t").isin(terms: _*))
            val passages = transform(slice(hits, 1, maxP), h0 => {
              val i = h0.getField("i")
              val pre = concat_ws(" ",
                slice(toks, greatest(i - 1, lit(1)), least(i, lit(2))))
              val post = concat_ws(" ", slice(toks, i + 2, lit(2)))
              struct(
                lit(hp).as("path"),
                array(
                  struct(pre.as("value"), lit("text").as("type")),
                  struct(h0.getField("t").as("value"),
                    lit("hit").as("type")),
                  struct(post.as("value"), lit("text").as("type"))
                ).as("texts"),
                lit(1.0).as("score"))
            })
            frame.withColumn("__searchHighlights", passages)
        }
      def addCount(frame: DataFrame): DataFrame = countOpt match {
        case None => frame
        case Some(_) =>
          val cnt = df.where(matched).agg(count(lit(1)).as("__t"))
            .select(struct(struct(col("__t").as("total")).as("count"))
              .as("__search_meta"))
          frame.join(broadcast(cnt))
      }
      def addDetails(frame: DataFrame): DataFrame =
        if (!wantScoreDetails) frame
        else {
          val entries =
            if (sdLegs.nonEmpty) sdLegs.toSeq
            else Seq((d.head._1, matched, score))
          frame.withColumn("__searchScoreDetails", struct(
            score.cast("double").as("value"),
            lit(d.head._1).as("description"),
            array(entries.map { case (desc, p, sc) =>
              struct(when(p, sc).otherwise(lit(0.0)).cast("double")
                .as("value"), lit(desc).as("description"))
            }: _*).as("details")))
        }
      if (statCols.isEmpty) {
        addCount(addHighlights(addDetails(addPagination(
          df.where(matched)
            .withColumn("__searchScore", score)))))
          .orderBy(order: _*)
      } else {
        val stats = df.agg(statCols.head, statCols.tail: _*)
        addCount(addHighlights(addDetails(addPagination(
          df.join(broadcast(stats))
            .where(matched)
            .withColumn("__searchScore", score)))
          .drop(stats.columns.toSeq: _*)))
          .orderBy(order: _*)
      }
    }
    }
  }

  private def rankFusion(df: DataFrame, spec: Any,
      tables: TableResolver): DataFrame =
    // Mongo 8.1 hybrid search: named ranked sub-pipelines over the SAME
    // collection, fused with reciprocal-rank fusion — score(doc) =
    // Σ_p w_p / (60 + rank_p(doc)), docs appearing in at least one
    // ranking, ordered by fused score (same contract and the same term
    // as ops/Hybrid.rrfFuse). Each sub-pipeline's rank comes from ITS
    // OWN plan's outermost ordering (extracted from the analyzed Sort
    // node), so any ranked stage works ($search, $vectorSearch,
    // $geoNear, $match+$sort). The per-pipeline rank windows are
    // single-partition over the (top-k) input rows.
    fuse(df, "$rankFusion", spec, tables) { (_, _) =>
      val contribution: Contribution = { (pname, subPipe, sub, keyCols,
          wgt) =>
        if (!subPipe.exists(_.contains("$limit")))
          scaleGuard(df, s"$$rankFusion pipeline '$pname' has no " +
            "$limit: its rank window will single-partition the full " +
            "result; bound ranked inputs with $limit (top-k) at scale")
        val w = Window.orderBy(
          rankOrder(sub, pname) ++ keyCols.map(col(_).asc): _*)
        (sub.withColumn("__rr", row_number().over(w)),
          col("__rr").cast("long").as("rank"),
          graft.ops.Hybrid.rrfTerm(lit(wgt), col("__rr")))
      }
      (contribution, (total, _) => total)
    }

  private def score(df: DataFrame, spec: Any): DataFrame = {
    // Mongo 8.1: assign/replace the document score meta from an
    // arbitrary expression — the scoring primitive the fusion stages
    // consume ({$meta: "score"} reads it back, $sort on the meta
    // sorts by it). The raw score is normalized ([[normalize]]) over
    // the CURRENT result set; weight ∈ [0,1] scales the normalized
    // score. Does NOT re-sort, matching the server.
    val d = doc(spec)
    val unknown = d.keySet -- Set("score", "normalization", "weight",
      "scoreDetails")
    require(unknown.isEmpty, s"$$score: unsupported option(s) $unknown")
    val raw = expr2col(d.getOrElse("score",
      throw new IllegalArgumentException(
        "$score requires a score expression"))).cast("double")
    val norm = d.get("normalization").map(_.toString).getOrElse("none")
    val wgt = d.get("weight").map {
      case n: Number => n.doubleValue()
      case other =>
        throw new IllegalArgumentException(s"$$score weight: $other")
    }.getOrElse(1.0)
    require(wgt >= 0 && wgt <= 1, "$score weight must be in [0, 1]")
    normalize(df, raw, norm, "__searchScore", "$score")
      .withColumn("__searchScore", col("__searchScore") * lit(wgt))
  }

  private def scoreFusion(df: DataFrame, spec: Any,
      tables: TableResolver): DataFrame =
    // Mongo 8.1 sibling of $rankFusion: combines the sub-pipelines'
    // RAW scores instead of ranks. Each input pipeline must carry the
    // searchScore/$meta score ($search, $vectorSearch scoreField, or
    // $match $text), normalized per pipeline ([[normalize]] over that
    // pipeline's result). combination.method "avg" (default) or "sum"
    // of weighted normalized scores.
    fuse(df, "$scoreFusion", spec, tables) { (input, comb) =>
      val norm = input.get("normalization")
        .map(_.toString).getOrElse("none")
      require(Set("none", "sigmoid", "minMaxScaler")(norm),
        s"$$scoreFusion normalization: $norm")
      val method = comb.get("method").map(_.toString).getOrElse("avg")
      require(Set("avg", "sum")(method),
        s"$$scoreFusion combination.method: $method")
      val contribution: Contribution = { (pname, _, sub, _, wgt) =>
        require(sub.columns.contains("__searchScore"),
          s"$$scoreFusion pipeline '$pname' carries no score: it must " +
            "contain a scoring stage ($search / $match $text / " +
            "$vectorSearch with scoreField: \"__searchScore\")")
        val raw = col("__searchScore").cast("double")
        (normalize(sub, raw, norm, "__ns", "$scoreFusion"),
          raw.as("rawScore"), col("__ns") * lit(wgt))
      }
      (contribution, (total, n) =>
        if (method == "sum") total else total / lit(n.toDouble))
    }

  /** One fusion input pipeline → (the frame its contribution reads
    * from, the breakdown's per-pipeline measure, its weighted
    * contribution), given its name, its stages, its compiled frame, the
    * key columns and its weight. */
  private type Contribution = (String, Seq[Map[String, Any]], DataFrame,
    Seq[String], Double) => (DataFrame, Column, Column)

  /** The frame `$rankFusion` and `$scoreFusion` share. It checks the
    * options and reads `input.pipelines`; `stageOpts(input, combination)`
    * then parses the stage's own options and returns its per-pipeline
    * [[Contribution]] and its combine of the exact contribution sum
    * over `n` pipelines. Mongo fuses by _id; columnar collections
    * without one pass `key: <column(s)>` (documented extension). The
    * fused score rides the __searchScore carrier, so {$meta:
    * "searchScore"} exposes it downstream.
    * Scale shape: ranked inputs are $limit-bounded top-k sets, the
    * fuse is one hash aggregate over Σk rows, and the join back to
    * the collection broadcasts the tiny fused side — the collection
    * is scanned once per sub-pipeline plus once for the final join. */
  private def fuse(df: DataFrame, stage: String, spec: Any,
      tables: TableResolver)(stageOpts: (Map[String, Any],
        Map[String, Any]) => (Contribution, (Column, Int) => Column))
      : DataFrame = {
    val d = doc(spec)
    val unknownOpts = d.keySet --
      Set("input", "combination", "scoreDetails", "key")
    require(unknownOpts.isEmpty,
      s"$stage: unsupported option(s) $unknownOpts")
    val input = doc(d.getOrElse("input",
      throw new IllegalArgumentException(s"$stage requires input.pipelines")))
    val pipes = doc(input.getOrElse("pipelines",
      throw new IllegalArgumentException(s"$stage requires input.pipelines")))
    require(pipes.nonEmpty, s"$stage: no input pipelines")
    val comb = d.get("combination").map(doc).getOrElse(Map.empty[String, Any])
    val (contribution, combine) = stageOpts(input, comb)
    val weights = comb.get("weights").map(doc)
      .getOrElse(Map.empty[String, Any])
    val badW = weights.keySet -- pipes.keySet
    require(badW.isEmpty,
      s"$stage: weights for unknown pipeline(s) $badW")
    val keyCols: Seq[String] = d.get("key") match {
      case Some(s: String) => Seq(s)
      case Some(s: Seq[_]) => s.map(_.toString)
      case Some(other) =>
        throw new IllegalArgumentException(s"$stage key: $other")
      case None =>
        require(df.columns.contains("_id"),
          s"$stage fuses documents by _id; this collection has " +
            "no _id column — pass key: <column(s)> (columnar extension)")
        Seq("_id")
    }
    val contribs = pipes.toSeq.map { case (pname, praw) =>
      val subPipe = pipelineSeq(praw)
      val sub = compile(subPipe, tables)(df)
      keyCols.foreach(k => require(sub.columns.contains(k),
        s"$stage pipeline '$pname' must keep key column $k"))
      val wgt = weights.get(pname).map {
        case n: Number => n.doubleValue()
        case other => throw new IllegalArgumentException(
          s"$stage weight for '$pname': $other")
      }.getOrElse(1.0)
      require(wgt >= 0, s"$stage weight for '$pname' must be >= 0")
      val (scored, measure, value) =
        contribution(pname, subPipe, sub, keyCols, wgt)
      scored.select(keyCols.map(col) ++ Seq(
        value.cast("decimal(28,12)").as("__contrib"),
        struct(lit(pname).as("pipeline"), measure, lit(wgt).as("weight"),
          value.cast("double").as("value")).as("__det")): _*)
    }
    // scoreDetails: true additionally stashes the per-pipeline
    // breakdown — {pipeline, rank | rawScore, weight, value} structs
    // sorted by pipeline name — on the __scoreDetails carrier ({$meta:
    // "scoreDetails"} reads it back). Same aggregate, no extra pass.
    val wantDetails = d.get("scoreDetails").contains(true)
    val aggs =
      combine(sum(col("__contrib")), pipes.size).cast("double")
        .as("__searchScore") +:
        (if (wantDetails)
          Seq(array_sort(collect_list(col("__det")))
            .as("__scoreDetails"))
        else Nil)
    val fused = contribs.reduce(_.unionByName(_))
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    // broadcast only when every ranked input is $limit-bounded — an
    // unbounded fusion result must shuffle-join, not ship to every task
    val bounded = pipes.values
      .forall(p => pipelineSeq(p).exists(_.contains("$limit")))
    df.join(if (bounded) broadcast(fused) else fused, keyCols)
      .orderBy(col("__searchScore").desc +: keyCols.map(col(_).asc): _*)
  }

  /** A raw score scaled into column `out` by `norm`: "none", "sigmoid"
    * (1/(1+e^-x), scan-fused scalar math) or "minMaxScaler" ([0,1] over
    * `frame`: a 1-row min/max aggregate broadcast back — the only
    * exchange normalization adds). */
  private def normalize(frame: DataFrame, raw: Column, norm: String,
      out: String, stage: String): DataFrame = norm match {
    case "none" => frame.withColumn(out, raw)
    case "sigmoid" =>
      frame.withColumn(out, lit(1.0) / (lit(1.0) + exp(-raw)))
    case "minMaxScaler" =>
      val mm = frame.agg(min(raw).as("__mn"), max(raw).as("__mx"))
      frame.join(broadcast(mm))
        .withColumn(out, when(col("__mx") === col("__mn"), lit(0.0))
          .otherwise((raw - col("__mn")) / (col("__mx") - col("__mn"))))
        .drop("__mn", "__mx")
    case other =>
      throw new IllegalArgumentException(s"$stage normalization: $other")
  }

  /** The ordering a ranked sub-pipeline's own plan establishes: the
    * outermost global Sort of the analyzed plan, looked through limits and
    * projections. `$rankFusion` turns result order into ranks with it —
    * no row-id materialization, no guessing at score columns. A
    * projection that drops the sort attribute surfaces as an analysis
    * error naming the missing column. */
  private def rankOrder(sub: DataFrame, pname: String): Seq[Column] = {
    import org.apache.spark.sql.catalyst.plans.{logical => lp}
    import org.apache.spark.sql.catalyst.expressions.{
      Ascending, Descending, NullsFirst, NullsLast, SortOrder}
    def find(p: lp.LogicalPlan): Option[Seq[SortOrder]] = p match {
      case s: lp.Sort if s.global => Some(s.order)
      case l: lp.GlobalLimit => find(l.child)
      case l: lp.LocalLimit => find(l.child)
      case pr: lp.Project => find(pr.child)
      case _ => None
    }
    find(sub.queryExecution.analyzed)
      .map(_.map { so =>
        val c = org.apache.spark.sql.graftbridge.ColumnBridge.column(so.child)
        (so.direction, so.nullOrdering) match {
          case (Ascending, NullsFirst)  => c.asc_nulls_first
          case (Ascending, NullsLast)   => c.asc_nulls_last
          case (Descending, NullsFirst) => c.desc_nulls_first
          case (Descending, NullsLast)  => c.desc_nulls_last
        }
      })
      .getOrElse(throw new IllegalArgumentException(
        s"$$rankFusion input pipeline '$pname' is not ranked: it must end " +
          "in an ordered stage ($sort / $search / $vectorSearch / $geoNear)"))
  }
}
