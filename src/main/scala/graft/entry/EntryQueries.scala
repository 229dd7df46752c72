package graft.entry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.{Dedup, Similarity, TextOps}
import graft.query.Bm25

/** The driver-facing operator catalog: one entry per implemented operator
  * from SURVEY.md §2 (+ the training-pipeline extensions), each with a
  * DuckDB-runnable oracle SQL twin where the semantics are SQL-expressible.
  *
  * Float-determinism conventions shared by the Spark and SQL sides:
  *  - money/quantity sums go through DECIMAL(18,2) (exact, order-free)
  *    and cast to DOUBLE at the end;
  *  - genuinely floating aggregates (BM25, cosine) are rounded to 6
  *    decimals and restricted to commutative 1-2 term sums;
  *  - every result has a total deterministic ORDER BY.
  */
object EntryQueries {

  /** Compute-heavy tables that deserve the small-input rebalance below
    * (dimension tables stay as-is so broadcast planning is untouched). */
  private val FactTables =
    Set("documents", "embeddings", "events", "lineitem", "orders")

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    // The driver's sf tables are SINGLE-ROW-GROUP parquet files: a row
    // group cannot split, so the scan — and the tokenize/compute stage
    // fused onto it — runs as ONE task no matter how many cores the
    // session has. Rebalance small fact-table inputs across the session
    // (round-robin; a <64 MB shuffle is noise). At production scale the
    // input has many files/row groups, the scan parallelizes itself, and
    // this branch never fires. Catalyst still pushes filters/pruning
    // through the repartition to the scan (PlanSpec asserts), and every
    // gate result is partition-independent by construction (exact
    // integer/decimal aggregates; float sums bounded to <=2 commutative
    // terms; per-row scalar ops).
    val bytes = try {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch { case _: Exception => Long.MaxValue }
    if (FactTables(name) && bytes < 64L * 1024 * 1024)
      df.repartition(s.sparkContext.defaultParallelism)
    else df
  }

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** BM25 constants as SQL fragments — MUST mirror Bm25.scoreCol's
    * operation order exactly (1.2+1.0 == 2.2 and 1.0-0.75 == 0.25 are
    * bit-exact double identities, verified). */
  private val bm25SqlCte =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok WHERE length(term) >= 2 GROUP BY 1, 2
      |), dl AS (
      |  SELECT doc_id, count(*) AS dl FROM tok WHERE length(term) >= 2 GROUP BY 1
      |), stats AS (
      |  -- avgdl as ONE double division over exact integer aggregates:
      |  -- mirrors the Spark side exactly (engine-internal avg() orders
      |  -- would otherwise have to agree bit-for-bit)
      |  SELECT (SELECT count(*) FROM documents) AS n,
      |         (SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |          FROM dl) AS avgdl
      |)""".stripMargin

  // ---------------------------------------------------------------------
  // Search-engine core over `documents` (docID = doc_id, text = corpus)
  // ---------------------------------------------------------------------

  /** A1 (CollectLemmasAction.java:37-45): tf per (doc, term). */
  def a1Tf(s: SparkSession, dir: String): DataFrame =
    TextOps.termFrequencies(t(s, dir, "documents"))
      .orderBy(col("doc_id"), col("term"))

  val a1TfSql: String =
    """SELECT doc_id, term, count(*) AS tf
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |WHERE length(term) >= 2 GROUP BY doc_id, term ORDER BY doc_id, term""".stripMargin

  /** A2 (LemmaServiceImpl.java:58-78): the term dictionary (df, maxTf). */
  def a2Dictionary(s: SparkSession, dir: String): DataFrame =
    TextOps.termFrequencies(t(s, dir, "documents"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"))
      .orderBy(col("term"))

  val a2DictionarySql: String =
    """SELECT term, count(*) AS df, max(tf) AS max_tf FROM (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |  WHERE length(term) >= 2 GROUP BY doc_id, term
      |) GROUP BY term ORDER BY term""".stripMargin

  /** A6 + BM25 broadcast stats: corpus-level aggregates. r8: dl per doc
    * is size(tokens) computed in the scan's map stage — the old tf →
    * groupBy(doc_id) detour cost an exploded-token exchange for a value
    * each row already knows (guide §2.4); the dl > 0 filter keeps the r7
    * n_docs semantics (docs with >= 1 valid token — every doc, on the
    * gate corpora). Float discipline unchanged: ONE double division over
    * exact integer aggregates + round(6). */
  def a6CorpusStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(size(TextOps.tokensCol).cast("long").as("dl"))
      .filter(col("dl") > 0)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl"))
      .select(col("n_docs"),
        round(col("sum_dl").cast("double") / col("n_docs").cast("double"), 6)
          .as("avgdl"),
        col("sum_dl").as("n_tokens"))

  val a6CorpusStatsSql: String =
    """SELECT count(*) AS n_docs,
      |       round(CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avgdl,
      |       -- DuckDB SUM(BIGINT) is HUGEINT (int128); the driver hashes
      |       -- values WITH their arrow type, so hugeint 26285 != int64
      |       -- 26285 — cast back (same fix as w4_sessionize's sess_id)
      |       CAST(sum(dl) AS BIGINT) AS n_tokens FROM (
      |  SELECT doc_id, count(*) AS dl
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |  WHERE length(term) >= 2 GROUP BY doc_id)""".stripMargin

  /** F4 (SearchServiceImpl.java:32,151-162): stop-term cap + df-asc
    * order. r8: N comes from the raw parquet scan (a metadata-only
    * count — the r7 count() on the rebalanced frame executed the
    * round-robin exchange just to count rows), and df per term explodes
    * each doc's DISTINCT tokens straight into the term aggregation —
    * one exchange of vocabulary-sized partials instead of the two-level
    * (doc, term) → (term) shuffle pair (guide §2.3). */
  def f4StopCap(s: SparkSession, dir: String): DataFrame = {
    val n = s.read.parquet(s"$dir/documents.parquet").count()
    t(s, dir, "documents")
      .select(explode(array_distinct(TextOps.tokensCol)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= lit(0.9) * lit(n.toDouble))
      .orderBy(col("df"), col("term"))
  }

  val f4StopCapSql: String =
    """SELECT term, df FROM (
      |  SELECT term, count(*) AS df FROM (
      |    SELECT doc_id, term FROM (
      |      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |    WHERE length(term) >= 2 GROUP BY doc_id, term
      |  ) GROUP BY term)
      |WHERE df <= 0.9 * (SELECT count(*) FROM documents)
      |ORDER BY df, term""".stripMargin

  /** J1/O6 (SearchServiceImpl.java:164-200): AND intersection of three
    * posting lists. r8: the left-semi chain over an exploded tf frame
    * (two exchanges + two semi-join stages) is a per-doc containment
    * conjunction — ONE map-only scan, zero joins; a doc holds a tf row
    * for a term iff its token array contains it, so the row set is
    * unchanged (guide §2.4, remove shuffles outright). */
  def j1AndIntersect(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokensCol
    t(s, dir, "documents")
      .filter(Seq("vector", "window", "spark")
        .map(tm => array_contains(toks, lit(tm))).reduce(_ && _))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  val j1AndIntersectSql: String =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, term
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |  WHERE length(term) >= 2)
      |SELECT doc_id FROM tok WHERE term = 'vector'
      |INTERSECT SELECT doc_id FROM tok WHERE term = 'window'
      |INTERSECT SELECT doc_id FROM tok WHERE term = 'spark'
      |ORDER BY doc_id""".stripMargin

  /** O5 (SearchServiceImpl.java:127-141): OR union of posting lists.
    * r8: union+distinct over the exploded tf frame → a per-doc
    * containment disjunction — ONE map-only scan, no distinct exchange
    * (doc_id is unique per source row, so the filter IS the distinct
    * union; guide §2.4). */
  def o5OrUnion(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokensCol
    t(s, dir, "documents")
      .filter(array_contains(toks, lit("vector")) ||
        array_contains(toks, lit("dup")))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  val o5OrUnionSql: String =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, term
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |  WHERE length(term) >= 2)
      |SELECT doc_id FROM tok WHERE term = 'vector'
      |UNION SELECT doc_id FROM tok WHERE term = 'dup'
      |ORDER BY doc_id""".stripMargin

  /** U5+A4+O2 (north star): BM25 top-10, AND semantics, 2 terms. */
  def u5Bm25TopK(s: SparkSession, dir: String): DataFrame =
    bm25(s, dir, Seq("spark", "merge"), and = true, k = 10)

  val u5Bm25TopKSql: String = bm25Sql(Seq("spark", "merge"), and = true, k = 10)

  /** BM25 OR mode (SURVEY.md §7.0.2). */
  def u5Bm25OrTopK(s: SparkSession, dir: String): DataFrame =
    bm25(s, dir, Seq("vector", "window"), and = false, k = 15)

  val u5Bm25OrTopKSql: String = bm25Sql(Seq("vector", "window"), and = false, k = 15)

  /** Exact-phrase BM25 top-k — the relational twin of
    * `SearchEngine.phraseTopK` (Lucene PhraseQuery semantics): same
    * scoring as `u5_bm25_topk` over the SAME term pair, but candidates
    * are docs where the phrase occurs CONSECUTIVELY in the filtered
    * token stream. Adjacency is a map-only higher-order-function
    * predicate over the token array (`exists` over the valid start
    * offsets — codegen'd, no positional self-join, no extra shuffle);
    * the SQL oracle mirrors it with the w1 ordinality idiom + an
    * adjacency join. */
  def phraseTopK(s: SparkSession, dir: String): DataFrame =
    bm25(s, dir, Seq("spark", "merge"), and = true, k = 10,
      phrase = Some(Seq("spark", "merge")))

  val phraseTopKSql: String = phraseSql(Seq("spark", "merge"), k = 10)

  /** NEAR/slop proximity BM25 top-k — the relational twin of
    * `SearchEngine.nearTopK`: same scoring as `u5_bm25_topk` over the
    * SAME pair, but candidates are docs where the two terms occur (in
    * either order) within a window of slop+1 consecutive tokens. The
    * window check is a map-only higher-order-function predicate over the
    * token array (slice windows — codegen'd, no positional self-join on
    * the Spark side); the DuckDB oracle mirrors it with the w1 ordinality
    * idiom + a |Δpos| <= slop positional join, the 2-term equivalent. */
  def nearTopK(s: SparkSession, dir: String): DataFrame =
    bm25(s, dir, Seq("spark", "merge"), and = true, k = 10,
      near = Some((Seq("spark", "merge"), 3)))

  val nearTopKSql: String = nearSql("spark", "merge", slop = 3, k = 10)

  /** Ordered NEAR BM25 top-k — the relational twin of
    * `SearchEngine.nearTopK(ordered = true)` (Lucene SpanNearQuery
    * inOrder class): the SAME pair, slop and scoring as `near_topk`, but
    * the occurrence-pair test requires p2 − p1 ∈ [1, slop] — strictly
    * increasing and span-bounded — instead of |Δpos| <= slop, the 2-term
    * case where ordered and unordered genuinely diverge (the gate pair
    * appears in both orders across the corpus). */
  def nearOrderedTopK(s: SparkSession, dir: String): DataFrame =
    bm25(s, dir, Seq("spark", "merge"), and = true, k = 10,
      near = Some((Seq("spark", "merge"), 3)), orderedNear = true)

  val nearOrderedTopKSql: String =
    nearOrderedSql("spark", "merge", slop = 3, k = 10)

  /** Boolean MUST + MUST_NOT BM25 top-k — the relational twin of
    * `SearchEngine.queryNot` (Lucene BooleanQuery): the same AND pair and
    * scoring as `j1_and_intersect`'s bm25 family, minus every doc
    * containing the prohibited term ('join' — the corpus's hottest term,
    * so the exclusion genuinely changes the result set); scores stay the
    * positives-only sums (prohibited clauses contribute no score). */
  def boolNotTopK(s: SparkSession, dir: String): DataFrame =
    bm25(s, dir, Seq("spark", "merge"), and = true, k = 10,
      not = Seq("join"))

  val boolNotTopKSql: String =
    boolNotSql(Seq("spark", "merge"), Seq("join"), k = 10)

  /** Typed-field FILTER clause BM25 top-k (Lucene BooleanQuery FILTER
    * occurs) — the relational twin of `SearchEngine.query(filter =
    * QueryFilter(role/tool))`: the AND intersection restricted to docs
    * with `lang = 'en'` (the documents-table analog of the transcript
    * corpus's keyword fields), scored with the UNFILTERED corpus
    * statistics — a filter restricts candidates and never re-weighs, so
    * every surviving hit keeps its unfiltered score (FieldFilterSpec pins
    * the law on the engine side; this gate pins it in DuckDB). lang='en'
    * keeps 218/500 sf0.01 docs: the filter has teeth without emptying
    * the top-10. */
  def fieldFilterTopK(s: SparkSession, dir: String): DataFrame =
    bm25(s, dir, Seq("spark", "merge"), and = true, k = 10,
      docPred = Some(col("lang") === "en"))

  val fieldFilterTopKSql: String =
    filteredSql(Seq("spark", "merge"), "d2.lang = 'en'", k = 10)

  /** Range FILTER clause BM25 top-k — the relational twin of the engine's
    * `ts`-range filter (`QueryFilter(tsFrom/tsTo)`): an inclusive range
    * predicate on an ordered doc column (`n_chars`, the documents-table
    * stand-in for the transcript `ts` stamp) restricting candidates with
    * unfiltered scores. On the engine side the same predicate becomes
    * docId SEGMENTS (contiguousRuns over the time-ordered docs) that
    * bound the posting walk; here it is the pushable min/max row-group
    * predicate the segments derive from. */
  def rangeFilterTopK(s: SparkSession, dir: String): DataFrame =
    bm25(s, dir, Seq("spark", "merge"), and = true, k = 10,
      docPred = Some(col("n_chars") >= 200 && col("n_chars") <= 600))

  val rangeFilterTopKSql: String =
    filteredSql(Seq("spark", "merge"),
      "d2.n_chars BETWEEN 200 AND 600", k = 10)

  /** Boolean SHOULD / minimum_should_match BM25 top-k — the relational
    * twin of `SearchEngine.queryShould` (Lucene BooleanQuery optional
    * clauses + setMinimumNumberShouldMatch, the third clause type after
    * MUST/`u5_bm25_topk` and MUST_NOT/`bool_not_topk`): candidates are
    * docs matching >= 2 of the 3 SHOULD terms ('vector'/'merge' hot +
    * 'dup' rare, so the top-10 genuinely mixes matched=2 and matched=3
    * rows — 464/323/13 docs at minMatch 1/2/3 on the sf0.01 corpus),
    * scored by the BM25 sum over the MATCHED terms only, with the
    * matched count emitted so the oracle pins the count qualifier
    * itself, not just its rank side-effects. A 3-term float sum is made
    * deterministic in BOTH engines by FIXED-ORDER column addition
    * (per-term score columns added in the literal term order — ((s1+s2)
    * +s3) in each) instead of an aggregation-order-dependent sum, the
    * hazard the 2-term gates avoid by arity. */
  def boolShouldTopK(s: SparkSession, dir: String): DataFrame =
    bm25Should(s, dir, Seq("vector", "merge", "dup"), minMatch = 2, k = 10)

  val boolShouldTopKSql: String =
    boolShouldSql(Seq("vector", "merge", "dup"), minMatch = 2, k = 10)

  /** COMBINED BooleanQuery BM25 top-k — the relational twin of
    * `SearchEngine.queryBool` (r7: all four Lucene clause types in ONE
    * query): candidates hold the MUST term ('spark', hot), at least 1 of
    * the 2 SHOULD terms ('vector' hot / 'dup' rare — the optional
    * clauses genuinely re-rank, matched ∈ {1, 2}), and never the
    * MUST_NOT term ('join', the corpus's hottest term — the exclusion
    * has teeth); scored over MUST + MATCHED SHOULD only. The float sum
    * is deterministic in BOTH engines by FIXED-ORDER column addition
    * (s_spark + s_vector + s_dup, left-assoc, coalesce 0 — the
    * bool_should_topk discipline); the matched-SHOULD count is emitted
    * so the oracle pins the count qualifier itself. */
  def boolMixedTopK(s: SparkSession, dir: String): DataFrame =
    bm25Mixed(s, dir, must = Seq("spark"), should = Seq("vector", "dup"),
      not = Seq("join"), minMatch = 1, k = 10)

  val boolMixedTopKSql: String =
    boolMixedSql(must = Seq("spark"), should = Seq("vector", "dup"),
      not = Seq("join"), minMatch = 1, k = 10)

  /** Phrase-as-clause BM25 top-k — the relational twin of
    * `SearchEngine.queryBoolPhrase` (r7: a required PHRASE clause
    * composed with SHOULD + MUST_NOT in one BooleanQuery): candidates
    * contain 'spark merge' ADJACENT (the `phrase_topk` predicate), at
    * least 1 of the 2 SHOULD terms ('vector' hot / 'dup' rare) and
    * never the MUST_NOT term ('group' — hot, with teeth); scored over
    * the phrase terms + MATCHED SHOULD in the fixed column order
    * (s_spark + s_merge + s_vector + s_dup, left-assoc, coalesce 0 —
    * the bool_should_topk float discipline), matched count emitted. */
  def boolPhraseTopK(s: SparkSession, dir: String): DataFrame =
    bm25PhraseMixed(s, dir, phrase = Seq("spark", "merge"),
      should = Seq("vector", "dup"), not = Seq("group"), minMatch = 1,
      k = 10)

  val boolPhraseTopKSql: String =
    boolPhraseSql(phrase = Seq("spark", "merge"),
      should = Seq("vector", "dup"), not = Seq("group"), minMatch = 1,
      k = 10)

  /** Spark twin for [[boolPhraseTopK]]: the single-pass per-doc scaffold
    * with candidates = the adjacency prefilter+scan predicate, the
    * matched-SHOULD count and the fixed-order sum. */
  private def bm25PhraseMixed(s: SparkSession, dir: String,
                              phrase: Seq[String], should: Seq[String],
                              not: Seq[String], minMatch: Int,
                              k: Int): DataFrame = {
    val all = phrase.distinct ++ should
    val perDoc = perDocFacts(t(s, dir, "documents"), all ++ not,
      (_, toks) => phrasePredicate(toks, phrase))
    bm25TopKFromFacts(s, perDoc, scoredOrder = all, matchedOver = should,
      notTerms = not, docPred = None, minMatch = minMatch, k = k)
  }

  /** Composed-phrase oracle: `phraseSql`'s positional-adjacency cand CTE
    * ∖ the MUST_NOT docs, then the bm25Mixed pivot/HAVING tail. */
  private def boolPhraseSql(phrase: Seq[String], should: Seq[String],
                            not: Seq[String], minMatch: Int,
                            k: Int): String = {
    val all = phrase.distinct ++ should
    val inList = all.map(x => s"'$x'").mkString(", ")
    val shouldIn = should.map(x => s"'$x'").mkString(", ")
    val notIn = not.map(x => s"'$x'").mkString(", ")
    val joins = phrase.zipWithIndex.drop(1).map { case (tm, j) =>
      s"JOIN pos p${j + 1} ON p${j + 1}.doc_id = p1.doc_id AND " +
        s"p${j + 1}.pos = p1.pos + $j AND p${j + 1}.term = '$tm'"
    }.mkString("\n  ")
    val addCols = all.map(tm =>
      s"coalesce(max(CASE WHEN term = '$tm' THEN s END), 0)")
      .mkString("\n      + ")
    s"""$bm25SqlCte, $posCte, qt AS (
       |  SELECT term, count(*) AS df FROM tf WHERE term IN ($inList) GROUP BY term
       |), cand AS (
       |  SELECT DISTINCT p1.doc_id FROM pos p1
       |  $joins
       |  WHERE p1.term = '${phrase.head}'
       |    AND p1.doc_id NOT IN (SELECT doc_id FROM tf WHERE term IN ($notIn))
       |), sc AS (
       |  SELECT t.doc_id, t.term,
       |    ln((s.n - q.df + 0.5)/(q.df + 0.5) + 1.0) * t.tf * (1.2 + 1.0)
       |      / (t.tf + 1.2 * ((1.0 - 0.75) + 0.75 * d.dl / s.avgdl)) AS s
       |  FROM tf t JOIN qt q ON q.term = t.term JOIN dl d ON d.doc_id = t.doc_id
       |  CROSS JOIN stats s
       |  WHERE t.term IN ($inList)
       |    AND t.doc_id IN (SELECT doc_id FROM cand)
       |)
       |SELECT doc_id,
       |  CAST(count(CASE WHEN term IN ($shouldIn) THEN 1 END) AS BIGINT) AS matched,
       |  round($addCols, 6) AS score
       |FROM sc
       |GROUP BY doc_id
       |HAVING count(CASE WHEN term IN ($shouldIn) THEN 1 END) >= $minMatch
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Prefix-term BM25 top-k (Lucene PrefixQuery, scoring rewrite) — the
    * relational twin of `SearchEngine.prefixTopK`: the expansion is every
    * dictionary term starting with the prefix ('d' → {data, dup} on this
    * corpus: one hot term + one rare term, so the expansion actually
    * changes the ranking), then the standard OR/BM25 tail over the
    * expansion with per-expanded-term df. ≤2 expansions keeps the score
    * sum commutative like every bm25 gate; the engine-side operator
    * handles arbitrary expansions (canonical-order fold) and is pinned by
    * ProximitySpec instead. */
  def prefixTermTopK(s: SparkSession, dir: String): DataFrame =
    bm25Prefix(s, dir, "d", k = 10)

  val prefixTermTopKSql: String = prefixSql("d", k = 10)

  /** Fuzzy-term BM25 top-k (Lucene FuzzyQuery, scoring rewrite) — the
    * relational twin of `SearchEngine.fuzzyTopK`: the expansion is every
    * corpus term within Levenshtein distance 2 of the out-of-vocabulary
    * pattern ('grup' → {group, dup} on this corpus: one hot term + one
    * rare term, so the expansion actually changes the ranking), then the
    * standard OR/BM25 tail with per-expanded-term df. ≤2 expansions keeps
    * the score sum commutative like every bm25 gate; the engine-side
    * operator handles arbitrary expansions (canonical-order fold) and is
    * pinned by ProximitySpec instead. Spark's and DuckDB's `levenshtein`
    * are both the classic unit-cost edit distance, so the oracle is
    * exact. */
  def fuzzyTermTopK(s: SparkSession, dir: String): DataFrame =
    bm25Fuzzy(s, dir, "grup", maxEdits = 2, k = 10)

  val fuzzyTermTopKSql: String = fuzzySql("grup", maxEdits = 2, k = 10)

  /** Wildcard BM25 top-k (Lucene WildcardQuery, scoring rewrite) — the
    * relational twin of `SearchEngine.wildcardTopK`: the glob `*up`
    * (LIKE '%up' in both engines — identical semantics, `*`→`%`) expands
    * to {group, dup} on this corpus — hot + rare again, and a LEADING
    * wildcard so the no-prefix-cut path is the one gated. ≤2 expansions
    * keeps the score sum commutative; arbitrary expansions are pinned by
    * ProximitySpec engine-side. */
  def wildcardTopK(s: SparkSession, dir: String): DataFrame =
    bm25Like(s, dir, "%up", k = 10)

  val wildcardTopKSql: String = likeSql("%up", k = 10)

  // -------------------------------------------------------------------
  // r8 single-pass scaffold for the bm25 gate family (optimization guide
  // §2.3/§2.4: aggregate before shuffling, remove shuffles outright).
  // The r7 shape tokenized the corpus into an exploded (doc, term) frame,
  // shuffled it into a cached tf table and ran 3-4 jobs of joins per
  // gate; but every gate only ever needs per-DOCUMENT facts about <= 6
  // literal query terms — dl, the tf of each query term, a positional
  // predicate — all computable in ONE codegen map pass over the documents
  // scan with no explode and no (doc, term) exchange. Corpus statistics
  // (N, Σdl, per-term df) reduce to a single tiny aggregate over that
  // per-doc frame, and scoring + top-k is a second pass over the same
  // cached frame ending in TakeOrderedAndProject (per-task heap + driver
  // merge — no wide exchange anywhere). The same shape at 100 TB: one
  // map stage over the corpus scan, one scalar-sized aggregate, one
  // top-k. Float discipline is unchanged and results stay bit-identical
  // to the r7 shape (driver oracle + the query-family specs pin it):
  // Bm25.scoreCol sees the identical (tf, df, dl, N, avgdl) inputs, sums
  // are fixed-order left-assoc column additions (adding coalesce-0.0 for
  // an absent optional term is an IEEE no-op on the non-negative
  // scores; the r7 2-term sum() aggregates were commutative pairs), and
  // round(..., 6) is the same final op.

  /** Per-doc fact frame: doc_id, lang, n_chars, dl, `tf_<term>` for each
    * distinct term of `terms`, plus `cand` — the gate's candidate
    * predicate built over (per-term tf columns, token array). One
    * tokenize, map-only, no shuffle. */
  private def perDocFacts(docs: DataFrame, terms: Seq[String],
      candidate: (Map[String, Column], Column) => Column): DataFrame = {
    val toks = col("toks")
    val distinctTerms = terms.distinct
    // layered projections: tokenize once, then the per-term tf columns,
    // then the candidate over the tf COLUMN REFS. The higher-order
    // filter() projections are interpreted (no whole-stage codegen, so
    // no subexpression elimination) — building `cand` from the raw tf
    // expressions would evaluate each term's filter twice per row.
    // CollapseProject keeps the layers apart exactly because the tf
    // aliases are referenced more than once.
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
        TextOps.tokensCol.as("toks"))
      .select(Seq(col("doc_id"), col("lang"), col("n_chars"), toks,
        size(toks).cast("long").as("dl")) ++
        distinctTerms.map(tm =>
          size(filter(toks, x => x === lit(tm))).cast("long")
            .as(s"tf_$tm")): _*)
      .select(Seq(col("doc_id"), col("lang"), col("n_chars"), col("dl")) ++
        distinctTerms.map(tm => col(s"tf_$tm")) :+
        candidate(distinctTerms.map(tm => tm -> col(s"tf_$tm")).toMap,
          toks).as("cand"): _*)
  }

  /** Phrase adjacency candidate predicate over the token array — the r6
    * prefilter+offset-scan shape, unchanged semantics: array_contains per
    * term kills ~all rows before the O(len·m) adjacency scan (adjacency
    * implies contains-all), and the CaseWhen guards too-short rows
    * (sequence(0, negative) would generate a DESCENDING range). */
  private def phrasePredicate(toks: Column, ph: Seq[String]): Column = {
    val m = ph.length
    val hasAll = ph.distinct.map(tm => array_contains(toks, lit(tm)))
      .reduce(_ && _)
    val adjacent = exists(sequence(lit(0), size(toks) - lit(m)),
      i => ph.zipWithIndex.map { case (tm, j) =>
        element_at(toks, i + lit(j + 1)) === lit(tm) }.reduce(_ && _))
    hasAll && when(size(toks) >= m, adjacent).otherwise(lit(false))
  }

  /** Stats + scoring tail shared by the whole bm25 family: ONE action
    * for (N, Σdl, df per scored term) over the cached per-doc frame,
    * then candidates filtered, scored and topped in a second pass.
    * `scoredOrder` fixes the float-sum order (left-assoc — the
    * bool_should discipline); `matchedOver` names the terms counted into
    * an emitted `matched` column (empty = no such column, plain
    * (doc_id, score) output); `notTerms` / `docPred` restrict candidates
    * only — every statistic is the unfiltered corpus's, so a surviving
    * hit keeps its unfiltered score (Lucene FILTER semantics). */
  private def bm25TopKFromFacts(s: SparkSession, perDoc0: DataFrame,
      scoredOrder: Seq[String], matchedOver: Seq[String],
      notTerms: Seq[String], docPred: Option[Column], minMatch: Int,
      k: Int): DataFrame = {
    val perDoc = perDoc0.cache()
    try {
      val distinctScored = scoredOrder.distinct
      // N and avgdl over docs with >= 1 valid token (the r7 dl-frame
      // semantics); ONE double division over exact integer aggregates
      val statAggs = Seq(count(when(col("dl") > 0, 1)).as("n"),
        sum(col("dl")).as("sum_dl")) ++
        distinctScored.map(tm =>
          count(when(col(s"tf_$tm") > 0, 1)).as(s"df_$tm"))
      val st = perDoc.agg(statAggs.head, statAggs.tail: _*).head()
      val n = st.getLong(0)
      val avgdl = st.getLong(1).toDouble / n.toDouble
      val dfs = distinctScored.zipWithIndex
        .map { case (tm, i) => tm -> st.getLong(2 + i) }.toMap
      def scoreOf(tm: String): Column =
        Bm25.scoreCol(col(s"tf_$tm"), lit(dfs(tm)), col("dl"), n, avgdl)
      val sumCol =
        if (scoredOrder.isEmpty) lit(0.0)
        else scoredOrder.map(tm =>
          coalesce(when(col(s"tf_$tm") > 0, scoreOf(tm)), lit(0.0)))
          .reduce(_ + _)
      var cur = perDoc.filter(col("cand"))
      if (notTerms.nonEmpty)
        cur = cur.filter(!notTerms.map(tm => col(s"tf_$tm") > 0)
          .reduce(_ || _))
      docPred.foreach(p => cur = cur.filter(p))
      val result =
        if (matchedOver.isEmpty)
          cur.select(col("doc_id"), round(sumCol, 6).as("score"))
            .orderBy(col("score").desc, col("doc_id"))
            .limit(k)
        else {
          val matchedCol = matchedOver.map(tm =>
            when(col(s"tf_$tm") > 0, 1L).otherwise(0L)).reduce(_ + _)
          cur.withColumn("matched", matchedCol)
            .filter(col("matched") >= minMatch)
            .select(col("doc_id"), col("matched"),
              round(sumCol, 6).as("score"))
            .orderBy(col("score").desc, col("doc_id"))
            .limit(k)
        }
      s.createDataFrame(result.collectAsList(), result.schema)
    } finally perDoc.unpersist()
  }

  private def bm25(s: SparkSession, dir: String, terms: Seq[String],
                   and: Boolean, k: Int,
                   phrase: Option[Seq[String]] = None,
                   near: Option[(Seq[String], Int)] = None,
                   orderedNear: Boolean = false,
                   not: Seq[String] = Nil,
                   docPred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val docs = t(s, dir, "documents")
    val perDoc = perDocFacts(docs, terms ++ not, {
      case (tfOf, toks) => (phrase, near) match {
        case (Some(ph), _) => phrasePredicate(toks, ph)
        case (None, Some((nt, slop))) =>
          nearPredicate(toks, nt, slop, orderedNear)
        case _ if and => terms.map(tm => tfOf(tm) > 0).reduce(_ && _)
        case _ => terms.map(tm => tfOf(tm) > 0).reduce(_ || _)
      }
    })
    bm25TopKFromFacts(s, perDoc, scoredOrder = terms, matchedOver = Nil,
      notTerms = not, docPred = docPred, minMatch = 0, k = k)
  }

  private def bm25Sql(terms: Seq[String], and: Boolean, k: Int): String = {
    val inList = terms.map(x => s"'$x'").mkString(", ")
    val cand =
      if (and) terms.map(x => s"SELECT doc_id FROM tf WHERE term = '$x'")
        .mkString("\nINTERSECT ")
      else s"SELECT DISTINCT doc_id FROM tf WHERE term IN ($inList)"
    s"""$bm25SqlCte, qt AS (
       |  SELECT term, count(*) AS df FROM tf WHERE term IN ($inList) GROUP BY term
       |), cand AS (
       |  $cand
       |)
       |${bm25ScoreTail(s"t.term IN ($inList)", k)}""".stripMargin
  }

  /** FILTER oracle: the AND-intersection candidates restricted to docs
    * passing a column predicate (aliased `d2` over `documents`); the
    * scoring tail — and every statistic it reads — is the unfiltered
    * corpus's. */
  private def filteredSql(terms: Seq[String], pred: String, k: Int): String = {
    val inList = terms.map(x => s"'$x'").mkString(", ")
    val intersect = terms.map(x => s"SELECT doc_id FROM tf WHERE term = '$x'")
      .mkString("\nINTERSECT ")
    s"""$bm25SqlCte, qt AS (
       |  SELECT term, count(*) AS df FROM tf WHERE term IN ($inList) GROUP BY term
       |), cand AS (
       |  SELECT doc_id FROM (
       |  $intersect
       |  ) WHERE doc_id IN (SELECT doc_id FROM documents d2 WHERE $pred)
       |)
       |${bm25ScoreTail(s"t.term IN ($inList)", k)}""".stripMargin
  }

  /** MUST_NOT oracle: the AND-intersection candidates EXCEPT any doc
    * holding a prohibited term; the scoring tail ranges over the
    * positives only. */
  private def boolNotSql(terms: Seq[String], not: Seq[String], k: Int): String = {
    val inList = terms.map(x => s"'$x'").mkString(", ")
    val notList = not.map(x => s"'$x'").mkString(", ")
    val intersect = terms.map(x => s"SELECT doc_id FROM tf WHERE term = '$x'")
      .mkString("\nINTERSECT ")
    s"""$bm25SqlCte, qt AS (
       |  SELECT term, count(*) AS df FROM tf WHERE term IN ($inList) GROUP BY term
       |), cand AS (
       |  SELECT * FROM (
       |  $intersect
       |  ) EXCEPT SELECT doc_id FROM tf WHERE term IN ($notList)
       |)
       |${bm25ScoreTail(s"t.term IN ($inList)", k)}""".stripMargin
  }

  /** Spark side of `bool_should_topk`: the single-pass per-doc scaffold
    * with candidates = any SHOULD term present, the count qualifier >=
    * minMatch, and the FIXED-ORDER column sum (see the gate scaladoc). */
  private def bm25Should(s: SparkSession, dir: String, terms: Seq[String],
                         minMatch: Int, k: Int): DataFrame = {
    val perDoc = perDocFacts(t(s, dir, "documents"), terms,
      (tfOf, _) => terms.map(tm => tfOf(tm) > 0).reduce(_ || _))
    bm25TopKFromFacts(s, perDoc, scoredOrder = terms, matchedOver = terms,
      notTerms = Nil, docPred = None, minMatch = minMatch, k = k)
  }

  /** Combined-BooleanQuery twin (see [[boolMixedTopK]]): the single-pass
    * per-doc scaffold with candidates = every MUST term present ∧
    * matched-SHOULD count >= minMatch ∧ no MUST_NOT term present,
    * fixed-order column sum over must ∪ should. */
  private def bm25Mixed(s: SparkSession, dir: String, must: Seq[String],
                        should: Seq[String], not: Seq[String],
                        minMatch: Int, k: Int): DataFrame = {
    val all = must ++ should
    val perDoc = perDocFacts(t(s, dir, "documents"), all ++ not,
      (tfOf, _) => must.map(tm => tfOf(tm) > 0).reduce(_ && _))
    bm25TopKFromFacts(s, perDoc, scoredOrder = all, matchedOver = should,
      notTerms = not, docPred = None, minMatch = minMatch, k = k)
  }

  /** Combined-BooleanQuery oracle: the boolShouldSql shape with a MUST
    * count equality, a NOT-IN exclusion and the matched-SHOULD HAVING. */
  private def boolMixedSql(must: Seq[String], should: Seq[String],
                           not: Seq[String], minMatch: Int, k: Int): String = {
    val all = must ++ should
    val inList = all.map(x => s"'$x'").mkString(", ")
    val mustIn = must.map(x => s"'$x'").mkString(", ")
    val shouldIn = should.map(x => s"'$x'").mkString(", ")
    val notIn = not.map(x => s"'$x'").mkString(", ")
    val addCols = all.map(tm =>
      s"coalesce(max(CASE WHEN term = '$tm' THEN s END), 0)")
      .mkString("\n      + ")
    s"""$bm25SqlCte, qt AS (
       |  SELECT term, count(*) AS df FROM tf WHERE term IN ($inList) GROUP BY term
       |), sc AS (
       |  SELECT t.doc_id, t.term,
       |    ln((s.n - q.df + 0.5)/(q.df + 0.5) + 1.0) * t.tf * (1.2 + 1.0)
       |      / (t.tf + 1.2 * ((1.0 - 0.75) + 0.75 * d.dl / s.avgdl)) AS s
       |  FROM tf t JOIN qt q ON q.term = t.term JOIN dl d ON d.doc_id = t.doc_id
       |  CROSS JOIN stats s WHERE t.term IN ($inList)
       |)
       |SELECT doc_id,
       |  CAST(count(CASE WHEN term IN ($shouldIn) THEN 1 END) AS BIGINT) AS matched,
       |  round($addCols, 6) AS score
       |FROM sc
       |WHERE doc_id NOT IN (SELECT doc_id FROM tf WHERE term IN ($notIn))
       |GROUP BY doc_id
       |HAVING count(CASE WHEN term IN ($mustIn) THEN 1 END) = ${must.size}
       |   AND count(CASE WHEN term IN ($shouldIn) THEN 1 END) >= $minMatch
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** SHOULD oracle: per-(doc, term) scores in an `sc` CTE, HAVING
    * count >= minMatch, and the same fixed-order coalesce(max(CASE)) sum
    * as the Spark twin. */
  private def boolShouldSql(terms: Seq[String], minMatch: Int, k: Int): String = {
    val inList = terms.map(x => s"'$x'").mkString(", ")
    val addCols = terms.map(tm =>
      s"coalesce(max(CASE WHEN term = '$tm' THEN s END), 0)")
      .mkString("\n      + ")
    s"""$bm25SqlCte, qt AS (
       |  SELECT term, count(*) AS df FROM tf WHERE term IN ($inList) GROUP BY term
       |), sc AS (
       |  SELECT t.doc_id, t.term,
       |    ln((s.n - q.df + 0.5)/(q.df + 0.5) + 1.0) * t.tf * (1.2 + 1.0)
       |      / (t.tf + 1.2 * ((1.0 - 0.75) + 0.75 * d.dl / s.avgdl)) AS s
       |  FROM tf t JOIN qt q ON q.term = t.term JOIN dl d ON d.doc_id = t.doc_id
       |  CROSS JOIN stats s WHERE t.term IN ($inList)
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS matched,
       |  round($addCols, 6) AS score
       |FROM sc GROUP BY doc_id HAVING count(*) >= $minMatch
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** The shared BM25 scoring tail over a `cand(doc_id)` CTE (used by the
    * AND/OR, phrase, near and prefix oracles). `termPred` restricts the
    * tf join to the query's terms — an IN list or a LIKE pattern over
    * the aliased column `t.term`. */
  private def bm25ScoreTail(termPred: String, k: Int): String =
    s"""SELECT c.doc_id,
       |  round(sum( ln((s.n - q.df + 0.5)/(q.df + 0.5) + 1.0) * t.tf * (1.2 + 1.0)
       |             / (t.tf + 1.2 * ((1.0 - 0.75) + 0.75 * d.dl / s.avgdl)) ), 6) AS score
       |FROM cand c
       |JOIN tf t ON t.doc_id = c.doc_id AND $termPred
       |JOIN qt q ON q.term = t.term
       |JOIN dl d ON d.doc_id = c.doc_id
       |CROSS JOIN stats s
       |GROUP BY c.doc_id
       |ORDER BY score DESC, c.doc_id
       |LIMIT $k""".stripMargin

  /** Token-ordinal CTE shared by the positional oracles (the w1
    * ordinality idiom over the filtered token stream). A `def`, NOT a
    * `val`: the *TopKSql vals above evaluate during object init, before
    * a later-declared val would be assigned (a null would silently embed
    * in the SQL). */
  private def posCte: String =
    """pos AS (
      |  SELECT doc_id, CAST(p.i AS INT) AS pos, p.term FROM (
      |    SELECT doc_id, unnest([{'i': i, 'term': w[i]} for i in range(1, len(w) + 1)]) AS p
      |    FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) >= 2) AS w
      |          FROM documents))
      |)""".stripMargin

  /** NEAR candidate predicate shared by `near_topk` and `near3_matches`
    * (occurrence-pair formulation, ADVICE r05 item 4): a cheap
    * array_contains prefilter (O(len·terms)) kills ~all rows, then
    * per-term ordinal lists via one indexed filter each, and the window
    * test runs over OCCURRENCES: exists one ordinal per term whose span
    * <= slop (⇔ some slop+1-wide window contains every term). occ^arity
    * per surviving doc with occ ≪ len — vs the old every-window
    * O(len·slop·terms) scan over every doc. Map-only; no positional
    * self-join, no shuffle. */
  private def nearPredicate(w: Column, nt: Seq[String],
                            slop: Int, ordered: Boolean): Column = {
    val hasAll = nt.distinct.map(tm => array_contains(w, lit(tm)))
      .reduce(_ && _)
    val occ = nt.map(tm =>
      filter(transform(w, (x, i) => when(x === lit(tm), i)
        .otherwise(lit(null))), x => x.isNotNull))
    val windowed = (occ, ordered) match {
      case (Seq(a, b), false) =>
        exists(a, p1 => exists(b, p2 => abs(p1 - p2) <= lit(slop)))
      case (Seq(a, b), true) => // ordered: strictly increasing, span-bound
        exists(a, p1 => exists(b, p2 =>
          p2 - p1 >= lit(1) && p2 - p1 <= lit(slop)))
      case (Seq(a, b, c), false) =>
        exists(a, p1 => exists(b, p2 => exists(c, p3 =>
          greatest(p1, p2, p3) - least(p1, p2, p3) <= lit(slop))))
      case _ => // arbitrary arity/order: the engine operator handles it;
        // the gate twins stay at 2-3 terms (commutative score sums)
        throw new IllegalArgumentException(
          s"near gate twin supports 2-3 terms (ordered: 2), got ${nt.size}")
    }
    hasAll && windowed
  }

  private def nearCandidates(docs: DataFrame, nt: Seq[String],
                             slop: Int, ordered: Boolean = false): DataFrame =
    docs.filter(nearPredicate(TextOps.tokensCol, nt, slop, ordered))
      .select(col("doc_id"))

  /** 3-term NEAR window membership (VERDICT r05 item 6: the 2-term
    * `near_topk` oracle pins |Δpos| but not arity — this gate pins the
    * span semantics at arity 3 against an independent DuckDB positional
    * triple-join). Candidates only (ORDER BY doc_id): a 3-float BM25 sum
    * would reintroduce the float-associativity hazard the 2-term gates
    * avoid by design; scoring at arbitrary arity is pinned engine-side
    * by ProximitySpec's canonical-order fold tests. */
  def near3Matches(s: SparkSession, dir: String): DataFrame =
    nearCandidates(t(s, dir, "documents"), Seq("spark", "merge", "join"),
      slop = 4).orderBy(col("doc_id"))

  val near3MatchesSql: String =
    s"""WITH $posCte
       |SELECT DISTINCT a.doc_id FROM pos a
       |JOIN pos b ON b.doc_id = a.doc_id AND b.term = 'merge'
       |JOIN pos c ON c.doc_id = a.doc_id AND c.term = 'join'
       |WHERE a.term = 'spark'
       |  AND greatest(a.pos, b.pos, c.pos) - least(a.pos, b.pos, c.pos) <= 4
       |ORDER BY a.doc_id""".stripMargin

  /** Phrase oracle: candidates via the w1 ordinality idiom + an
    * adjacency self-join chain (p1.pos + j), then the shared BM25 tail. */
  private def phraseSql(terms: Seq[String], k: Int): String = {
    val inList = terms.map(x => s"'$x'").mkString(", ")
    val joins = terms.zipWithIndex.drop(1).map { case (tm, j) =>
      s"JOIN pos p${j + 1} ON p${j + 1}.doc_id = p1.doc_id AND " +
        s"p${j + 1}.pos = p1.pos + $j AND p${j + 1}.term = '$tm'"
    }.mkString("\n  ")
    s"""$bm25SqlCte, $posCte, qt AS (
       |  SELECT term, count(*) AS df FROM tf WHERE term IN ($inList) GROUP BY term
       |), cand AS (
       |  SELECT DISTINCT p1.doc_id FROM pos p1
       |  $joins
       |  WHERE p1.term = '${terms.head}'
       |)
       |${bm25ScoreTail(s"t.term IN ($inList)", k)}""".stripMargin
  }

  /** NEAR oracle (2 terms): for two distinct terms, "some slop+1-token
    * window contains both" is exactly "|pos(a) − pos(b)| <= slop for some
    * occurrence pair" — one positional self-join, then the shared tail. */
  private def nearSql(t1: String, t2: String, slop: Int, k: Int): String = {
    val inList = s"'$t1', '$t2'"
    s"""$bm25SqlCte, $posCte, qt AS (
       |  SELECT term, count(*) AS df FROM tf WHERE term IN ($inList) GROUP BY term
       |), cand AS (
       |  SELECT DISTINCT a.doc_id FROM pos a
       |  JOIN pos b ON b.doc_id = a.doc_id AND b.term = '$t2'
       |            AND abs(b.pos - a.pos) <= $slop
       |  WHERE a.term = '$t1'
       |)
       |${bm25ScoreTail(s"t.term IN ($inList)", k)}""".stripMargin
  }

  /** Ordered-NEAR oracle (2 terms): the [[nearSql]] positional
    * self-join with the directed predicate b.pos − a.pos ∈ [1, slop]. */
  private def nearOrderedSql(t1: String, t2: String, slop: Int,
                             k: Int): String = {
    val inList = s"'$t1', '$t2'"
    s"""$bm25SqlCte, $posCte, qt AS (
       |  SELECT term, count(*) AS df FROM tf WHERE term IN ($inList) GROUP BY term
       |), cand AS (
       |  SELECT DISTINCT a.doc_id FROM pos a
       |  JOIN pos b ON b.doc_id = a.doc_id AND b.term = '$t2'
       |            AND b.pos - a.pos BETWEEN 1 AND $slop
       |  WHERE a.term = '$t1'
       |)
       |${bm25ScoreTail(s"t.term IN ($inList)", k)}""".stripMargin
  }

  /** Prefix oracle: the expansion IS the LIKE pattern — qt carries
    * per-expanded-term df, candidates are any doc with a matching term,
    * and the tail joins on the same pattern. */
  private def prefixSql(pre: String, k: Int): String =
    s"""$bm25SqlCte, qt AS (
       |  SELECT term, count(*) AS df FROM tf WHERE term LIKE '$pre%' GROUP BY term
       |), cand AS (
       |  SELECT DISTINCT doc_id FROM tf WHERE term LIKE '$pre%'
       |)
       |${bm25ScoreTail(s"t.term LIKE '$pre%'", k)}""".stripMargin

  /** Wildcard analog of [[prefixSql]]: an arbitrary LIKE pattern (the
    * engine-side glob with `*`→`%`, `?`→`_`). */
  private def likeSql(like: String, k: Int): String =
    s"""$bm25SqlCte, qt AS (
       |  SELECT term, count(*) AS df FROM tf WHERE term LIKE '$like' GROUP BY term
       |), cand AS (
       |  SELECT DISTINCT doc_id FROM tf WHERE term LIKE '$like'
       |)
       |${bm25ScoreTail(s"t.term LIKE '$like'", k)}""".stripMargin

  /** Fuzzy analog of [[prefixSql]]: the term predicate is DuckDB's
    * `levenshtein` (classic unit-cost edit distance — identical to
    * Spark's builtin) against the pattern. */
  private def fuzzySql(q: String, maxEdits: Int, k: Int): String =
    s"""$bm25SqlCte, qt AS (
       |  SELECT term, count(*) AS df FROM tf WHERE levenshtein(term, '$q') <= $maxEdits GROUP BY term
       |), cand AS (
       |  SELECT DISTINCT doc_id FROM tf WHERE levenshtein(term, '$q') <= $maxEdits
       |)
       |${bm25ScoreTail(s"levenshtein(t.term, '$q') <= $maxEdits", k)}""".stripMargin




  /** The shared Spark side of the expansion gates (`prefix_term_topk`,
    * `fuzzy_term_topk`, `wildcard_topk`): the bm25 pipeline with the term
    * filter swapped from an IN list to an arbitrary expansion predicate —
    * df, candidates and the score join all range over the expansion. */
  private def bm25Expansion(s: SparkSession, dir: String,
                            termPred: Column => Column, k: Int): DataFrame = {
    val docs = t(s, dir, "documents")
    // resolve the expansion in ONE map pass: the term predicate runs
    // inside a higher-order filter over each doc's DISTINCT tokens (so
    // levenshtein/LIKE runs once per distinct token per doc, never per
    // occurrence), almost every doc emits zero rows, and the distinct()
    // shuffle carries only the handful of matching vocabulary terms —
    // the r7 shape built the full (doc, term) tf frame first (two
    // exchanges) just to derive this list
    val matched = docs
      .select(explode(filter(array_distinct(TextOps.tokensCol),
        x => termPred(x))).as("term"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted
    if (matched.isEmpty) {
      // empty expansion: the r7 shape's empty (doc_id, score) result
      val result = t(s, dir, "documents").filter(lit(false))
        .select(col("doc_id"), round(lit(0.0), 6).as("score"))
      return s.createDataFrame(result.collectAsList(), result.schema)
    }
    val perDoc = perDocFacts(docs, matched,
      (tfOf, _) => matched.map(tm => tfOf(tm) > 0).reduce(_ || _))
    // <= 2 expansions in every gate: the score sum is commutative, so the
    // sorted fixed order is bit-equal to the r7 aggregation sum
    bm25TopKFromFacts(s, perDoc, scoredOrder = matched, matchedOver = Nil,
      notTerms = Nil, docPred = None, minMatch = 0, k = k)
  }

  private def bm25Prefix(s: SparkSession, dir: String, pre: String,
                         k: Int): DataFrame =
    bm25Expansion(s, dir, _.startsWith(pre), k)

  private def bm25Fuzzy(s: SparkSession, dir: String, q: String,
                        maxEdits: Int, k: Int): DataFrame =
    bm25Expansion(s, dir, t => levenshtein(t, lit(q)) <= maxEdits, k)

  private def bm25Like(s: SparkSession, dir: String, like: String,
                       k: Int): DataFrame =
    bm25Expansion(s, dir, _.like(like), k)

  /** W1 (GenerateSnippetAction.java:40-66): token ordinals via posexplode. */
  def w1TokenPositions(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") < 20)
      .select(col("doc_id"), posexplode(TextOps.tokensCol))
      .toDF("doc_id", "pos", "term")
      .orderBy(col("doc_id"), col("pos"))

  val w1TokenPositionsSql: String =
    """SELECT doc_id, CAST(p.i - 1 AS INT) AS pos, p.term AS term FROM (
      |  SELECT doc_id, unnest([{'i': i, 'term': w[i]} for i in range(1, len(w) + 1)]) AS p
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) >= 2) AS w
      |        FROM documents WHERE doc_id < 20)
      |) ORDER BY doc_id, pos""".stripMargin

  // ---------------------------------------------------------------------
  // Relational operators (TPC-H-ish tables)
  // ---------------------------------------------------------------------

  /** A4/A6-style grouped aggregation with exact decimal sums. */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  count(*) AS n
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** J3 (broadcast dimension join): revenue per market segment. */
  def j3BroadcastJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("c_mktsegment"))

  val j3BroadcastJoinSql: String =
    """SELECT c_mktsegment,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** J4 (FK chain): region ⋈ nation ⋈ customer counts. */
  def j4MultiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_customers"),
        count_distinct(col("n_name")).as("n_nations"))
      .orderBy(col("r_name"))

  val j4MultiJoinSql: String =
    """SELECT r_name, count(*) AS n_customers, count(DISTINCT n_name) AS n_nations
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** J1-rel (left semi): orders with any line of quantity 50. */
  def j1SemiJoinRel(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem").filter(col("l_quantity") >= 50)
        .select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))

  val j1SemiJoinRelSql: String =
    """SELECT o_orderkey, o_orderpriority FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 50)
      |ORDER BY o_orderkey""".stripMargin

  /** J5 (anti join — ParseAction.java:192-203 analog): customers with no
    * orders. */
  def j5AntiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  val j5AntiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** W3 (pagination rank, SearchServiceImpl.java:247-259 analog):
    * top-3 orders per customer. */
  def w3WindowTopN(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        dec(col("o_totalprice")).cast("double").as("price"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val w3WindowTopNSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price, rn
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        CAST(row_number() OVER (PARTITION BY o_custkey
      |          ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      |      FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** W2 (running aggregate): cumulative spend per customer, exact decimal. */
  def w2RunningSum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .withColumn("running", sum(dec(col("o_totalprice"))).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("running"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val w2RunningSumSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** O2/O4 (TakeOrderedAndProject): global top-10 with tie-break. */
  def o2TopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), dec(col("o_totalprice")).cast("double").as("price"))
      .orderBy(col("price").desc, col("o_orderkey"))
      .limit(10)

  val o2TopKSql: String =
    """SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
      |FROM orders ORDER BY price DESC, o_orderkey LIMIT 10""".stripMargin

  /** O6 set-intersect: customers with both URGENT and LOW orders.
    * Examined r8 and kept as INTERSECT: a grouped-scan rewrite with
    * conditional presence flags (the o8 treatment) measured consistently
    * ~0.1 s SLOWER here — the two INTERSECT sides are already pushable
    * priority-filtered scans, so the set-op plan shuffles less than one
    * aggregation over the union of both priorities. */
  def o6Intersect(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      .intersect(o.filter(col("o_orderpriority") === "5-LOW").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  val o6IntersectSql: String =
    """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
      |ORDER BY o_custkey""".stripMargin

  /** O8 set-except (S6 delete analog): customers with orders but none
    * urgent. r8: DISTINCT + EXCEPT (two distinct exchanges + an
    * anti-join) → ONE grouped scan filtering on a conditional presence
    * flag — identical distinct-key set, one exchange (guide §2.4). */
  def o8Except(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0))
        .as("has_urgent"))
      .filter(col("has_urgent") === 0)
      .select(col("o_custkey"))
      .orderBy(col("o_custkey"))

  val o8ExceptSql: String =
    """SELECT DISTINCT o_custkey FROM orders
      |EXCEPT
      |SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |ORDER BY o_custkey""".stripMargin

  /** C1-C11 scalar function battery (string/date/math builtins). */
  def c2ScalarFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") < 200)
      .select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("up"),
        lower(col("o_orderstatus")).as("lo"),
        substring(col("o_orderpriority"), 1, 3).as("sub"),
        length(col("o_orderpriority")).as("len"),
        concat_ws("|", col("o_orderstatus"), col("o_orderpriority")).as("cat"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        // divide + round in DECIMAL space (exact): a double division
        // creates .xx5-looking ties that Spark (shortest-repr HALF_UP)
        // and DuckDB (exact-binary) round differently
        round(dec(col("o_totalprice")) / lit(100), 2).cast("double").as("cents"),
        regexp_extract(col("o_orderpriority"), "^(\\d+)-", 1).as("prio_num"))
      .orderBy(col("o_orderkey"))

  val c2ScalarFuncsSql: String =
    """SELECT o_orderkey,
      |  upper(o_orderpriority) AS up,
      |  lower(o_orderstatus) AS lo,
      |  substring(o_orderpriority, 1, 3) AS sub,
      |  CAST(length(o_orderpriority) AS INT) AS len,
      |  o_orderstatus || '|' || o_orderpriority AS cat,
      |  CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(month(o_orderdate) AS INT) AS mo,
      |  CAST(day(o_orderdate) AS INT) AS dom,
      |  -- DuckDB decimal division returns DOUBLE (inexact); integer
      |  -- HALF_UP matches Spark's exact decimal round
      |  ((CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) + 50) // 100) / 100.0 AS cents,
      |  regexp_extract(o_orderpriority, '^(\d+)-', 1) AS prio_num
      |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin

  /** A6-events (streaming-shaped batch): tumbling hourly aggregation. */
  def a6EventsHourly(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  val a6EventsHourlySql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** C-json: extract a numeric field from the JSON props column. */
  def cJsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").filter(col("event_id") < 500)
      .select(col("event_id"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int").as("k"))
      .orderBy(col("event_id"))

  val cJsonExtractSql: String =
    """SELECT event_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k
      |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------
  // Training-pipeline operators (dedup / similarity / text analysis)
  // ---------------------------------------------------------------------

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactSummary(t(s, dir, "documents"))

  val dedupExactSql: String =
    """SELECT count(*) AS n_docs, count(DISTINCT text) AS n_distinct,
      |  count(*) - count(DISTINCT text) AS n_dupes FROM documents""".stripMargin

  def fingerprintMd5(s: SparkSession, dir: String): DataFrame =
    TextOps.fingerprint(t(s, dir, "documents").filter(col("doc_id") < 100))
      .orderBy(col("doc_id"))

  val fingerprintMd5Sql: String =
    """SELECT doc_id,
      |  md5(array_to_string(list_filter(string_split(text, ' '),
      |      x -> length(x) >= 2), ' ')) AS fingerprint
      |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin

  /** n-gram Jaccard verification kernel on the (d, d+1) pair slice. */
  def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.consecutiveJaccard(t(s, dir, "documents"))
      .orderBy(col("jaccard").desc, col("d1"))
      .limit(20)

  val ngramJaccardPairsSql: String =
    """WITH ds AS (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id, unnest(shs) AS sh FROM (
      |      SELECT doc_id,
      |        [ w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1) ] AS shs
      |      FROM (SELECT doc_id, list_filter(string_split(text, ' '),
      |              x -> length(x) >= 2) AS w FROM documents)))
      |), sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      |  FROM ds a JOIN ds b ON b.sh = a.sh AND b.doc_id = a.doc_id + 1
      |  GROUP BY 1, 2)
      |SELECT d1, d2, round(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) AS jaccard
      |FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
      |ORDER BY jaccard DESC, d1 LIMIT 20""".stripMargin

  /** Brute-force cosine ANN baseline: top-20 neighbors of vec_id 0. */
  def annCosineTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(t(s, dir, "embeddings"), queryId = 0L, k = 20)

  val annCosineTopKSql: String =
    """SELECT e.vec_id,
      |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |        CAST(q.embedding AS DOUBLE[])), 6) AS sim
      |FROM embeddings e, embeddings q
      |WHERE q.vec_id = 0 AND e.vec_id <> 0
      |ORDER BY sim DESC, e.vec_id LIMIT 20""".stripMargin

  /** Quality metrics (length/distinct/avg-token-len filters). */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    TextOps.qualityMetrics(t(s, dir, "documents").filter(col("doc_id") < 100))
      .orderBy(col("doc_id"))

  val textQualitySql: String =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars,
      |  CAST(len(w) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
      |  round(list_sum([CAST(length(x) AS DOUBLE) for x in w])
      |        / greatest(len(w), 1), 6) AS avg_token_len,
      |  round(CAST(len(list_distinct(w)) AS DOUBLE) / greatest(len(w), 1), 6)
      |    AS distinct_ratio
      |FROM (SELECT doc_id, text,
      |        list_filter(string_split(text, ' '), x -> length(x) >= 2) AS w
      |      FROM documents WHERE doc_id < 100)
      |ORDER BY doc_id""".stripMargin

  /** Token counts (dl column). */
  def tokenCountDl(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenCounts(t(s, dir, "documents")).orderBy(col("doc_id"))

  val tokenCountDlSql: String =
    """SELECT doc_id, CAST(len(list_filter(string_split(text, ' '),
      |  x -> length(x) >= 2)) AS BIGINT) AS dl
      |FROM documents ORDER BY doc_id""".stripMargin

  /** BPE-ish token budgeting (training-pipeline token counting): the
    * RE2-safe GPT-2 pre-tokenizer pattern, identical in Spark (Java
    * regex) and DuckDB (RE2). */
  def tokenCountBpe(s: SparkSession, dir: String): DataFrame =
    TextOps.bpeTokenCounts(t(s, dir, "documents")).orderBy(col("doc_id"))

  val tokenCountBpeSql: String =
    """SELECT doc_id,
      |  CAST(len(list_filter(string_split(text, ' '), x -> length(x) >= 2)) AS BIGINT) AS dl,
      |  CAST(len(regexp_extract_all(text,
      |    $$'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+$$)) AS BIGINT)
      |    AS bpe_segments
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Winnowing fingerprints (Schleimer et al. 2003, MOSS): window-min of
    * k-gram md5 hashes; compact per-doc output (set size + digest over
    * the sorted fingerprint set) — exact-SQL-checkable end-to-end. */
  def fingerprintWinnow(s: SparkSession, dir: String): DataFrame =
    TextOps.winnowFingerprints(t(s, dir, "documents"))
      .orderBy(col("doc_id"))

  val fingerprintWinnowSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '),
      |           x -> length(x) >= 2) AS tk
      |  FROM documents
      |), g AS (
      |  SELECT doc_id,
      |    [ md5(array_to_string(tk[i:i+2], ' ')) for i in range(1, len(tk) - 1) ] AS hs
      |  FROM t WHERE len(tk) >= 6
      |), sel AS (
      |  SELECT doc_id,
      |    list_distinct([ list_min(hs[i:i+3]) for i in range(1, len(hs) - 2) ]) AS fps
      |  FROM g
      |)
      |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
      |  md5(array_to_string(list_sort(fps), '')) AS fp_digest
      |FROM sel ORDER BY doc_id""".stripMargin

  /** Repetition-based quality signals (Gopher rules, Rae et al. 2021
    * §A1.1): top/dup 2-gram fractions + top token fraction. */
  def qualityRepetition(s: SparkSession, dir: String): DataFrame =
    TextOps.repetitionSignals(t(s, dir, "documents"))
      .orderBy(col("doc_id"))

  val qualityRepetitionSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '),
      |           x -> length(x) >= 2) AS tk
      |  FROM documents
      |), d AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 2),
      |g2 AS (
      |  SELECT doc_id, unnest([ tk[i] || ' ' || tk[i+1]
      |                          for i in range(1, len(tk)) ]) AS g
      |  FROM d
      |), c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
      |s2 AS (
      |  SELECT doc_id, sum(c) AS tot, max(c) AS mx,
      |         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
      |  FROM c2 GROUP BY 1),
      |g1 AS (SELECT doc_id, unnest(tk) AS tkn FROM d),
      |c1 AS (SELECT doc_id, tkn, count(*) AS c FROM g1 GROUP BY 1, 2),
      |s1 AS (SELECT doc_id, sum(c) AS tot, max(c) AS mx FROM c1 GROUP BY 1)
      |SELECT s2.doc_id AS doc_id,
      |  round(CAST(s2.mx AS DOUBLE) / CAST(s2.tot AS DOUBLE), 6) AS top_2gram_frac,
      |  round(CAST(s2.dup AS DOUBLE) / CAST(s2.tot AS DOUBLE), 6) AS dup_2gram_frac,
      |  round(CAST(s1.mx AS DOUBLE) / CAST(s1.tot AS DOUBLE), 6) AS top_token_frac
      |FROM s2 JOIN s1 ON s1.doc_id = s2.doc_id
      |ORDER BY doc_id""".stripMargin

  /** Deterministic hash split: reshard-stable train/val/test assignment
    * (pure function of md5(doc_id)); gate output = counts per (lang,
    * split). */
  /** Training-mixture reweighting (α=0.5 temperature sampling over the
    * corpus's source column — TextOps.mixtureWeights). Exact-SQL gated:
    * integer aggregates + one IEEE divide + one IEEE sqrt per row. */
  def mixtureWeights(s: SparkSession, dir: String): DataFrame =
    TextOps.mixtureWeights(t(s, dir, "documents"))

  val mixtureWeightsSql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars,
      |  CAST(sum(n_chars) AS DOUBLE) /
      |    (SELECT CAST(sum(n_chars) AS DOUBLE) FROM documents) AS p,
      |  sqrt(CAST(sum(n_chars) AS DOUBLE) /
      |    (SELECT CAST(sum(n_chars) AS DOUBLE) FROM documents)) AS w
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  def sampleSplit(s: SparkSession, dir: String): DataFrame =
    TextOps.deterministicSplit(t(s, dir, "documents"), col("doc_id"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("split"))

  val sampleSplitSql: String =
    """SELECT lang, split, count(*) AS n FROM (
      |  SELECT lang,
      |    CASE WHEN h < '08' THEN 'test'
      |         WHEN h < '18' THEN 'val' ELSE 'train' END AS split
      |  FROM (SELECT lang, substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h
      |        FROM documents)
      |) GROUP BY lang, split ORDER BY lang, split""".stripMargin

  /** PII-style redaction (emails/URLs/long ids): match counts + md5 of
    * the redacted text — full replacement semantics oracle-checked via
    * RE2-safe patterns (identical under Java regex and DuckDB RE2). */
  def textRedact(s: SparkSession, dir: String): DataFrame =
    TextOps.redact(t(s, dir, "documents")).orderBy(col("doc_id"))

  val textRedactSql: String = {
    val (e, u, i) = (TextOps.RedactEmail, TextOps.RedactUrl, TextOps.RedactLongId)
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$e')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$u')) AS BIGINT) AS n_urls,
       |  CAST(len(regexp_extract_all(text, '$i')) AS BIGINT) AS n_ids,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |      '$e', '<EMAIL>', 'g'),
       |      '$u', '<URL>', 'g'),
       |      '$i', '<ID>', 'g')) AS redacted_md5
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Benchmark decontamination: corpus docs (doc_id >= 10) sharing any
    * token 4-gram with the benchmark slice (doc_id < 10); benchmark gram
    * set broadcast (plan shape of a real train/test scrub). */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextOps.contaminationFlags(
        docs.filter(col("doc_id") >= 10),
        docs.filter(col("doc_id") < 10), n = 4)
      .orderBy(col("doc_id"))
  }

  val decontaminateSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '),
      |           x -> length(x) >= 2) AS tk
      |  FROM documents
      |), g AS (
      |  SELECT doc_id,
      |    unnest([ array_to_string(tk[i:i+3], ' ')
      |             for i in range(1, len(tk) - 2) ]) AS g
      |  FROM t WHERE len(tk) >= 4
      |), bench AS (SELECT DISTINCT g FROM g WHERE doc_id < 10),
      |corpus AS (SELECT doc_id, g FROM g WHERE doc_id >= 10)
      |SELECT c.doc_id AS doc_id, count(DISTINCT c.g) AS n_shared_grams
      |FROM corpus c JOIN bench b ON b.g = c.g
      |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin

  /** Near-dup clusters: connected components (Large-Star/Small-Star) over
    * the exact SimHash pair set — cluster = component min docId, the
    * KEEP/DROP decision of a dedup pipeline. Oracle: the same pairs CTE +
    * a recursive-CTE reachability closure (exact — both the pair set and
    * the components are deterministic). */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
        Dedup.simHashPairs(t(s, dir, "documents"), maxHamming = 3))
      .orderBy(col("doc_id"))

  // lazy: simhashSqlCte is declared later in the object (initialization
  // order would otherwise see null)
  lazy val dedupClustersSql: String =
    ("WITH RECURSIVE " + simhashSqlCte.stripPrefix("WITH ")) +
    """
      |, pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2
      |  FROM sig a JOIN sig b ON b.doc_id > a.doc_id
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |), edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM pairs
      |  UNION ALL
      |  SELECT d2 AS src, d1 AS dst FROM pairs
      |), nodes AS (SELECT DISTINCT src AS id FROM edges),
      |reach(id, lbl) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
      |)
      |SELECT id AS doc_id, min(lbl) AS cluster
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  // ---- rows-only operators (non-SQL-expressible; Scala-spec'd) ---------

  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashCandidatePairs(t(s, dir, "documents"), threshold = 0.2)
      .orderBy(col("jaccard").desc, col("d1"), col("d2"))

  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashes(t(s, dir, "documents")).orderBy(col("doc_id"))

  /** Shared oracle CTE: tf-weighted SimHash from md5 term hashes —
    * bit-identical to Dedup.simHashUdf (termHash64 = first 8 md5 bytes).
    * HUGEINT carries the unsigned 64-bit value; the final CAST wraps it
    * back to Spark's signed long. */
  private val simhashSqlCte =
    """WITH tf AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |  WHERE length(term) >= 2 GROUP BY 1, 2
      |), th AS (
      |  SELECT doc_id, tf,
      |    (('0x' || substring(md5(term), 1, 8))::BIGINT::HUGEINT * 4294967296 +
      |     ('0x' || substring(md5(term), 9, 8))::BIGINT) AS h
      |  FROM tf
      |), bits AS (
      |  SELECT doc_id, b,
      |    sum(CASE WHEN (h >> CAST(b AS INTEGER)) & 1 = 1 THEN tf ELSE -tf END) AS acc
      |  FROM th CROSS JOIN range(64) t(b) GROUP BY 1, 2
      |), usig AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN acc > 0 THEN (1::HUGEINT << CAST(b AS INTEGER))
      |        ELSE 0::HUGEINT END) AS u
      |  FROM bits GROUP BY 1
      |), sig AS (
      |  SELECT d.doc_id,
      |    CAST(coalesce(u, 0::HUGEINT) -
      |      CASE WHEN coalesce(u, 0::HUGEINT) >= 9223372036854775808::HUGEINT
      |           THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
      |      AS BIGINT) AS simhash
      |  FROM documents d LEFT JOIN usig USING (doc_id)
      |)""".stripMargin

  val dedupSimhashSql: String =
    simhashSqlCte + "\nSELECT doc_id, simhash FROM sig ORDER BY doc_id"

  def dedupSimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairs(t(s, dir, "documents"), maxHamming = 3)
      .orderBy(col("hamming"), col("d1"), col("d2"))

  /** Oracle = brute-force Hamming pairs: valid because banding into
    * maxHamming+1 pieces guarantees recall (pigeonhole) and verification
    * inside buckets is exact — the LSH output IS the brute-force set. */
  val dedupSimhashPairsSql: String =
    simhashSqlCte +
    """
      |SELECT a.doc_id AS d1, b.doc_id AS d2,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |FROM sig a JOIN sig b ON b.doc_id > a.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |ORDER BY hamming, d1, d2""".stripMargin

  def annLshTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(t(s, dir, "embeddings"), queryId = 0L, k = 20)

  /** IVF ANN with ALL centroids probed — exactly brute force, so the
    * whole IVF path (training, assignment, probing, scoring) is
    * validated against the same SQL oracle as ann_cosine_topk; partial-
    * probe recall is pinned in OpsSpec. */
  def annIvfTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(t(s, dir, "embeddings"), queryId = 0L, k = 20,
      nCentroids = 16, nProbe = 16)

  val annIvfTopKSql: String = annCosineTopKSql

  def embeddingNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupPairs(t(s, dir, "embeddings"), threshold = 0.4)
      .orderBy(col("v1"), col("v2"))

  def langId(s: SparkSession, dir: String): DataFrame =
    TextOps.languageId(t(s, dir, "documents")).orderBy(col("doc_id"))

  /** Mirrors TextOps.languageOf: word-marker counts over the token
    * stream for spaced scripts, marker-CHAR occurrence counts for zh,
    * argmax with max-lang-name tie-break, 'und' when all zero. */
  val langIdSql: String = {
    def wordScore(lang: String): String = {
      val in = TextOps.LangMarkers(lang).toSeq.sorted
        .map(m => s"'$m'").mkString(", ")
      s"len(list_filter(toks, x -> x IN ($in))) AS s_$lang"
    }
    val zh = TextOps.ZhMarkerChars.toSeq.sorted
      .map(c => s"(length(text) - length(replace(text, '$c', '')))")
      .mkString(" + ") + " AS s_zh"
    s"""WITH w AS (
       |  SELECT doc_id, lang, text,
       |    list_filter(string_split(text, ' '), x -> length(x) >= 2) AS toks
       |  FROM documents
       |), s AS (
       |  SELECT doc_id, lang,
       |    ${wordScore("en")},
       |    ${wordScore("de")},
       |    ${wordScore("es")},
       |    ${wordScore("fr")},
       |    ${wordScore("ru")},
       |    $zh
       |  FROM w
       |)
       |SELECT doc_id,
       |  CASE WHEN m = 0 THEN 'und'
       |       WHEN s_zh = m THEN 'zh' WHEN s_ru = m THEN 'ru'
       |       WHEN s_fr = m THEN 'fr' WHEN s_es = m THEN 'es'
       |       WHEN s_en = m THEN 'en' ELSE 'de' END AS pred_lang,
       |  lang AS labeled_lang
       |FROM (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_ru, s_zh) AS m FROM s)
       |ORDER BY doc_id""".stripMargin
  }

  /** U6 read-path decoration: BM25 top-5 + snippet with bolded query
    * words (rows-only: snippet strings are not SQL-expressible). */
  def u6Snippets(s: SparkSession, dir: String): DataFrame = {
    val terms = Set("spark", "merge")
    val snip = udf((text: String) => graft.query.Snippets.snippet(text, terms))
    bm25(s, dir, terms.toSeq.sorted, and = true, k = 5)
      // raw read for the text fetch: joining the 5-row local result needs
      // no compute rebalance, and skipping t() drops its round-robin
      // exchange from the probe side (r8, guide §2.4)
      .join(s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("score"), snip(col("text")).as("snippet"))
      .orderBy(col("score").desc, col("doc_id"))
  }


  /** Exact-substring overlap gate (r5; Lee et al. 2022 dedup class):
    * winnowing-fingerprint intersection pairs — bucket join on the
    * fingerprint key with a hot-fingerprint cap, never all-pairs. */
  def substringOverlap(s: SparkSession, dir: String): DataFrame =
    TextOps.substringOverlapPairs(t(s, dir, "documents"))
      .orderBy(col("d1"), col("d2"))

  val substringOverlapSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '),
      |           x -> length(x) >= 2) AS tk
      |  FROM documents
      |), g AS (
      |  SELECT doc_id,
      |    [ md5(array_to_string(tk[i:i+2], ' ')) for i in range(1, len(tk) - 1) ] AS hs
      |  FROM t WHERE len(tk) >= 6
      |), sel AS (
      |  SELECT doc_id,
      |    list_distinct([ list_min(hs[i:i+3]) for i in range(1, len(hs) - 2) ]) AS fps
      |  FROM g
      |), fp AS (
      |  SELECT doc_id, unnest(fps) AS fp FROM sel
      |), usable AS (
      |  SELECT fp FROM (SELECT fp, count(*) AS c FROM fp GROUP BY fp)
      |  WHERE c >= 2 AND c <= 64
      |), kept AS (
      |  SELECT f.doc_id, f.fp FROM fp f JOIN usable u ON f.fp = u.fp
      |)
      |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared_fps
      |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING count(*) >= 2
      |ORDER BY d1, d2""".stripMargin

  /** Sequence-packing gate (r5): concatenate-then-chunk pretraining
    * packing over `documents` in doc_id order — exact global token
    * offsets via the scale-safe two-phase prefix sum (no global window,
    * no single-partition trap; the o1_df_order scaffold), integer
    * `div` arithmetic throughout so the gate is bit-stable. */
  def packSequencesQ(s: SparkSession, dir: String): DataFrame =
    TextOps.packSequences(t(s, dir, "documents"), budget = 512L)
      .orderBy(col("doc_id"))

  val packSequencesSql: String =
    """WITH tl AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> length(x) >= 2)) AS BIGINT) AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
      |  FROM tl
      |)
      |SELECT doc_id, n_tokens, start_offset,
      |  start_offset // 512 AS pack_id,
      |  (n_tokens > 0 AND
      |   start_offset // 512 <> (start_offset + n_tokens - 1) // 512) AS spans_boundary
      |FROM c ORDER BY doc_id""".stripMargin

  /** LM-count quality gate (r5; CCNet-motivated, Wenzek et al. LREC'20):
    * per-doc bigram corpus-frequency signals — exact integer sums + ONE
    * IEEE divide, so the DuckDB hash gate is bit-stable (the float
    * log-prob sibling TextOps.lmLogProb is spec-tested under tolerance
    * instead — a many-term float sum can't be libm-bit-exact across
    * engines). */
  def lmBigramQuality(s: SparkSession, dir: String): DataFrame =
    TextOps.bigramQuality(t(s, dir, "documents")).orderBy(col("doc_id"))

  val lmBigramQualitySql: String =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) >= 2) AS toks
      |  FROM documents
      |), pairs AS (
      |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
      |    SELECT doc_id,
      |      unnest([{'w1': toks[i], 'w2': toks[i+1]} for i in range(1, len(toks))]) AS b
      |    FROM w WHERE len(toks) >= 2
      |  )
      |), cnt AS (
      |  SELECT w1, w2, count(*) AS c FROM pairs GROUP BY 1, 2
      |)
      |SELECT p.doc_id,
      |  count(*) AS n_bigrams,
      |  CAST(sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS known_bigrams,
      |  CAST(sum(c.c) AS BIGINT) AS freq_sum,
      |  CAST(sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS known_ratio
      |FROM pairs p JOIN cnt c ON p.w1 = c.w1 AND p.w2 = c.w2
      |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin

  /** LM RANK gate (r6, VERDICT r05 item 8): the true Laplace-smoothed
    * bigram LM ([[graft.ops.TextOps.lmLogProb]]) gated END-TO-END by
    * comparing the RANK ORDER (row_number by avg_logp desc, doc_id) plus
    * the exact n_bigrams integer — never the float itself. Why this is
    * deterministic where a float gate is not: cross-engine ulp noise on
    * an avg of ~40 ln() terms is ~1e-14 relative, while the MINIMUM
    * adjacent-rank score gap on this corpus is 3.5e-7 (measured at
    * sf0.01; no exact ties) — seven orders of margin, so both engines
    * produce the identical permutation. The 1e-12-tolerance OpsSpec twin
    * keeps pinning the float values themselves.
    *
    * The rank itself runs on the o1_df_order TWO-PHASE scaffold
    * (VERDICT r06 item 2: the r6 version used a global unpartitioned
    * `row_number().over(Window.orderBy(...))` — the exact
    * single-partition trap the repo's own O1 gate exists to avoid):
    * deterministic sample → range boundaries on (avg_logp DESC, doc_id)
    * → pid per row → per-pid counts → broadcast prefix offsets → steered
    * repartition + in-task running counter. One DIFFERENCE from o1: the
    * sort key is a FLOAT aggregate, and avg() over doubles is
    * partition-order dependent at the ulp level — a lineage recompute
    * between the counting job and the assignment job could flip a
    * boundary-adjacent key's bucket. The scored frame is therefore
    * PINNED with localCheckpoint (lineage truncated — every job reads
    * the same materialized doubles), not merely cached. */
  def lmRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.index.DocIdAssigner.{bucketOf, prefixOffsets,
      quantileBoundaries, steeringKeys}
    val scored = TextOps.lmLogProb(t(s, dir, "documents"))
      .select(col("doc_id"), col("n_bigrams"), col("avg_logp"))
      .localCheckpoint(true) // pin the float keys (see scaladoc)
    val p = math.max(1, s.sessionState.conf.numShufflePartitions / 2)
    // raw scan: a metadata-only count (the t() rebalance would execute
    // its round-robin exchange just to count rows — r8, guide §2.4);
    // the count only sizes the sampling modulus, never correctness
    val nDocs = s.read.parquet(s"$dir/documents.parquet").count()
    val sampleMod = math.max(1L, nDocs / math.max(1L, p.toLong * 200L))
    // rank key = (avg_logp DESC, doc_id ASC)
    implicit val keyOrd: Ordering[(Double, Long)] =
      new Ordering[(Double, Long)] {
        def compare(a: (Double, Long), b: (Double, Long)): Int = {
          val c = java.lang.Double.compare(b._1, a._1) // DESC
          if (c != 0) c else java.lang.Long.compare(a._2, b._2)
        }
      }
    val keys = scored
      .filter(pmod(xxhash64(col("doc_id")), lit(sampleMod)) === 0)
      .select(col("avg_logp"), col("doc_id")).collect()
      .map(r => (r.getDouble(0), r.getLong(1))).sorted(keyOrd)
    val bnds = quantileBoundaries(keys.toIndexedSeq, p)
    val nPids = bnds.length + 1
    val bB = s.sparkContext.broadcast(bnds)
    val bSteer = s.sparkContext.broadcast(steeringKeys(nPids))
    val pidUdf = udf((lp: Double, id: Long) => bucketOf(bB.value, (lp, id)))
    val withPid = scored
      .withColumn("pid", pidUdf(col("avg_logp"), col("doc_id")))
    val counts: Map[Int, Long] =
      if (nPids == 1) Map.empty
      else withPid.groupBy(col("pid")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val bOff = s.sparkContext.broadcast(prefixOffsets(counts, nPids, base = 1L))
    val pkeyUdf = udf((pid: Int) => bSteer.value(pid))
    withPid
      .withColumn("pkey", pkeyUdf(col("pid")))
      .repartition(nPids, col("pkey"))
      .sortWithinPartitions(col("pid"), col("avg_logp").desc, col("doc_id"))
      .mapPartitions { it =>
        var curPid = -1
        var next = 0L
        it.map { r => // (doc_id, n_bigrams, avg_logp, pid, pkey)
          val pid = r.getInt(3)
          if (pid != curPid) { curPid = pid; next = bOff.value(pid) }
          val rank = next
          next += 1
          (rank, r.getLong(0), r.getLong(1))
        }
      }
      .toDF("rank", "doc_id", "n_bigrams")
      .orderBy(col("rank"))
  }

  val lmRankSql: String =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) >= 2) AS toks
      |  FROM documents
      |), pairs AS (
      |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
      |    SELECT doc_id,
      |      unnest([{'w1': toks[i], 'w2': toks[i+1]} for i in range(1, len(toks))]) AS b
      |    FROM w WHERE len(toks) >= 2
      |  )
      |), c2 AS (
      |  SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2
      |), uni AS (
      |  SELECT w1, count(*) AS c1 FROM (SELECT doc_id, unnest(toks) AS w1 FROM w) GROUP BY 1
      |), v AS (
      |  SELECT count(*) AS v FROM uni
      |), score AS (
      |  SELECT p.doc_id, count(*) AS n_bigrams,
      |         avg(ln((c2.c2 + 1.0) / (uni.c1 + v.v))) AS s
      |  FROM pairs p JOIN c2 USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
      |  GROUP BY p.doc_id
      |)
      |SELECT CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS rank,
      |       doc_id, n_bigrams
      |FROM score ORDER BY rank""".stripMargin

  /** Multimodal decode gate (r5): REAL JDK decode for ALL THREE kinds
    * over the deterministic synthetic media table — media is SYNTHESIZED
    * (real PNG bytes via javax.imageio, real RIFF/WAVE PCM, real
    * RIFF/AVI MJPEG whose frames decode through ImageIO's JPEG reader),
    * so this golden is sfDir-independent and holds at every scale
    * factor. Signals column semantics: f0 = aspect ratio (image/video) /
    * RMS (audio); f1 = mean-R (image) / zero-crossing rate (audio) /
    * mean frame luma (video). Exactness is pinned twice: MultimodalSpec
    * asserts the physics (sine RMS/zero-crossings, pixel-exact resize,
    * panning-gradient motion) and this golden freezes the concrete
    * output for the DuckDB hash gate. */
  def multimodalSignals(s: SparkSession, dir: String): DataFrame = {
    val sig = graft.multimodal.Multimodal.mediaSignals(
      graft.multimodal.Multimodal.syntheticMediaReal(s, 30), dim = 16)
    sig.toDF()
      .select(col("media_id"), col("kind"), col("decoded"),
        col("width"), col("height"), col("duration_ms"),
        element_at(col("features"), 1).cast("double").as("f0"),
        element_at(col("features"), 2).cast("double").as("f1"))
      .orderBy(col("media_id"))
  }

  /** Pinned golden for multimodal_signals (regenerate via
    * tools/gen_goldens.py — same contract as the ANN goldens below;
    * semantics pinned independently by MultimodalSpec's sine/pixel
    * physics assertions). */
  val multimodalSignalsSql: String =
    """SELECT CAST(media_id AS BIGINT) AS media_id, kind,
      |       CAST(decoded AS BOOLEAN) AS decoded,
      |       CAST(width AS INT) AS width, CAST(height AS INT) AS height,
      |       CAST(duration_ms AS BIGINT) AS duration_ms,
      |       CAST(f0 AS DOUBLE) AS f0, CAST(f1 AS DOUBLE) AS f1
      |FROM (VALUES
      |  (0, 'image', TRUE, 32, 32, 0, 1.0, 0.4885876178741455),
      |  (1, 'audio', TRUE, 0, 0, 375, 0.2590062916278839, 0.10999999940395355),
      |  (2, 'video', TRUE, 64, 36, 750, 1.7777777910232544, 0.492247074842453),
      |  (3, 'image', TRUE, 80, 32, 0, 2.5, 0.49393534660339355),
      |  (4, 'audio', TRUE, 0, 0, 750, 0.2589685320854187, 0.10983332991600037),
      |  (5, 'video', TRUE, 64, 36, 625, 1.7777777910232544, 0.49194443225860596),
      |  (6, 'image', TRUE, 64, 32, 0, 2.0, 0.4927791953086853),
      |  (7, 'audio', TRUE, 0, 0, 1125, 0.2589610517024994, 0.10999999940395355),
      |  (8, 'video', TRUE, 64, 36, 500, 1.7777777910232544, 0.49261173605918884),
      |  (9, 'image', TRUE, 48, 32, 0, 1.5, 0.4959941804409027),
      |  (10, 'audio', TRUE, 0, 0, 500, 0.2588803768157959, 0.10975000262260437),
      |  (11, 'video', TRUE, 64, 36, 875, 1.7777777910232544, 0.4934835135936737),
      |  (12, 'image', TRUE, 32, 32, 0, 1.0, 0.4831341803073883),
      |  (13, 'audio', TRUE, 0, 0, 875, 0.25891363620758057, 0.10999999940395355),
      |  (14, 'video', TRUE, 64, 36, 750, 1.7777777910232544, 0.49112170934677124),
      |  (15, 'image', TRUE, 80, 32, 0, 2.5, 0.4991881251335144),
      |  (16, 'audio', TRUE, 0, 0, 250, 0.2590082585811615, 0.10949999839067459),
      |  (17, 'video', TRUE, 64, 36, 625, 1.7777777910232544, 0.49180930852890015),
      |  (18, 'image', TRUE, 64, 32, 0, 2.0, 0.4973939061164856),
      |  (19, 'audio', TRUE, 0, 0, 625, 0.25885823369026184, 0.10980000346899033),
      |  (20, 'video', TRUE, 64, 36, 500, 1.7777777910232544, 0.4918738901615143),
      |  (21, 'image', TRUE, 48, 32, 0, 1.5, 0.4921160042285919),
      |  (22, 'audio', TRUE, 0, 0, 1000, 0.25895676016807556, 0.10999999940395355),
      |  (23, 'video', TRUE, 64, 36, 875, 1.7777777910232544, 0.49296438694000244),
      |  (24, 'image', TRUE, 32, 32, 0, 1.0, 0.49703583121299744),
      |  (25, 'audio', TRUE, 0, 0, 375, 0.2589206099510193, 0.10966666787862778),
      |  (26, 'video', TRUE, 64, 36, 750, 1.7777777910232544, 0.4924442172050476),
      |  (27, 'image', TRUE, 80, 32, 0, 2.5, 0.4923483431339264),
      |  (28, 'audio', TRUE, 0, 0, 750, 0.2589513063430786, 0.10999999940395355),
      |  (29, 'video', TRUE, 64, 36, 625, 1.7777777910232544, 0.49242544174194336)
      |) AS g(media_id, kind, decoded, width, height, duration_ms, f0, f1)
      |ORDER BY media_id""".stripMargin

  /** Golden oracles for the three probabilistic ANN/dedup gate queries
    * (same approach as u6_snippets, VERDICT r01 item 10): the outputs are
    * fully deterministic on the driver's fixed corpus (seeded hyperplanes
    * / minhash permutations), but not SQL-recomputable — pinned VALUES
    * generated from the engine once, sanity-checked against the OpsSpec
    * brute-force oracles. Break loudly if the corpus or any hash/seed
    * changes. */
  val annLshTopKSql: String =
    """SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(sim AS DOUBLE) AS sim
      |FROM (VALUES
      |  (70, 0.192008),
      |  (108, 0.17969),
      |  (327, 0.124187),
      |  (162, 0.100165),
      |  (222, 0.067966),
      |  (321, 0.062153),
      |  (407, 0.061805),
      |  (216, 0.045386),
      |  (123, 0.038637),
      |  (148, -0.052958),
      |  (485, -0.05621)
      |) AS g(vec_id, sim) ORDER BY sim DESC, vec_id""".stripMargin

  val dedupMinhashLshSql: String =
    """SELECT CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
      |       CAST(jaccard AS DOUBLE) AS jaccard
      |FROM (VALUES
      |  (98, 290, 0.988636),
      |  (285, 301, 0.988506),
      |  (70, 447, 0.988372),
      |  (8, 245, 0.987342),
      |  (393, 420, 0.987179),
      |  (45, 413, 0.986667),
      |  (267, 413, 0.986486),
      |  (58, 293, 0.985075),
      |  (166, 323, 0.982456),
      |  (458, 462, 0.982143),
      |  (61, 185, 0.981481),
      |  (72, 377, 0.97561),
      |  (31, 383, 0.975),
      |  (45, 267, 0.973333),
      |  (107, 387, 0.972973),
      |  (152, 178, 0.971429),
      |  (326, 457, 0.971429),
      |  (120, 332, 0.969697),
      |  (295, 374, 0.966667),
      |  (435, 486, 0.966667),
      |  (92, 450, 0.958333),
      |  (310, 389, 0.958333),
      |  (44, 446, 0.954545),
      |  (87, 134, 0.952381),
      |  (26, 455, 0.9)
      |) AS g(d1, d2, jaccard) ORDER BY jaccard DESC, d1, d2""".stripMargin

  val embeddingNearDupSql: String =
    """SELECT CAST(v1 AS BIGINT) AS v1, CAST(v2 AS BIGINT) AS v2,
      |       CAST(sim AS DOUBLE) AS sim
      |FROM (VALUES
      |  (53, 234, 0.400521),
      |  (53, 300, 0.452967),
      |  (108, 232, 0.406755),
      |  (159, 202, 0.403142),
      |  (198, 468, 0.429228),
      |  (202, 245, 0.409958),
      |  (334, 382, 0.429677),
      |  (350, 395, 0.407086)
      |) AS g(v1, v2, sim) ORDER BY v1, v2""".stripMargin

  /** Golden oracle for u6_snippets (VERDICT r01 item 10): snippet strings
    * are not SQL-computable, but the result on the driver's fixed
    * deterministic sf corpus is — pinned VALUES generated from the
    * engine output once and hand-checked against Snippets semantics
    * (bold the analyzed query terms, ellipsis between windows). Breaks
    * loudly (row mismatch) if the corpus or snippet logic changes. */
  val u6SnippetsSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(score AS DOUBLE) AS score, snippet
      |FROM (VALUES
      |  (498, 0.878323, 'row query <b>merge</b> row row filter the <b>spark</b> <b>merge</b> hash group query column <b>merge</b> <b>spark</b> part <b>merge</b> query join... window slow <b>merge</b> group join filter data <b>merge</b> customer a <b>spark</b> <b>spark</b> scan table...'),
      |  (395, 0.868658, 'column fast <b>spark</b> stream table stream <b>merge</b> <b>spark</b> <b>spark</b> <b>merge</b> batch group... hash customer a <b>merge</b> scan batch... line filter <b>spark</b> small scan... join batch <b>spark</b> sort table... slow query <b>merge</b> table window... agg fast <b>merge</b> a sort stream...'),
      |  (146, 0.864361, 'vector <b>spark</b> the <b>merge</b> value vector <b>merge</b> data scan sort <b>spark</b> agg join <b>merge</b> customer line... '),
      |  (97, 0.862194, 'fast order <b>spark</b> <b>merge</b> vector big small small <b>spark</b> join join vector <b>spark</b> scan <b>merge</b> table fast window <b>spark</b> big part... scan key <b>spark</b> line a small... filter query <b>merge</b> hash filter... query key <b>merge</b> join batch... '),
      |  (321, 0.859502, 'scan query <b>merge</b> small order agg <b>spark</b> order big... order line <b>spark</b> <b>spark</b> order vector... fast small <b>merge</b> value value big window <b>merge</b> data... stream the <b>spark</b> table stream... stream stream <b>merge</b> slow value... ')
      |) AS g(doc_id, score, snippet)
      |ORDER BY score DESC, doc_id""".stripMargin

  /** W4 (batch sessionization — the SQL twin of
    * streaming.StreamingJobs.sessionize): 30-min-gap sessions per user
    * via lag + running gap count. */
  def w4Sessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ev = t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_millis(col("ts").cast("timestamp")) -
            unix_millis(col("prev_ts").cast("timestamp")) > 30L * 60 * 1000, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ev.groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sess_id"), col("session_start"),
        col("session_end"), col("n_events"))
      .orderBy(col("user_id"), col("sess_id"))
  }

  /** F1/C10 (CollectLemmasAction.cleanText + PageServiceImpl.getPageTitle):
    * HTML tag strip + <title> extraction over a deterministically
    * HTML-wrapped view of the documents table. */
  def f1HtmlStrip(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") < 50)
      .withColumn("html",
        concat(lit("<html><head><title>Doc "), col("doc_id"),
          lit("</title></head><body><p>"), substring(col("text"), 1, 60),
          lit("</p><br/></body></html>")))
      .select(col("doc_id"),
        regexp_extract(col("html"), "(?is)<title>(.*?)</title>", 1).as("title"),
        trim(regexp_replace(col("html"), "<[^>]*>", " ")).as("stripped"))
      .orderBy(col("doc_id"))

  val f1HtmlStripSql: String =
    """SELECT doc_id,
      |  regexp_extract(html, '(?is)<title>(.*?)</title>', 1) AS title,
      |  trim(regexp_replace(html, '<[^>]*>', ' ', 'g')) AS stripped
      |FROM (SELECT doc_id,
      |        '<html><head><title>Doc ' || doc_id || '</title></head><body><p>'
      |          || substring(text, 1, 60) || '</p><br/></body></html>' AS html
      |      FROM documents WHERE doc_id < 50)
      |ORDER BY doc_id""".stripMargin

  /** J6 (UrlFormatter.isPagePartOfSite prefix containment): scalar
    * startsWith predicate. */
  def j6PrefixFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("source").startsWith("src1")) // src1, src10..src19
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  val j6PrefixFilterSql: String =
    """SELECT doc_id, source FROM documents
      |WHERE source LIKE 'src1%' ORDER BY doc_id""".stripMargin

  /** O1 (SearchServiceImpl.java:156-162): dictionary terms ordered by df
    * ASC with term tie-break — the rarest-first access-path order. */
  def o1DfOrder(s: SparkSession, dir: String): DataFrame = {
    // Global rank WITHOUT the single-partition window trap (SURVEY §2.5
    // W2) and WITHOUT the RDD API (input_hint): the DocIdAssigner
    // pid-column pattern over the (df, term) sort key —
    //  1. deterministic sample (hash-mod filter on row VALUES — the
    //     dictionary's exact counts make every pass see identical rows)
    //     → range boundaries, compared in UTF-8 byte order (= Spark's
    //     and DuckDB's binary string order);
    //  2. pid = boundary binary search, a pure function of the row;
    //  3. per-pid counts → broadcast prefix-sum offsets;
    //  4. steered repartition (one pid = exactly one task) + in-task
    //     running counter keyed by the pid COLUMN.
    // Scales to a 10^8-term vocabulary: no partition ever holds more
    // than ~|V|/p rows and no global sort happens before the final
    // (inherently ordered) output.
    import s.implicits._
    import graft.index.DocIdAssigner.{bucketOf, prefixOffsets,
      quantileBoundaries, steeringKeys, utf8Compare}
    // cache the dictionary: it is VOCABULARY-sized (tiny next to the
    // corpus) and three jobs need it (boundary sample, per-pid counts,
    // assignment) — without the cache each one re-tokenizes the corpus.
    // Correctness never depends on the cache: every derived value is a
    // pure function of (term, df) row values. Unpersisted in finally.
    val dict = TextOps.termFrequencies(t(s, dir, "documents"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .cache()
    try {
    val p = math.max(1, s.sessionState.conf.numShufflePartitions / 2)
    // sampling modulus sized from the DOCUMENT count (parquet metadata —
    // no compute): vocabulary scales with the corpus, and the modulus
    // only affects bucket BALANCE, never correctness. r8: count the RAW
    // scan — counting the t() rebalanced frame executed its round-robin
    // exchange just to read the row count the footer already knows.
    val nDocs = s.read.parquet(s"$dir/documents.parquet").count()
    val sampleMod = math.max(1L, nDocs / math.max(1L, p.toLong * 200L))
    // rank key = (df ASC, term UTF-8 ASC); the scaffold (quantile
    // boundaries, bucket search, prefix offsets, steered repartition) is
    // DocIdAssigner's — shared, not re-implemented
    implicit val keyOrd: Ordering[(Long, String)] =
      new Ordering[(Long, String)] {
        def compare(a: (Long, String), b: (Long, String)): Int = {
          val c = java.lang.Long.compare(a._1, b._1)
          if (c != 0) c else utf8Compare(a._2, b._2)
        }
      }
    val keys = dict
      .filter(pmod(xxhash64(col("df"), col("term")), lit(sampleMod)) === 0)
      .select(col("df"), col("term")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted(keyOrd)
    val bnds = quantileBoundaries(keys.toIndexedSeq, p)
    val nPids = bnds.length + 1
    val bB = s.sparkContext.broadcast(bnds)
    val bSteer = s.sparkContext.broadcast(steeringKeys(nPids))
    val pidUdf = udf((df: Long, term: String) =>
      bucketOf(bB.value, (df, term)))
    val withPid = dict.withColumn("pid", pidUdf(col("df"), col("term")))
    // single-bucket case (tiny vocabulary / empty sample): offsets are
    // trivially [1] — skip the per-pid counting job entirely
    val counts: Map[Int, Long] =
      if (nPids == 1) Map.empty
      else withPid.groupBy(col("pid")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val bOff = s.sparkContext.broadcast(
      prefixOffsets(counts, nPids, base = 1L)) // rank is 1-based
    val pkeyUdf = udf((pid: Int) => bSteer.value(pid))
    // materialize (distributed — localCheckpoint, no driver collect)
    // BEFORE the finally unpersists the dictionary the lineage reads
    withPid
      .withColumn("pkey", pkeyUdf(col("pid")))
      .repartition(nPids, col("pkey"))
      .sortWithinPartitions(col("pid"), col("df"), col("term"))
      .mapPartitions { it =>
        var curPid = -1
        var next = 0L
        it.map { r => // (term, df, pid, pkey)
          val pid = r.getInt(2)
          if (pid != curPid) { curPid = pid; next = bOff.value(pid) }
          val rank = next
          next += 1
          (r.getString(0), r.getLong(1), rank.toInt)
        }
      }
      .toDF("term", "df", "rank")
      .orderBy(col("rank"))
      .localCheckpoint(true)
    } finally dict.unpersist()
  }

  val o1DfOrderSql: String =
    """SELECT term, df, CAST(row_number() OVER (ORDER BY df, term) AS INT) AS rank
      |FROM (
      |  SELECT term, count(*) AS df FROM (
      |    SELECT DISTINCT doc_id, term
      |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |    WHERE length(term) >= 2)
      |  GROUP BY term)
      |ORDER BY rank""".stripMargin

  val w4SessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 30 * 60 * 1000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts,
      |    -- DuckDB SUM(int) is HUGEINT (int128); the driver hashes values
      |    -- after a column sort, and a hugeint 3 != int64 3 — cast back
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM flagged)
      |SELECT user_id, sess_id, min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events
      |FROM sess GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin
}
