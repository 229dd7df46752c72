package graft.oracle

import graft.analysis.Analyzer
import graft.model.{SearchHit, Turn}
import graft.query.Bm25

/** Single-node scalar reference implementation (SURVEY.md §5.1: the
  * reference repo ships NO ranking tests, so rank-identity is pinned by
  * this in-repo oracle — plain Scala collections, no Spark).
  *
  * Semantics mirrored 1:1 with the engine:
  *  - docId = dense rank of (conv_id ASC, turn_idx ASC);
  *  - same [[Analyzer]] instance for corpus and queries;
  *  - stop-term cap df <= 0.9·N;
  *  - AND = posting intersection; OR = union;
  *  - BM25 (k1=1.2, b=0.75) summed per doc in canonical
  *    (df asc, term asc) order;
  *  - total order: score DESC, docId ASC.
  */
final class Oracle(corpus: Seq[Turn],
                   analyzerVersion: String = Analyzer.Version) {

  /** docId → turn, under stable ordering. conv_id compares in UTF-8 BYTE
    * order — Spark's UTF8String binary collation, which defines the
    * engine's sort — not Java's UTF-16 code-unit order (the two disagree
    * for supplementary-plane vs U+E000–U+FFFF characters; pinned by
    * AdversarialCorpusSpec's astral-plane test). */
  val docs: Vector[Turn] = corpus.sorted(new Ordering[Turn] {
    def compare(a: Turn, b: Turn): Int = {
      val c = graft.index.DocIdAssigner.utf8Compare(a.conv_id, b.conv_id)
      if (c != 0) c else Integer.compare(a.turn_idx, b.turn_idx)
    }
  }).toVector

  val nDocs: Long = docs.length.toLong

  /** docId → tokenized terms (under the SAME analyzer version as the
    * engine build being compared against — identity or stemmed). */
  private val docTokens: Vector[Vector[String]] =
    docs.map(d => Analyzer.tokensFor(analyzerVersion, d.text))

  val avgdl: Double = {
    var s = 0L
    docTokens.foreach(t => s += t.length)
    s.toDouble / nDocs
  }

  /** term → docId → tf (insertion in docId order). */
  val index: Map[String, Vector[(Long, Int)]] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[(Long, Int)]]
    docTokens.zipWithIndex.foreach { case (toks, d) =>
      val counts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      toks.foreach(t => counts.update(t, counts.getOrElse(t, 0) + 1))
      counts.foreach { case (term, tf) =>
        m.getOrElseUpdate(term, scala.collection.mutable.ArrayBuffer.empty) += ((d.toLong, tf))
      }
    }
    m.map { case (k, v) => k -> v.toVector }.toMap
  }

  def df(term: String): Long = index.get(term).map(_.length.toLong).getOrElse(0L)
  def dl(docId: Long): Int = docTokens(docId.toInt).length
  def text(docId: Long): String = docs(docId.toInt).text

  def topK(query: String, mode: String = "AND", k: Int = 10,
           applyStopCap: Boolean = true,
           convPrefix: Option[String] = None): Vector[SearchHit] = {
    // scoped search uses PER-SCOPE statistics (reference per-site
    // semantics: LemmaRepository.findBySiteAndLemma,
    // SearchServiceImpl.java:143-162)
    val inScope: Long => Boolean = convPrefix match {
      case None => _ => true
      case Some(pre) => d => docs(d.toInt).conv_id.startsWith(pre)
    }
    val (n, avg, dfOf): (Long, Double, String => Long) = convPrefix match {
      case None => (nDocs, avgdl, df _)
      case Some(_) =>
        val ids = docs.indices.filter(d => inScope(d.toLong))
        if (ids.isEmpty) return Vector.empty
        val a = ids.map(d => docTokens(d).length.toLong).sum.toDouble / ids.size
        val dfS = (t: String) => index.get(t)
          .map(_.count { case (d, _) => inScope(d) }.toLong).getOrElse(0L)
        (ids.size.toLong, a, dfS)
    }
    val qTerms = Analyzer.analyzeQueryFor(analyzerVersion, query)
    if (qTerms.isEmpty) return Vector.empty
    val present = qTerms.filter(t => dfOf(t) > 0)
    val cap = 0.9 * n
    // unknown lemmas are silently DROPPED and the remaining ones searched
    // (reference SearchServiceImpl.java:145-148 filter(Objects::nonNull))
    val kept = (if (applyStopCap) present.filter(t => dfOf(t) <= cap) else present)
      .sortBy(t => (dfOf(t), t))
    if (kept.isEmpty) return Vector.empty

    val postings = kept.map(t => index(t).filter { case (d, _) => inScope(d) }.toMap)
    val candidates: Set[Long] =
      if (mode == "AND") postings.map(_.keySet).reduce(_ intersect _)
      else postings.map(_.keySet).reduce(_ union _)

    val hits = candidates.toVector.map { d =>
      var s = 0.0
      kept.foreach { t => // canonical order: kept is (df asc, term asc)
        postings(kept.indexOf(t)).get(d).foreach { tf =>
          s += Bm25.score(tf, dfOf(t), dl(d), n, avg)
        }
      }
      SearchHit(d, s)
    }
    hits.sortBy(h => (-h.score, h.docId)).take(k)
  }

  /** Exact-phrase brute force: every doc whose analyzed token stream
    * contains the phrase's analyzed tokens as a consecutive run, scored
    * as the BM25 sum over the phrase's DISTINCT terms in canonical
    * (df asc, term asc) order — the same float-op order as the engine,
    * so scores must be bit-equal. No stop cap; an unknown term ⇒ empty
    * (a phrase with an unindexed word matches nothing). */
  def phraseTopK(phrase: String, k: Int = 10): Vector[SearchHit] = {
    val seq = Analyzer.tokensFor(analyzerVersion, phrase)
    if (seq.isEmpty) return Vector.empty
    proximityBrute(seq.distinct, k, None,
      toks => toks.containsSlice(seq))
  }

  /** Shared scoped/unscoped brute-force core for phrase/NEAR: per-scope
    * statistics exactly like [[topK]]'s scoped mode (df/N/avgdl restricted
    * to the conv-prefix), no stop cap, ANY term with scoped df 0 ⇒ empty,
    * `verify` runs on the doc's analyzed token stream. */
  private def proximityBrute(distinct: Vector[String], k: Int,
                             convPrefix: Option[String],
                             verify: Vector[String] => Boolean): Vector[SearchHit] = {
    val inScope: Long => Boolean = convPrefix match {
      case None => _ => true
      case Some(pre) => d => docs(d.toInt).conv_id.startsWith(pre)
    }
    val (n, avg, dfOf): (Long, Double, String => Long) = convPrefix match {
      case None => (nDocs, avgdl, df _)
      case Some(_) =>
        val ids = docs.indices.filter(d => inScope(d.toLong))
        if (ids.isEmpty) return Vector.empty
        val a = ids.map(d => docTokens(d).length.toLong).sum.toDouble / ids.size
        val dfS = (t: String) => index.get(t)
          .map(_.count { case (d, _) => inScope(d) }.toLong).getOrElse(0L)
        (ids.size.toLong, a, dfS)
    }
    if (distinct.exists(t => dfOf(t) == 0L)) return Vector.empty
    val kept = distinct.sortBy(t => (dfOf(t), t))
    val postings = kept.map(t => index(t).filter { case (d, _) => inScope(d) }.toMap)
    val candidates = postings.map(_.keySet).reduce(_ intersect _)
    val hits = candidates.toVector
      .filter(d => verify(docTokens(d.toInt)))
      .map { d =>
        var s = 0.0
        kept.zipWithIndex.foreach { case (t, i) =>
          s += Bm25.score(postings(i)(d), dfOf(t), dl(d), n, avg)
        }
        SearchHit(d, s)
      }
    hits.sortBy(h => (-h.score, h.docId)).take(k)
  }

  /** Scoped phrase union (engine parity: SearchEngine.phraseTopK with
    * scopes) — per-scope stats, best instance per doc. */
  def phraseTopKScoped(phrase: String, k: Int,
                       prefixes: Seq[String]): Vector[SearchHit] = {
    val seq = Analyzer.tokensFor(analyzerVersion, phrase)
    if (seq.isEmpty) return Vector.empty
    prefixes.flatMap(p => proximityBrute(seq.distinct, k, Some(p),
        toks => toks.containsSlice(seq)))
      .groupBy(_.docId).values.map(_.maxBy(_.score)).toVector
      .sortBy(h => (-h.score, h.docId)).take(k)
  }

  /** NEAR/slop brute force — a doc matches iff SOME window of `slop + 1`
    * consecutive token positions contains at least one occurrence of
    * EVERY distinct query term. Deliberately the naive every-window scan
    * (slice + contains per start position), INDEPENDENT of the engine's
    * two-pointer minimal-window walk, so the two implementations
    * cross-check each other. Scoring identical to [[phraseTopK]]: BM25
    * over distinct terms in canonical (df asc, term asc) order, no stop
    * cap, unknown term ⇒ empty. */
  def nearTopK(query: String, slop: Int, k: Int = 10): Vector[SearchHit] = {
    require(slop >= 0, s"slop must be >= 0, got $slop")
    val distinct = Analyzer.analyzeQueryFor(analyzerVersion, query)
    if (distinct.isEmpty) return Vector.empty
    proximityBrute(distinct, k, None,
      toks => toks.indices.exists(i =>
        distinct.forall(t => toks.slice(i, i + slop + 1).contains(t))))
  }

  /** Ordered NEAR brute force (Lucene SpanNearQuery inOrder class,
    * engine parity: SearchEngine.nearTopK(ordered = true)): a doc
    * matches iff SOME window of `slop + 1` consecutive token positions
    * contains the analyzed query SEQUENCE (duplicates kept, query order)
    * as a SUBSEQUENCE — the independent formulation of "strictly
    * increasing occurrence positions with span <= slop" that the engine
    * verifies by greedy chaining. Scoring identical to [[nearTopK]]:
    * BM25 over distinct terms, no stop cap, unknown term ⇒ empty. */
  def nearOrderedTopK(query: String, slop: Int, k: Int = 10): Vector[SearchHit] = {
    require(slop >= 0, s"slop must be >= 0, got $slop")
    val seq = Analyzer.tokensFor(analyzerVersion, query)
    if (seq.isEmpty) return Vector.empty
    proximityBrute(seq.distinct, k, None,
      toks => toks.indices.exists(i =>
        isSubsequence(seq, toks.slice(i, i + slop + 1))))
  }

  def nearOrderedTopKScoped(query: String, slop: Int, k: Int,
                            prefixes: Seq[String]): Vector[SearchHit] = {
    require(slop >= 0, s"slop must be >= 0, got $slop")
    val seq = Analyzer.tokensFor(analyzerVersion, query)
    if (seq.isEmpty) return Vector.empty
    prefixes.flatMap(p => proximityBrute(seq.distinct, k, Some(p),
        toks => toks.indices.exists(i =>
          isSubsequence(seq, toks.slice(i, i + slop + 1)))))
      .groupBy(_.docId).values.map(_.maxBy(_.score)).toVector
      .sortBy(h => (-h.score, h.docId)).take(k)
  }

  private def isSubsequence(needle: Vector[String],
                            hay: Vector[String]): Boolean = {
    var i = 0
    hay.foreach(t => if (i < needle.length && needle(i) == t) i += 1)
    i == needle.length
  }

  /** Scoped NEAR union (engine parity: SearchEngine.nearTopK with
    * scopes). */
  def nearTopKScoped(query: String, slop: Int, k: Int,
                     prefixes: Seq[String]): Vector[SearchHit] = {
    require(slop >= 0, s"slop must be >= 0, got $slop")
    val distinct = Analyzer.analyzeQueryFor(analyzerVersion, query)
    if (distinct.isEmpty) return Vector.empty
    prefixes.flatMap(p => proximityBrute(distinct, k, Some(p),
        toks => toks.indices.exists(i =>
          distinct.forall(t => toks.slice(i, i + slop + 1).contains(t)))))
      .groupBy(_.docId).values.map(_.maxBy(_.score)).toVector
      .sortBy(h => (-h.score, h.docId)).take(k)
  }

  /** Prefix-expansion brute force (Lucene PrefixQuery with a
    * scoring-BooleanQuery rewrite): every dictionary term starting with
    * the folded (never stemmed) prefix, then OR/BM25 in canonical
    * (df asc, term asc) order over the expansion — no stop cap (the
    * pattern designates its terms explicitly, like a phrase). */
  def prefixTopK(prefix: String, k: Int = 10,
                 maxExpansions: Int = 128): Vector[SearchHit] = {
    val pre = Analyzer.foldPrefix(prefix)
    if (pre.isEmpty) return Vector.empty
    val expanded = index.keysIterator.filter(_.startsWith(pre)).toVector
    require(expanded.size <= maxExpansions,
      s"prefix '$pre*' expands to ${expanded.size} terms (max $maxExpansions)")
    expansionTopK(expanded, k)
  }

  /** Textbook Levenshtein DP over CODE POINTS (Spark's builtin edits
    * whole code points, not UTF-16 units) — deliberately a DIFFERENT
    * implementation from the engine's probe (the codegen levenshtein
    * builtin), so the fuzzy rank-identity tests compare two independent
    * algorithms. */
  def levenshtein(aS: String, bS: String): Int = {
    val a = aS.codePoints().toArray
    val b = bS.codePoints().toArray
    if (a.isEmpty) return b.length
    if (b.isEmpty) return a.length
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var j = 1
      while (j <= b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(b.length)
  }

  /** Fuzzy-expansion brute force (Lucene FuzzyQuery with a
    * scoring-BooleanQuery rewrite, engine parity:
    * SearchEngine.fuzzyTopK): every dictionary term within Levenshtein
    * distance `maxEdits` of the folded (never stemmed) pattern, sharing
    * the first `prefixLength` chars exactly, then OR/BM25 over the
    * expansion — plain BM25, no Lucene similarity boost. */
  def fuzzyTopK(term: String, maxEdits: Int, k: Int = 10,
                prefixLength: Int = 0,
                maxExpansions: Int = 128): Vector[SearchHit] = {
    val q = Analyzer.foldPrefix(term)
    if (q.isEmpty) return Vector.empty
    val expanded = index.keysIterator
      .filter(t => t.startsWith(q.take(prefixLength)) &&
        levenshtein(t, q) <= maxEdits)
      .toVector
    require(expanded.size <= maxExpansions,
      s"fuzzy '$q'~$maxEdits expands to ${expanded.size} terms (max $maxExpansions)")
    expansionTopK(expanded, k)
  }

  /** Recursive-DP glob matcher — deliberately a THIRD independent
    * implementation vs Spark's LIKE and DuckDB's LIKE, so the wildcard
    * rank-identity tests compare different algorithms. `*` = any
    * sequence, `?` = one char. */
  def globMatch(pat: String, s: String): Boolean = {
    val dp = Array.ofDim[Boolean](pat.length + 1, s.length + 1)
    dp(0)(0) = true
    var i = 1
    while (i <= pat.length) {
      dp(i)(0) = dp(i - 1)(0) && pat(i - 1) == '*'
      var j = 1
      while (j <= s.length) {
        dp(i)(j) = pat(i - 1) match {
          case '*' => dp(i - 1)(j) || dp(i)(j - 1)
          case '?' => dp(i - 1)(j - 1)
          case c => dp(i - 1)(j - 1) && s(j - 1) == c
        }
        j += 1
      }
      i += 1
    }
    dp(pat.length)(s.length)
  }

  /** Wildcard-expansion brute force (Lucene WildcardQuery with a
    * scoring-BooleanQuery rewrite, engine parity:
    * SearchEngine.wildcardTopK): every dictionary term glob-matching the
    * folded (never stemmed) pattern, then OR/BM25 over the expansion. */
  def wildcardTopK(pattern: String, k: Int = 10,
                   maxExpansions: Int = 128): Vector[SearchHit] = {
    val pat = Analyzer.foldWildcard(pattern)
    if (pat.isEmpty) return Vector.empty
    val expanded = index.keysIterator.filter(t => globMatch(pat, t)).toVector
    require(expanded.size <= maxExpansions,
      s"wildcard '$pat' expands to ${expanded.size} terms (max $maxExpansions)")
    expansionTopK(expanded, k)
  }

  def wildcardTopKScoped(pattern: String, k: Int,
                         prefixes: Seq[String]): Vector[SearchHit] = {
    val pat = Analyzer.foldWildcard(pattern)
    if (pat.isEmpty) return Vector.empty
    val expanded = index.keysIterator.filter(t => globMatch(pat, t)).toVector
    expansionTopKScoped(expanded, k, prefixes)
  }

  def fuzzyTopKScoped(term: String, maxEdits: Int, k: Int,
                      prefixes: Seq[String], prefixLength: Int = 0): Vector[SearchHit] = {
    val q = Analyzer.foldPrefix(term)
    if (q.isEmpty) return Vector.empty
    val expanded = index.keysIterator
      .filter(t => t.startsWith(q.take(prefixLength)) &&
        levenshtein(t, q) <= maxEdits)
      .toVector
    expansionTopKScoped(expanded, k, prefixes)
  }

  /** OR/BM25 over an already-expanded term set, canonical (df asc, term
    * asc) fold order — the shared tail of prefixTopK and fuzzyTopK. */
  private def expansionTopK(expanded: Vector[String], k: Int): Vector[SearchHit] = {
    if (expanded.isEmpty) return Vector.empty
    val kept = expanded.sortBy(t => (df(t), t))
    val postings = kept.map(t => index(t).toMap)
    val candidates = postings.map(_.keySet).reduce(_ union _)
    val hits = candidates.toVector.map { d =>
      var s = 0.0
      kept.zipWithIndex.foreach { case (t, i) =>
        postings(i).get(d).foreach(tf =>
          s += Bm25.score(tf, df(t), dl(d), nDocs, avgdl))
      }
      SearchHit(d, s)
    }
    hits.sortBy(h => (-h.score, h.docId)).take(k)
  }

  /** Scoped prefix union (engine parity: SearchEngine.prefixTopK with
    * scopes): the expansion stays GLOBAL (and globally capped), each
    * scope keeps the expansion terms with scoped df > 0 and scores with
    * per-scope stats, best instance per doc. */
  def prefixTopKScoped(prefix: String, k: Int, prefixes: Seq[String],
                       maxExpansions: Int = 128): Vector[SearchHit] = {
    val pre = Analyzer.foldPrefix(prefix)
    if (pre.isEmpty) return Vector.empty
    val expanded = index.keysIterator.filter(_.startsWith(pre)).toVector
    require(expanded.size <= maxExpansions,
      s"prefix '$pre*' expands to ${expanded.size} terms (max $maxExpansions)")
    expansionTopKScoped(expanded, k, prefixes)
  }

  /** Scoped expansion union (engine parity: SearchEngine.search of a
    * Query.Expand with scopes): the expansion stays GLOBAL (and globally capped), each
    * scope keeps the expansion terms with scoped df > 0 and scores with
    * per-scope stats, best instance per doc. */
  private def expansionTopKScoped(expanded: Vector[String], k: Int,
                                  prefixes: Seq[String]): Vector[SearchHit] = {
    if (expanded.isEmpty) return Vector.empty
    val all = prefixes.flatMap { p =>
      val inScope: Long => Boolean = d => docs(d.toInt).conv_id.startsWith(p)
      val ids = docs.indices.filter(d => inScope(d.toLong))
      if (ids.isEmpty) Vector.empty
      else {
        val n = ids.size.toLong
        val avg = ids.map(d => docTokens(d).length.toLong).sum.toDouble / n
        val dfS = (t: String) => index.get(t)
          .map(_.count { case (d, _) => inScope(d) }.toLong).getOrElse(0L)
        val kept = expanded.filter(t => dfS(t) > 0).sortBy(t => (dfS(t), t))
        if (kept.isEmpty) Vector.empty
        else {
          val postings = kept.map(t =>
            index(t).filter { case (d, _) => inScope(d) }.toMap)
          val candidates = postings.map(_.keySet).reduce(_ union _)
          candidates.toVector.map { d =>
            var s = 0.0
            kept.zipWithIndex.foreach { case (t, i) =>
              postings(i).get(d).foreach(tf =>
                s += Bm25.score(tf, dfS(t), dl(d), n, avg))
            }
            SearchHit(d, s)
          }.sortBy(h => (-h.score, h.docId)).take(k)
        }
      }
    }
    all.groupBy(_.docId).values.map(_.maxBy(_.score)).toVector
      .sortBy(h => (-h.score, h.docId)).take(k)
  }

  /** Multi-scope union with per-scope stats (reference multi-site search,
    * SearchServiceImpl.java:127-162): per-scope top-k unioned, best
    * instance per doc, global (score DESC, docId ASC) order. */
  def topKScoped(query: String, mode: String, k: Int,
                 prefixes: Seq[String]): Vector[SearchHit] =
    prefixes.flatMap(p => topK(query, mode, k, convPrefix = Some(p)))
      .groupBy(_.docId).values.map(_.maxBy(_.score)).toVector
      .sortBy(h => (-h.score, h.docId)).take(k)

  /** Boolean MUST + MUST_NOT brute force (engine parity:
    * SearchEngine.queryNot): the COMPLETE AND result (positives with the
    * standard stop cap / drop-unknown), minus every doc whose token
    * stream contains ANY analyzed negative term, then top-k. Scores are
    * untouched by the exclusion — a NOT hit scores exactly like its AND
    * hit (prohibited clauses contribute no score, Lucene parity). */
  def andNotTopK(query: String, notQuery: String, k: Int = 10): Vector[SearchHit] = {
    val negs = Analyzer.analyzeQueryFor(analyzerVersion, notQuery).toSet
    topK(query, "AND", Int.MaxValue)
      .filterNot(h => docTokens(h.docId.toInt).exists(negs))
      .take(k)
  }

  def andNotTopKScoped(query: String, notQuery: String, k: Int,
                       prefixes: Seq[String]): Vector[SearchHit] = {
    val negs = Analyzer.analyzeQueryFor(analyzerVersion, notQuery).toSet
    topKScoped(query, "AND", Int.MaxValue, prefixes)
      .filterNot(h => docTokens(h.docId.toInt).exists(negs))
      .take(k)
  }

  // ---- typed-field filters (r7, engine parity: QueryFilter) ------------
  // FILTER clauses restrict candidates and touch nothing else: scores,
  // df/N/avgdl and the stop cap are those of the unfiltered corpus/scope.
  // So the brute force is definitionally a post-filter on the UNCAPPED
  // result: run the base oracle at k = ∞, drop non-matching docs, take k.

  /** Does this doc pass the filter? Folded exact equality on role/tool
    * (empty doc values match nothing — the builder indexes no posting for
    * them) + inclusive ts range. */
  def docPasses(f: graft.model.QueryFilter)(docId: Long): Boolean = {
    val t = docs(docId.toInt)
    def eq(dv: String, qv: String): Boolean = {
      val d = Analyzer.fold(if (dv == null) "" else dv.trim)
      d.nonEmpty && d == Analyzer.fold(qv.trim)
    }
    f.role.forall(eq(t.role, _)) && f.tool.forall(eq(t.tool, _)) &&
      f.tsFrom.forall(x => t.ts != null && !t.ts.before(x)) &&
      f.tsTo.forall(x => t.ts != null && !t.ts.after(x))
  }

  private def postFilter(f: graft.model.QueryFilter, k: Int)
                        (all: => Vector[SearchHit]): Vector[SearchHit] =
    if (f.isEmpty) all.take(k)
    else all.filter(h => docPasses(f)(h.docId)).take(k)

  def topKFiltered(query: String, mode: String, k: Int,
                   f: graft.model.QueryFilter): Vector[SearchHit] =
    postFilter(f, k)(topK(query, mode, Int.MaxValue))

  def topKScopedFiltered(query: String, mode: String, k: Int,
                         prefixes: Seq[String],
                         f: graft.model.QueryFilter): Vector[SearchHit] =
    postFilter(f, k)(topKScoped(query, mode, Int.MaxValue, prefixes))

  def shouldTopKFiltered(query: String, minMatch: Int, k: Int,
                         f: graft.model.QueryFilter): Vector[SearchHit] =
    postFilter(f, k)(shouldTopK(query, minMatch, Int.MaxValue))

  def andNotTopKFiltered(query: String, notQuery: String, k: Int,
                         f: graft.model.QueryFilter): Vector[SearchHit] =
    postFilter(f, k)(andNotTopK(query, notQuery, Int.MaxValue))

  def phraseTopKFiltered(phrase: String, k: Int,
                         f: graft.model.QueryFilter): Vector[SearchHit] =
    postFilter(f, k)(phraseTopK(phrase, Int.MaxValue))

  def nearTopKFiltered(query: String, slop: Int, k: Int,
                       f: graft.model.QueryFilter): Vector[SearchHit] =
    postFilter(f, k)(nearTopK(query, slop, Int.MaxValue))

  def prefixTopKFiltered(prefix: String, k: Int,
                         f: graft.model.QueryFilter): Vector[SearchHit] =
    postFilter(f, k)(prefixTopK(prefix, Int.MaxValue))

  def phraseTopKScopedFiltered(phrase: String, k: Int, prefixes: Seq[String],
                               f: graft.model.QueryFilter): Vector[SearchHit] =
    postFilter(f, k)(phraseTopKScoped(phrase, Int.MaxValue, prefixes))

  /** Boolean SHOULD / minimum_should_match brute force (engine parity:
    * SearchEngine.queryShould): docs matching at least `minMatch` of the
    * query's analyzed DISTINCT terms, scored over the MATCHED terms in
    * canonical (df asc, term asc) order — same float-op order as the
    * engine, so scores must be bit-equal. Lucene clause accounting: an
    * unknown or stop-capped term still counts toward the requirement
    * while never matching, so fewer than minMatch SURVIVING terms ⇒
    * empty; minMatch > #distinct terms is unsatisfiable ⇒ empty. */
  def shouldTopK(query: String, minMatch: Int, k: Int = 10,
                 convPrefix: Option[String] = None): Vector[SearchHit] = {
    require(minMatch >= 1, s"minMatch must be >= 1, got $minMatch")
    val inScope: Long => Boolean = convPrefix match {
      case None => _ => true
      case Some(pre) => d => docs(d.toInt).conv_id.startsWith(pre)
    }
    val (n, avg, dfOf): (Long, Double, String => Long) = convPrefix match {
      case None => (nDocs, avgdl, df _)
      case Some(_) =>
        val ids = docs.indices.filter(d => inScope(d.toLong))
        if (ids.isEmpty) return Vector.empty
        val a = ids.map(d => docTokens(d).length.toLong).sum.toDouble / ids.size
        val dfS = (t: String) => index.get(t)
          .map(_.count { case (d, _) => inScope(d) }.toLong).getOrElse(0L)
        (ids.size.toLong, a, dfS)
    }
    val qTerms = Analyzer.analyzeQueryFor(analyzerVersion, query).distinct
    if (qTerms.isEmpty || minMatch > qTerms.size) return Vector.empty
    val cap = 0.9 * n
    val kept = qTerms.filter(t => dfOf(t) > 0 && dfOf(t) <= cap)
      .sortBy(t => (dfOf(t), t))
    if (kept.size < minMatch) return Vector.empty
    val postings = kept.map(t => index(t).filter { case (d, _) => inScope(d) }.toMap)
    val hits = postings.map(_.keySet).reduce(_ union _).toVector.flatMap { d =>
      if (postings.count(_.contains(d)) < minMatch) None
      else {
        var s = 0.0
        kept.indices.foreach { i =>
          postings(i).get(d).foreach(tf =>
            s += Bm25.score(tf, dfOf(kept(i)), dl(d), n, avg))
        }
        Some(SearchHit(d, s))
      }
    }
    hits.sortBy(h => (-h.score, h.docId)).take(k)
  }

  def shouldTopKScoped(query: String, minMatch: Int, k: Int,
                       prefixes: Seq[String]): Vector[SearchHit] =
    prefixes.flatMap(p => shouldTopK(query, minMatch, k, Some(p)))
      .groupBy(_.docId).values.map(_.maxBy(_.score)).toVector
      .sortBy(h => (-h.score, h.docId)).take(k)

  /** COMBINED BooleanQuery brute force (engine parity:
    * SearchEngine.queryBool — its scaladoc is the contract this mirrors):
    * MUST terms drop-unknown + stop-cap like mode=AND; SHOULD terms
    * set-semantics distinct, unsatisfiable clauses (unknown, capped, or
    * prohibited) count toward minShouldMatch but never match; SHOULD ∩
    * MUST auto-satisfies (removed, requirement reduced); MUST ∩ MUST_NOT
    * surviving planning ⇒ empty; MUST_NOT never capped/dropped, no
    * score. Score = BM25 over MUST + MATCHED SHOULD in ONE canonical
    * (df asc, term asc) order over the union — same float-op order as
    * the engine, bit-equal. */
  def boolTopK(must: String, should: String = "", notQuery: String = "",
               minShouldMatch: Int = 0, k: Int = 10,
               convPrefix: Option[String] = None,
               boosts: Map[String, Double] = Map.empty): Vector[SearchHit] = {
    require(minShouldMatch >= 0)
    val boostOf = Analyzer.resolveBoosts(analyzerVersion, boosts)
    val inScope: Long => Boolean = convPrefix match {
      case None => _ => true
      case Some(pre) => d => docs(d.toInt).conv_id.startsWith(pre)
    }
    val (n, avg, dfOf): (Long, Double, String => Long) = convPrefix match {
      case None => (nDocs, avgdl, df _)
      case Some(_) =>
        val ids = docs.indices.filter(d => inScope(d.toLong))
        if (ids.isEmpty) return Vector.empty
        val a = ids.map(d => docTokens(d).length.toLong).sum.toDouble / ids.size
        val dfS = (t: String) => index.get(t)
          .map(_.count { case (d, _) => inScope(d) }.toLong).getOrElse(0L)
        (ids.size.toLong, a, dfS)
    }
    val mustQ = Analyzer.analyzeQueryFor(analyzerVersion, must)
    val negs = Analyzer.analyzeQueryFor(analyzerVersion, notQuery).distinct
    val shouldRaw = Analyzer.analyzeQueryFor(analyzerVersion, should).distinct
    val mustSet = mustQ.toSet
    val negSet = negs.toSet
    val autoSatisfied = shouldRaw.count(mustSet)
    val shouldKept = shouldRaw.filterNot(t => mustSet(t) || negSet(t))
    val minEff = math.max(0, minShouldMatch - autoSatisfied)
    if (mustQ.isEmpty && shouldKept.isEmpty) return Vector.empty
    val cap = 0.9 * n
    val mustKept = mustQ.filter(t => dfOf(t) > 0 && dfOf(t) <= cap)
      .sortBy(t => (dfOf(t), t))
    if (mustQ.nonEmpty && mustKept.isEmpty) return Vector.empty
    if (mustKept.exists(negSet)) return Vector.empty
    val shouldSurv = shouldKept.filter(t => dfOf(t) > 0 && dfOf(t) <= cap)
    val minMatch = if (mustQ.isEmpty) math.max(1, minEff) else minEff
    if (shouldSurv.size < minMatch) return Vector.empty
    // candidates: all MUST present (or any SHOULD when no must), none of
    // the negatives present, >= minMatch of the surviving SHOULD present
    val mustPostings =
      mustKept.map(t => index(t).filter { case (d, _) => inScope(d) }.toMap)
    val shouldPostings =
      shouldSurv.map(t => index(t).filter { case (d, _) => inScope(d) }.toMap)
    val base: Set[Long] =
      if (mustKept.nonEmpty) mustPostings.map(_.keySet).reduce(_ intersect _)
      else shouldPostings.map(_.keySet).reduce(_ union _)
    val scored = (mustKept ++ shouldSurv).sortBy(t => (dfOf(t), t))
    val postingOf = (mustKept.zip(mustPostings) ++
      shouldSurv.zip(shouldPostings)).toMap
    val hits = base.toVector.flatMap { d =>
      if (docTokens(d.toInt).exists(negSet)) None
      else {
        val matched = shouldSurv.count(t => postingOf(t).contains(d))
        if (matched < minMatch) None
        else {
          var s = 0.0
          scored.foreach { t => // canonical order; absent SHOULD adds 0
            postingOf(t).get(d).foreach { tf =>
              s += boostOf.getOrElse(t, 1.0) * Bm25.score(tf, dfOf(t), dl(d), n, avg)
            }
          }
          Some(SearchHit(d, s))
        }
      }
    }
    hits.sortBy(h => (-h.score, h.docId)).take(k)
  }

  /** Phrase-as-clause brute force (engine parity:
    * SearchEngine.queryBoolPhrase — its scaladoc is the contract): the
    * combined BooleanQuery with a required phrase (slop = None) or
    * unordered-NEAR window (slop = Some(n)) clause. Phrase terms: no
    * cap, unknown ⇒ empty; MUST extras: AND drop-unknown + cap;
    * overlap algebra and scoring as boolTopK with the phrase terms
    * counted among the required set. */
  def boolPhraseTopK(phrase: String, slop: Option[Int], must: String,
                     should: String = "", notQuery: String = "",
                     minShouldMatch: Int = 0, k: Int = 10,
                     boosts: Map[String, Double] = Map.empty): Vector[SearchHit] = {
    val boostOf = Analyzer.resolveBoosts(analyzerVersion, boosts)
    val seq = Analyzer.tokensFor(analyzerVersion, phrase)
    if (seq.isEmpty)
      return boolTopK(must, should, notQuery, minShouldMatch, k,
        boosts = boosts)
    val slots = seq.distinct
    val verify: Vector[String] => Boolean = slop match {
      case None => toks => toks.containsSlice(seq)
      case Some(n) => toks => toks.indices.exists(i =>
        slots.forall(t => toks.slice(i, i + n + 1).contains(t)))
    }
    val slotSet = slots.toSet
    val mustQ = Analyzer.analyzeQueryFor(analyzerVersion, must)
    val negs = Analyzer.analyzeQueryFor(analyzerVersion, notQuery).distinct
    val shouldRaw = Analyzer.analyzeQueryFor(analyzerVersion, should).distinct
    val negSet = negs.toSet
    if (negs.exists(slotSet)) return Vector.empty
    val mustExtra = mustQ.filterNot(slotSet)
    val requiredSet = mustQ.toSet ++ slotSet
    val autoSatisfied = shouldRaw.count(requiredSet)
    val shouldKept = shouldRaw.filterNot(t => requiredSet(t) || negSet(t))
    val minEff = math.max(0, minShouldMatch - autoSatisfied)
    if (minEff > shouldKept.size) return Vector.empty
    if (slots.exists(t => df(t) == 0L)) return Vector.empty
    val cap = 0.9 * nDocs
    val mustKept = mustExtra.filter(t => df(t) > 0 && df(t) <= cap)
    if (mustKept.exists(negSet)) return Vector.empty
    val shouldSurv = shouldKept.filter(t => df(t) > 0 && df(t) <= cap)
    if (shouldSurv.size < minEff) return Vector.empty
    val required = slots ++ mustKept
    val scored = (required ++ shouldSurv).sortBy(t => (df(t), t))
    val base = required.map(t => index(t).map(_._1).toSet)
      .reduce(_ intersect _)
    val hits = base.toVector.flatMap { d =>
      val toks = docTokens(d.toInt)
      if (!verify(toks) || toks.exists(negSet)) None
      else {
        val matched = shouldSurv.count(t => index(t).exists(_._1 == d))
        if (matched < minEff) None
        else {
          var s = 0.0
          scored.foreach { t => // canonical order; absent SHOULD adds 0
            index(t).find(_._1 == d).foreach { case (_, tf) =>
              s += boostOf.getOrElse(t, 1.0) * Bm25.score(tf, df(t), dl(d), nDocs, avgdl)
            }
          }
          Some(SearchHit(d, s))
        }
      }
    }
    hits.sortBy(h => (-h.score, h.docId)).take(k)
  }

  def boolTopKScoped(must: String, should: String, notQuery: String,
                     minShouldMatch: Int, k: Int, prefixes: Seq[String],
                     boosts: Map[String, Double] = Map.empty): Vector[SearchHit] =
    prefixes.flatMap(p =>
        boolTopK(must, should, notQuery, minShouldMatch, k, Some(p), boosts))
      .groupBy(_.docId).values.map(_.maxBy(_.score)).toVector
      .sortBy(h => (-h.score, h.docId)).take(k)

  def boolTopKFiltered(must: String, should: String, notQuery: String,
                       minShouldMatch: Int, k: Int,
                       f: graft.model.QueryFilter): Vector[SearchHit] =
    postFilter(f, k)(
      boolTopK(must, should, notQuery, minShouldMatch, Int.MaxValue))

  /** Reference-compat relevance: Σ tf max-normalized (AND only) —
    * SearchServiceImpl.java:202-245 semantics with our docId tie-break. */
  def topKRefCompat(query: String, k: Int = 10): Vector[SearchHit] = {
    val qTerms = Analyzer.analyzeQueryFor(analyzerVersion, query)
    if (qTerms.isEmpty) return Vector.empty
    val present = qTerms.filter(t => df(t) > 0)
    val cap = 0.9 * nDocs
    val kept = present.filter(t => df(t) <= cap) // unknown lemmas dropped
    if (kept.isEmpty) return Vector.empty
    val postings = kept.map(t => index(t).toMap)
    val candidates = postings.map(_.keySet).reduce(_ intersect _)
    if (candidates.isEmpty) return Vector.empty
    val abs = candidates.toVector.map { d =>
      d -> postings.flatMap(_.get(d)).map(_.toLong).sum.toDouble
    }
    val maxAbs = abs.map(_._2).max
    abs.map { case (d, a) => SearchHit(d, a / (if (maxAbs <= 0) 1.0 else maxAbs)) }
      .sortBy(h => (-h.score, h.docId)).take(k)
  }
}
