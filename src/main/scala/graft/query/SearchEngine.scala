package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.StringUtils
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.analysis.Analyzer
import graft.index.{IndexBuilder, IndexManifest, IndexSnapshot, Manifest}
import graft.model.{CorpusStats, QueryFilter, QuerySpec, SearchHit, TermStats}

/** Query engine over a built index (SURVEY.md §3.1 Spark lifecycle, §7.5).
  *
  * A query is a value: every public query mode is a one-call facade that
  * builds a [[Query]] tree and hands it to [[search]], the one planner.
  * Three steps take a tree to the executor:
  *
  *  1. tree → [[Resolved]]: pin the manifest, analyze the clause texts
  *     with its analyzer and settle clause overlaps with one algebra
  *     (must ∩ phrase dedupes, SHOULD terms already required count as
  *     satisfied, must_not ∩ phrase is empty). The resolved value is also
  *     the result-memo key;
  *  2. resolved → [[Clauses]], per view (the corpus, or one view per
  *     scope with scoped statistics): resolve the filter, look up the
  *     whole term universe once (binary searches of the snapshot-resident
  *     dictionary, [[IndexSnapshot.dictionary]], or scoped dfs, or an
  *     expansion's own dfs, matched in memory), keep each clause family
  *     by its rule (phrase terms uncapped and all-or-nothing, MUST and
  *     SHOULD terms drop-unknown and stop-capped, expansions uncapped),
  *     apply the early-empty rules. Once the dictionary is resident this
  *     step runs no Spark job, so a warm corpus query is one job (the
  *     executor's) and one whose MUST terms are all absent is none;
  *  3. [[Clauses]] → hits: ONE private clause value (scored required and
  *     should terms, minShould, prohibited terms, weightless filters,
  *     boosts, an optional proximity part) goes to ONE shard-local
  *     executor ([[execute]]). The executor scans the pruned
  * postings once, decodes them and splits each shard's cursors by role in
  * `mapPartitions` (zero per-query shuffle; at most `defaultParallelism`
  * tasks, each packing whole shards), applies the presence gates,
  * then runs the walk the clause shape picks and merges the per-shard
  * top-k on the driver (network O(shards × k)):
  *
  * | clause shape                                  | walk                        |
  * |-----------------------------------------------|-----------------------------|
  * | required only (+ filters)                     | `Wand.andTopKSegments`      |
  * | no required, minShould ≤ 1                    | `Wand.orTopKSegments` (filters required, prohibited probed) |
  * | no required, minShould > 1                    | `Wand.shouldTopKSegments`   |
  * | required + any of should / prohibited / proximity | one `Wand.andAllWith` walk: per candidate the admission bound, NOT probes, the ordinal predicate, SHOULD probes, then the canonical fold |
  * | proximity on a positions-free index           | one rescan: complete AND candidates → docs join → verify plus canonical fold from the tokens |
  *
  * Query-time semantics carried over from the reference:
  *  - terms analyzed with the SAME analyzer as the build
  *    (SearchServiceImpl.java:68-70);
  *  - stop-term cap df <= 0.9·N (LEMMA_FREQUENCY_PERCENT,
  *    SearchServiceImpl.java:32,151-154);
  *  - AND = intersection, rarest term first (:164-200);
  *  - deterministic order: score DESC, docId ASC (§7.0.3 — the reference
  *    leaves ties unspecified, SearchServiceImpl.java:231-245).
  */
object SearchEngine {

  /** Reference LEMMA_FREQUENCY_PERCENT (SearchServiceImpl.java:32). */
  val StopTermCap = 0.9

  final case class Plan(terms: Vector[TermStats], dropped: Vector[String],
                        mode: String, k: Int)

  /** The latest committed snapshot — resolved ONCE per query and threaded
    * through planning, the posting scan and the doc lookups, so a query
    * never mixes two snapshots' files even while maintenance commits
    * concurrently (snapshot isolation; IndexMaintenance scaladoc).
    * Resolution goes through [[IndexManifest.readCached]] (version-hint
    * file + per-(root, version) memo — VERDICT r04 item 1): repeat
    * queries on an unchanged snapshot pay one tiny hint read and one
    * exists() probe, never a directory listing or a manifest re-parse
    * (IndexManifestSpec pins the counter contract). */
  private def pinnedManifest(root: String): Manifest =
    IndexManifest.readCached(root).getOrElse(
      throw new IllegalStateException(s"no manifest at $root — index not built"))

  /** Driver-side "optimize" phase: dictionary lookup + stop cap + df-asc
    * order (SURVEY.md §3.1 step 5). The lookup is [[dictionary]]'s: binary
    * searches, no Spark job once the generation is resident. */
  def plan(spark: SparkSession, root: String, spec: QuerySpec,
           stats: CorpusStats, applyStopCap: Boolean = true,
           pinned: Option[Manifest] = None): Plan = {
    if (spec.terms.isEmpty) return Plan(Vector.empty, Vector.empty, spec.mode, spec.k)
    val m = pinned.getOrElse(pinnedManifest(root))
    val found = dictionary(spark, root, m, spec.terms)
    val cap = StopTermCap * stats.nDocs
    val (kept0, dropped) =
      if (applyStopCap) found.partition(_.df <= cap) else (found, Vector.empty)
    val kept = kept0.sortBy(t => (t.df, t.term)) // O1: rarest first
    Plan(kept, dropped.map(_.term).toVector, spec.mode, spec.k)
  }

  /** The dictionary rows of `terms` (absent terms have none): binary
    * searches of the snapshot-resident dictionary
    * ([[IndexSnapshot.dictionary]]; loading a generation is its one job),
    * or one filtered scan of term_stats when the generation is above the
    * resident-size cap; nothing at all for no terms. */
  private def dictionary(spark: SparkSession, root: String, m: Manifest,
                         terms: Seq[String]): Vector[TermStats] =
    if (terms.isEmpty) Vector.empty
    else IndexSnapshot.dictionary(spark, root, m) match {
      case Some(d) => terms.distinct.toVector.map(d.indexOf).filter(_ >= 0).map(row(d, _))
      case None => termStatsRows(IndexSnapshot.termStats(spark, root, m)
        .filter(col("term").isin(terms: _*)))
    }

  private def row(d: IndexSnapshot.TermDictionary, i: Int): TermStats =
    TermStats(d.terms(i), d.df(i), d.maxTf(i))

  private def termStatsRows(frame: DataFrame): Vector[TermStats] =
    frame.select(col("term"), col("df"), col("maxTf")).collect().toVector
      .map(r => TermStats(r.getString(0), r.getLong(1), r.getInt(2)))

  /** The term-query modes; SHOULD, phrase, NEAR and the expansions have
    * their own entry points. */
  private def requireMode(mode: String): Unit =
    require(mode == "AND" || mode == "OR",
      s"mode must be AND or OR, got '$mode' (SHOULD, PHRASE, NEAR and the " +
      "expansions have their own entry points)")

  /** Compressed scale path. Returns exact global top-k hits.
    * `convPrefix` scopes the search to conversations whose id starts with
    * the prefix and scores with PER-SCOPE statistics — reference per-site
    * semantics: df/N/stop-cap are all per site
    * (LemmaRepository.findBySiteAndLemma, SearchServiceImpl.java:143-162). */
  def query(spark: SparkSession, root: String, queryText: String,
            mode: String = "AND", k: Int = 10,
            convPrefix: Option[String] = None,
            filter: QueryFilter = QueryFilter.Empty,
            after: Option[SearchHit] = None): Vector[SearchHit] = {
    requireMode(mode)
    search(spark, root, termTree(queryText, mode), k, convPrefix.toSeq,
      filter = filter, after = after)
  }

  /** AND = every term required; OR = at least one of them. */
  private def termTree(text: String, mode: String): Query.Bool =
    if (mode == "AND") Query.Bool(must = Vector(text))
    else Query.Bool(should = Vector(text), minShould = 1)

  /** search_after (r7) is single-walk only: a multi-scope union keeps
    * each doc's BEST-instance score, and a per-scope after-cursor walk
    * could surface a doc by a non-best instance — pagination over scoped
    * unions needs a different protocol, so it refuses instead. */
  private val ScopedAfterError =
    "search_after does not compose with scopes/conv (a scoped union " +
    "keeps best-instance scores; page the unscoped query or one scope's " +
    "results client-side)"

  /** Resolve a [[QueryFilter]] against one pinned snapshot: the encoded
    * field terms (weightless posting cursors) + the ts-range docId
    * segments (None = no ts constraint; Some(empty) = nothing in range).
    * REFUSES on a fields-free index — a format without field postings/ts
    * stamps cannot answer these filters exactly (and a half-appended
    * legacy index would silently exclude its legacy docs), the same loud
    * contract as the positions flag. */
  private def resolveFilter(spark: SparkSession, root: String, m: Manifest,
                            f: QueryFilter)
      : (Vector[String], Option[Vector[(Long, Long)]]) = {
    if (f.isEmpty) return (Vector.empty, None)
    if (!m.fields) throw new IllegalStateException(
      s"index at $root was built without typed fields (fields=false): " +
      "role/tool/ts filters need a fields-enabled index — rebuild with " +
      "IndexBuilder.build(fields = true) (the default)")
    val terms = f.fieldEqs.map { case (fl, v) =>
      val t = Analyzer.fieldTerm(fl, v)
      // empty-after-fold values have no postings BY CONSTRUCTION (the
      // builder skips them) — refuse rather than silently matching
      // nothing on one path and empty-string docs on another
      require(!t.endsWith(Analyzer.FieldMarker),
        s"empty $fl filter value: '${v}'")
      t
    }.toVector
    val ts =
      if (!f.hasTs) None
      else Some(tsSegments(spark, root, m,
        f.tsFrom.map(_.getTime).getOrElse(Long.MinValue),
        f.tsTo.map(_.getTime).getOrElse(Long.MaxValue)))
    (terms, ts)
  }

  /** Combine optional scope ranges with the filter's optional ts ranges
    * (intersection when both present). None = unconstrained. */
  private def combineRanges(scope: Option[Seq[(Long, Long)]],
                            ts: Option[Seq[(Long, Long)]])
      : Option[Seq[(Long, Long)]] = (scope, ts) match {
    case (None, None) => None
    case (Some(a), None) => Some(a)
    case (None, Some(b)) => Some(b)
    case (Some(a), Some(b)) => Some(intersectRanges(a, b))
  }

  /** Time travel: query a SPECIFIC committed snapshot (must still be
    * within the retention window — see IndexSnapshot.expireSnapshots;
    * expired snapshots' manifest files are deleted with their data, so
    * this throws rather than reading half-reclaimed dirs). The snapshot
    * id participates in the result-memo key, so historical and current
    * results never cross-contaminate a serving cache.
    *
    * RETENTION CONTRACT under concurrent maintenance (VERDICT r04
    * item 7): with retention K (GRAFT_KEEP_SNAPSHOTS / the programmatic
    * override; per-op auto-expire keeps K), a reader pinned `d`
    * snapshots behind the current one survives `K - 1 - d` further
    * maintenance commits — a reader on the OLDEST retained snapshot has
    * zero grace. Size K ≥ d_max + (max commits during one query) + 1.
    * If expiry does overtake a running query, the query NEVER reads a
    * mixed state (dirs are immutable and deleted whole); it fails, and
    * [[withExpiryDiagnosis]] rethrows with this contract spelled out
    * instead of a raw missing-path error. */
  def queryAt(spark: SparkSession, root: String, snapshotId: Long,
              queryText: String, mode: String = "AND",
              k: Int = 10, scopes: Seq[String] = Nil,
              filter: QueryFilter = QueryFilter.Empty,
              after: Option[SearchHit] = None): Vector[SearchHit] = {
    requireMode(mode)
    val retained = IndexManifest.versions(root)
    require(retained.contains(snapshotId),
      s"snapshot $snapshotId not available at $root (expired or never " +
      s"committed); retained: ${retained.mkString(",")}")
    // the manifest parse itself can lose the race with expiry (cold cache
    // miss after versions() listed the snapshot) — keep it inside the
    // diagnosis wrapper so it fails loudly, not raw. Scoped time travel:
    // scope/segment/df memos key by snapshot id
    withExpiryDiagnosis(root, snapshotId)(search(spark, root,
      termTree(queryText, mode), k, scopes,
      Some(IndexManifest.readVersionCached(root, snapshotId)), filter, after))
  }

  /** Rethrow scan failures against a pinned snapshot whose retention was
    * overtaken mid-query as the LOUD contract error (see [[queryAt]]).
    * Failures with the snapshot still retained pass through untouched. */
  private[graft] def withExpiryDiagnosis[A](root: String, snapshotId: Long)
                                           (body: => A): A =
    try body
    catch {
      case e: Exception =>
        val retained =
          scala.util.Try(IndexManifest.versions(root)).getOrElse(Nil)
        if (!retained.contains(snapshotId))
          throw new IllegalStateException(
            s"snapshot $snapshotId at $root was expired by concurrent " +
            s"maintenance DURING this query (retained now: " +
            s"${retained.mkString(",")}). Time-travel readers need " +
            "retention ≥ travel depth + concurrent commits + 1 — raise " +
            "GRAFT_KEEP_SNAPSHOTS or defer expireSnapshots", e)
        else throw e
    }

  /** Multi-scope search (reference multi-site: per-site results computed
    * with per-site statistics, then unioned — SearchServiceImpl.java:
    * 127-162, O5). Scopes are conv-id prefixes and expected disjoint
    * (like sites); a doc reachable through several overlapping scopes
    * keeps its highest-scoring instance. Per scope:
    *
    *  1. one pruned docs agg resolves (docId range, N, avgdl);
    *  2. one pruned posting scan counts per-term df INSIDE the range
    *     (block-skipping cursors, decode-only);
    *  3. stop cap df <= 0.9*N_scope, df-asc order, WAND over the range
    *     with the scoped stats.
    */
  def queryScoped(spark: SparkSession, root: String, queryText: String,
                  mode: String, k: Int, scopes: Seq[String],
                  filter: QueryFilter = QueryFilter.Empty): Vector[SearchHit] = {
    requireMode(mode)
    if (scopes.isEmpty) Vector.empty
    else search(spark, root, termTree(queryText, mode), k, scopes, filter = filter)
  }

  /** THE planner: answer one [[Query]] tree against ONE pinned snapshot
    * (see [[pinnedManifest]]; `pinned` for time travel), in the corpus
    * view or per scope (`scopes`: conv-id prefixes, per-scope statistics,
    * best-instance union), restricted by the weightless `filter` and paged
    * after the `after` cursor. In order: validate (before any Spark job),
    * pin, analyze and settle clause overlaps ([[resolve]] — an
    * unsatisfiable query answers empty here), then under the memo key
    * [[Resolved]]: expand a multi-term pattern ([[expansion]]), resolve
    * the filter, look up each view's term universe ([[overViews]]), keep
    * each clause family by its rule, apply the early-empty rules and
    * [[execute]].
    *
    * Clause rules (each dedicated mode's contract, Lucene BooleanQuery
    * algebra): MUST terms absent from the dictionary (or the scope) are
    * DROPPED and the rest searched (reference SearchServiceImpl.java:
    * 145-148 filter(Objects::nonNull)) — empty only when no required term
    * survives; MUST and SHOULD terms take the stop cap; phrase terms take
    * no cap and ANY absent phrase term answers empty; a SHOULD clause that
    * can never match (unknown, capped or prohibited) still COUNTS toward
    * `minShould`; a surviving MUST term that is also MUST_NOT answers
    * empty; MUST_NOT terms are never dropped or scored. Filters compose
    * with scopes: per-scope STATISTICS stay those of the whole scope
    * (filters never re-weigh — Lucene FILTER semantics), the walk runs
    * over scope ∩ ts segments, field cursors probe in-walk. */
  def search(spark: SparkSession, root: String, query: Query, k: Int = 10,
             scopes: Seq[String] = Nil, pinned: Option[Manifest] = None,
             filter: QueryFilter = QueryFilter.Empty,
             after: Option[SearchHit] = None): Vector[SearchHit] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(after.isEmpty || scopes.isEmpty, ScopedAfterError)
    query match {
      case b: Query.Bool =>
        require(b.minShould >= 0, s"minShouldMatch must be >= 0, got ${b.minShould}")
        b.phrase.flatMap(_.slop).foreach(n => require(n >= 0, s"slop must be >= 0, got $n"))
        require(after.isEmpty || b.phrase.isEmpty,
          "search_after pages term queries only (phrase/NEAR have no page cursor yet)")
        require(b.phrase.isEmpty || scopes.isEmpty ||
            !(b.must ++ b.should ++ b.not).exists(_.trim.nonEmpty),
          "a composed phrase+clauses query does not (yet) combine with " +
          "--scopes; scope the plain phrase or the boolean query instead")
      case Query.Expand(Query.Fuzzy(edits, prefixLen), _) =>
        require(edits >= 0 && edits <= MaxFuzzyEdits,
          s"maxEdits must be in [0, $MaxFuzzyEdits] (Lucene FuzzyQuery limit), got $edits")
        require(prefixLen >= 0, s"prefixLength must be >= 0, got $prefixLen")
      case _ =>
    }
    val m = pinned.getOrElse(pinnedManifest(root))
    resolve(m, query, k, scopes, filter, after) match {
      case None => Vector.empty
      case Some(r) => memoized(root, r) {
        val found = r.expand.map(expansion(spark, root, m, _))
        val should = found.fold(r.should)(_.map(_.term))
        val (fterms, tsRanges) = resolveFilter(spark, root, m, filter)
        val slots = r.phrase.distinct.sorted
        val universe = slots ++ r.must ++ should
        if (universe.isEmpty) Vector.empty // an expansion that found nothing
        else overViews(spark, root, m, scopes, k, universe,
            found.fold(Map.empty[String, Long])(_.map(t => t.term -> t.df).toMap)) { v =>
          val phraseKept = kept(v, slots, capped = false)
          val required = phraseKept ++ kept(v, r.must, capped = true)
          val shouldKept = kept(v, should, capped = found.isEmpty)
          if (phraseKept.size < slots.size || required.isEmpty && r.must.nonEmpty) Vector.empty
          else if (required.exists(t => r.not.contains(t.term))) Vector.empty
          else if (shouldKept.size < r.needShould) Vector.empty
          else execute(spark, root, m,
            Clauses(required, shouldKept, r.minShould, r.not, fterms, r.boosts,
              if (slots.isEmpty) None else Some(proximity(r.phrase, r.slop, r.ordered))),
            v.stats, k, combineRanges(v.ranges, tsRanges), after)
        }
      }
    }
  }

  /** A query tree resolved against one snapshot — analyzed, with clause
    * overlaps settled — plus its plan inputs. Every field that can change
    * an answer is here, so it is the result-memo key as it stands:
    * `phrase` is the analyzed token sequence (empty = no phrase clause),
    * `must` the MUST terms outside it, `should` the SHOULD terms neither
    * required nor prohibited, `minShould` the SHOULD count left once
    * auto-satisfied clauses are subtracted, `not` the sorted MUST_NOT
    * terms, `boosts` keyed by analyzed term, `expand` a folded multi-term
    * pattern still to expand (its terms then form the SHOULD family). */
  private final case class Resolved(k: Int, scopes: Seq[String], snapshotId: Long,
                                    filter: QueryFilter, after: Option[SearchHit],
                                    phrase: Vector[String] = Vector.empty,
                                    slop: Option[Int] = None, ordered: Boolean = false,
                                    must: Vector[String] = Vector.empty,
                                    should: Vector[String] = Vector.empty,
                                    minShould: Int = 0,
                                    not: Vector[String] = Vector.empty,
                                    boosts: Map[String, Double] = Map.empty,
                                    expand: Option[Query.Expand] = None) {
    /** SHOULD matches a doc needs: Lucene's at-least-one rule applies
      * when no clause is required. */
    def needShould: Int =
      if (phrase.isEmpty && must.isEmpty) math.max(1, minShould) else minShould
  }

  /** Analyze `q` with `m`'s analyzer and settle clause overlaps (Lucene
    * clause algebra, documented deviations): a MUST term inside the phrase
    * dedupes into it; a SHOULD term that is also required is satisfied on
    * every candidate, so it leaves the SHOULD set and `minShould` drops by
    * one per such term (set semantics, never double-counted); a SHOULD
    * term that is also MUST_NOT stays in the count but can never match.
    * None = unsatisfiable before any lookup: a MUST_NOT term inside the
    * phrase (every phrase hit holds it), fewer SHOULD terms than the count
    * requirement, nothing to search, or an empty expansion pattern. */
  private def resolve(m: Manifest, q: Query, k: Int, scopes: Seq[String],
                      filter: QueryFilter, after: Option[SearchHit]): Option[Resolved] = {
    val base = Resolved(k, scopes, m.snapshotId, filter, after)
    val ver = m.analyzerVersion
    q match {
      case Query.Expand(kind, raw) =>
        // multi-term queries bypass analysis: folded, never stemmed
        val pat = if (kind == Query.Wildcard) Analyzer.foldWildcard(raw)
                  else Analyzer.foldPrefix(raw)
        if (pat.isEmpty) None
        else Some(base.copy(expand = Some(Query.Expand(kind, pat)), minShould = 1))
      case b: Query.Bool =>
        def terms(texts: Vector[String]) = Analyzer.analyzeQueryFor(ver, texts.mkString(" "))
        // raw boost keys resolve to analyzed terms ONCE; a boosted
        // contribution is boost × BM25, applied alike in cursors, bounds
        // and the oracle
        val boosts = Analyzer.resolveBoosts(ver, b.boosts)
        val seq = b.phrase.fold(Vector.empty[String])(p => Analyzer.tokensFor(ver, p.text))
        val must = terms(b.must)
        val not = terms(b.not).sorted
        val shouldRaw = terms(b.should)
        val required = must.toSet ++ seq
        val r = base.copy(phrase = seq, slop = b.phrase.flatMap(_.slop),
          ordered = b.phrase.exists(_.ordered), must = must.filterNot(seq.contains),
          should = shouldRaw.filterNot(t => required(t) || not.contains(t)),
          minShould = math.max(0, b.minShould - shouldRaw.count(required)),
          not = not, boosts = boosts)
        if (not.exists(seq.contains) || r.needShould > r.should.size) None else Some(r)
    }
  }

  /** The dictionary terms a multi-term query denotes (Lucene's
    * scoring-BooleanQuery rewrite), matched in memory against the
    * snapshot-resident dictionary: the literal prefix's sorted range
    * (the whole prefix, a fuzzy query's first `prefixLen` chars, a
    * wildcard's text before its first metacharacter), then a fuzzy
    * query's code-point Levenshtein ≤ edits or a wildcard's `*`/`?`
    * match, computed by the functions Spark's `levenshtein` and LIKE
    * call (`UTF8String.levenshteinDistance`, the regex of
    * `StringUtils.escapeLikeRegex`) — so the in-memory match and the
    * pushdown probe, which still runs when the generation is above the
    * resident-size cap, are one implementation. Rows with df = 0 match
    * like any other. Field terms can never match: term_stats excludes
    * the reserved namespace by construction (IndexBuilder.termStatsAgg).
    * More than [[MaxPrefixExpansions]] matches REFUSE (TooManyClauses). */
  private[query] def expansion(spark: SparkSession, root: String, m: Manifest,
                        e: Query.Expand): Vector[TermStats] = {
    val pat = e.pattern
    val (fixed, what, hint) = e.kind match {
      case Query.Prefix => (pat, s"prefix '$pat*'", "narrow the prefix")
      case Query.Fuzzy(edits, prefixLen) =>
        (pat.take(prefixLen), s"fuzzy '$pat'~$edits", "lower maxEdits or raise prefixLength")
      case Query.Wildcard =>
        (pat.takeWhile(c => c != '*' && c != '?'), s"wildcard '$pat'", "narrow the pattern")
    }
    val found = IndexSnapshot.dictionary(spark, root, m) match {
      case Some(d) =>
        val (lo, hi) = d.prefixRange(fixed)
        val matches: String => Boolean = e.kind match {
          case Query.Prefix => _ => true
          case Query.Fuzzy(edits, _) =>
            // -1 once the distance is past `edits`
            val q = UTF8String.fromString(pat)
            t => UTF8String.fromString(t).levenshteinDistance(q, edits) >= 0
          case Query.Wildcard =>
            val like = java.util.regex.Pattern.compile(StringUtils.escapeLikeRegex(likeOf(pat), '\\'))
            t => like.matcher(t).matches()
        }
        (lo until hi).filter(i => matches(d.terms(i))).map(row(d, _)).toVector
      case None => termStatsRows(probe(IndexSnapshot.termStats(spark, root, m), e, fixed))
    }
    if (found.size > MaxPrefixExpansions) throw new IllegalArgumentException(
      s"$what expands to ${found.size} dictionary terms (max " +
      s"$MaxPrefixExpansions) — refusing an unbounded disjunction; $hint")
    found
  }

  /** [[expansion]] above the resident-size cap: one pushable probe of the
    * term_stats table, O(matching terms) collected. The cheap necessary
    * conditions go first (the literal-prefix cut, a fuzzy length band),
    * the codegen'd levenshtein builtin last. CODE-POINT length on both
    * sides: Spark's length()/levenshtein() count code points, so the band
    * must too or an astral-plane char in the pattern would shift it. */
  private def probe(stats: DataFrame, e: Query.Expand, fixed: String): DataFrame = {
    val pat = e.pattern
    val cut = if (fixed.isEmpty) stats else stats.filter(col("term").startsWith(fixed))
    e.kind match {
      case Query.Prefix => cut
      case Query.Fuzzy(edits, _) =>
        val qCp = pat.codePointCount(0, pat.length)
        cut.filter(length(col("term")).between(qCp - edits, qCp + edits))
          .filter(levenshtein(col("term"), lit(pat)) <= edits)
      case Query.Wildcard =>
        cut.filter(col("term").like(likeOf(pat)))
    }
  }

  /** A wildcard pattern as LIKE: `*` → `%`, `?` → `_` (wildcard patterns
    * hold only token chars and the two metacharacters). */
  private def likeOf(pat: String): String = pat.replace('*', '%').replace('?', '_')

  /** The statistics one query is planned and scored in: the whole corpus
    * (`ranges` None) or one conv-prefix scope with per-scope N, avgdl,
    * dfs and docId segments (the reference's per-site semantics,
    * LemmaRepository.findBySiteAndLemma). `dfs` holds the dfs of the
    * query's term universe; absent terms have none. */
  private final case class View(stats: CorpusStats,
                                ranges: Option[Seq[(Long, Long)]],
                                dfs: Map[String, Long])

  /** Answer `body` in the corpus view, or in every scope's view and union
    * the answers. Each view looks up the dfs of the query's whole term
    * `universe` ONCE: the corpus view in one dictionary lookup (skipping
    * terms whose df `known` already holds — an expansion's), a scope in
    * one memoized pass after resolving its segments (memoized); an empty
    * scope answers nothing. ALL of a scope's segments go to ONE scan: the
    * shard-local walk takes the ascending segment list with one cursor
    * pass and one heap, so a scope fragmented by out-of-order appends
    * costs one Spark job, not one per segment. */
  private def overViews(spark: SparkSession, root: String, m: Manifest,
                        scopes: Seq[String], k: Int, universe: Seq[String],
                        known: Map[String, Long])
                       (body: View => Vector[SearchHit]): Vector[SearchHit] =
    if (scopes.isEmpty)
      body(View(CorpusStats(m.nDocs, m.avgdl, m.analyzerVersion), None, known ++
        dictionary(spark, root, m, universe.filterNot(known.contains)).map(t => t.term -> t.df)))
    else unionBest(scopes.flatMap { pre =>
      val segs = scopeSegments(spark, root, m, pre)
      if (segs.isEmpty) Vector.empty
      else {
        val n = segs.map(_.n).sum
        val ranges = segs.map(s => (s.lo, s.hi))
        body(View(CorpusStats(n, segs.map(_.sumDl).sum.toDouble / n,
          m.analyzerVersion), Some(ranges),
          scopedTermDf(spark, root, m, pre, universe, ranges)))
      }
    }, k)

  /** A view's planned survivors of `terms`: df > 0, the stop cap
    * df <= 0.9·N when `capped`, canonical (df, term) order (O1: rarest
    * first). */
  private def kept(v: View, terms: Seq[String],
                   capped: Boolean): Vector[TermStats] =
    terms.toVector
      .flatMap(t => v.dfs.get(t).filter(_ > 0).map(TermStats(t, _, 0)))
      .filter(t => !capped || t.df <= StopTermCap * v.stats.nDocs)
      .sortBy(t => (t.df, t.term))

  /** Multi-scope union: overlapping scopes keep each doc's best-scoring
    * instance, global (score DESC, docId ASC) order. */
  private def unionBest(all: Seq[SearchHit], k: Int): Vector[SearchHit] =
    all.groupBy(_.docId).values.map(_.maxBy(_.score)).toVector
      .sortBy(h => (-h.score, h.docId)).take(k)

  /** One contiguous docId run of a scope. */
  final case class ScopeSegment(lo: Long, hi: Long, n: Long, sumDl: Long)

  // Scoped-query serving caches (VERDICT r03 items 3/8): a scope's
  // segments and its per-term dfs are pure functions of (root, snapshot,
  // prefix[, term]) — memoize them so a hot multi-tenant serving workload
  // pays the segment range-shuffle and the df posting scan ONCE per scope
  // per snapshot instead of per query.
  //
  // BOUNDED as access-order LRUs (VERDICT r04 item 6): keys carry the
  // snapshot id, so superseded snapshots' entries age out by eviction —
  // no directory listing is ever needed to prune — and a single
  // long-lived hot snapshot serving a diverse (or adversarial) tenant
  // workload cannot grow the maps past the caps. disableServingCache
  // still clears a root's entries eagerly on maintenance.
  private[graft] val ScopeSegCacheCap = 4096
  private[graft] val ScopeDfCacheCap = 65536
  /** test hook: shrink the caps to make eviction observable cheaply */
  @volatile private[graft] var scopeCacheCapOverride: Option[(Int, Int)] = None
  private def lruMap[K, V](cap: () => Int) =
    new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > cap()
    }
  private val scopeSegCache =
    lruMap[(String, Long, String), Vector[ScopeSegment]](
      () => scopeCacheCapOverride.map(_._1).getOrElse(ScopeSegCacheCap))
  // value is java.lang.Long ON PURPOSE: a scala.Long-valued java map
  // would unbox get()'s null-on-miss to 0L — a phantom "df 0" cache hit
  private val scopeDfCache =
    lruMap[(String, Long, String, String), java.lang.Long](
      () => scopeCacheCapOverride.map(_._2).getOrElse(ScopeDfCacheCap))
  private[graft] def scopeCacheSizes: (Int, Int) =
    (scopeSegCache.synchronized(scopeSegCache.size),
     scopeDfCache.synchronized(scopeDfCache.size))
  private[graft] def clearScopeCaches(): Unit = {
    scopeSegCache.synchronized(scopeSegCache.clear())
    scopeDfCache.synchronized(scopeDfCache.clear())
    tsSegCache.synchronized(tsSegCache.clear())
  }
  /** # of actual (non-cached) segment computations — test observability. */
  private[graft] val scopeSegComputes = new java.util.concurrent.atomic.AtomicLong
  /** # shards the last segment computation scanned (-1 = unpruned). */
  private[graft] val lastScopeScanShards =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  private[query] def scopeSegments(spark: SparkSession, root: String,
                                   m: Manifest,
                                   prefix: String): Vector[ScopeSegment] = {
    val key = (root, m.snapshotId, prefix)
    scopeSegCache.synchronized(Option(scopeSegCache.get(key))) match {
      case Some(v) => v
      case None =>
        val v = computeScopeSegments(spark, root, m, prefix)
        scopeSegCache.synchronized(scopeSegCache.put(key, v))
        v
    }
  }

  /** Could a shard whose conv range is [mn, mx] (UTF-8 order) hold any
    * conv_id starting with `prefix`? The p-prefixed keys form the byte
    * interval [p, succ(p)) where succ increments p's last non-0xFF byte;
    * intersection ⇔ mx >= p AND mn < succ(p) (succ absent = unbounded). */
  private[query] def shardMayHoldPrefix(mn: String, mx: String,
                                        prefix: String): Boolean = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val p = prefix.getBytes(utf8)
    if (java.util.Arrays.compareUnsigned(mx.getBytes(utf8), p) < 0) return false
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xFF.toByte) i -= 1
    if (i < 0) return true // no finite successor: interval unbounded above
    val succ = java.util.Arrays.copyOf(p, i + 1)
    succ(i) = (succ(i) + 1).toByte
    java.util.Arrays.compareUnsigned(mn.getBytes(utf8), succ) < 0
  }

  /** A scope's docIds as contiguous segments. Fresh builds keep conv_ids
    * docId-contiguous (one segment); out-of-order appends add further
    * segments (one per append batch, so the list stays small). The scan
    * prunes to shards whose manifest conv range intersects the prefix
    * interval (the r4 stamps); runs are detected per range-partition and
    * merged across boundaries on the driver — no docId set is ever
    * collected. */
  private def computeScopeSegments(spark: SparkSession, root: String,
                                   m: Manifest,
                                   prefix: String): Vector[ScopeSegment] = {
    import spark.implicits._
    scopeSegComputes.incrementAndGet()
    val parts = spark.sessionState.conf.numShufflePartitions
    val nonEmpty = m.shards.filter(_.minDocId >= 0)
    val docsFrame =
      if (nonEmpty.exists(e => e.minConv.isEmpty || e.maxConv.isEmpty)) {
        lastScopeScanShards.set(-1) // unstamped entries: no pruning
        IndexSnapshot.docs(spark, root, m)
      } else {
        val candidates = nonEmpty.filter(e =>
          shardMayHoldPrefix(e.minConv.get, e.maxConv.get, prefix))
          .map(_.shard)
        lastScopeScanShards.set(candidates.size)
        IndexSnapshot.docsFor(spark, root, m, candidates)
      }
    contiguousRuns(parts, docsFrame.filter(col("conv_id").startsWith(prefix)))
  }

  /** The contiguous docId runs of a filtered docs frame, as segments with
    * per-run (n, Σdl). Runs are detected per range-partition and merged
    * across boundaries on the driver — no docId set is ever collected.
    * ONE definition shared by conv-prefix scopes and ts ranges (r7). */
  private def contiguousRuns(parts: Int,
                             filtered: DataFrame): Vector[ScopeSegment] = {
    import filtered.sparkSession.implicits._
    val runs = filtered
      .select($"docId", $"dl".cast("long").as("dl"))
      .repartitionByRange(parts, $"docId")
      .sortWithinPartitions($"docId")
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[ScopeSegment]
        var lo = -1L; var prev = -2L; var n = 0L; var dl = 0L
        it.foreach { r =>
          val d = r.getLong(0)
          if (lo == -1L) { lo = d }
          else if (d != prev + 1) {
            out += ScopeSegment(lo, prev, n, dl); lo = d; n = 0L; dl = 0L
          }
          prev = d; n += 1; dl += r.getLong(1)
        }
        if (lo != -1L) out += ScopeSegment(lo, prev, n, dl)
        out.iterator
      }
      .collect().sortBy(_.lo)
    // merge runs adjacent across partition boundaries
    val merged = scala.collection.mutable.ArrayBuffer.empty[ScopeSegment]
    runs.foreach { s =>
      if (merged.nonEmpty && merged.last.hi + 1 == s.lo) {
        val l = merged.remove(merged.length - 1)
        merged += ScopeSegment(l.lo, s.hi, l.n + s.n, l.sumDl + s.sumDl)
      } else merged += s
    }
    merged.toVector
  }

  // ts-range docId segments (r7 FILTER clauses): memoized per (root,
  // snapshot, from, to) like scope segments — a hot dashboard's "last N
  // hours" window pays the docs scan once per snapshot. The scan pushes
  // the ts predicate down to parquet (PushedFilters), so row-group
  // min/max stats on ts make out-of-window shards ~free under
  // time-ordered ingest — the same prune manifest conv-stamps give
  // prefixes, without a manifest format change.
  private[graft] val TsSegCacheCap = 4096
  private val tsSegCache =
    lruMap[(String, Long, Long, Long), Vector[(Long, Long)]](() => TsSegCacheCap)

  private[query] def tsSegments(spark: SparkSession, root: String,
                                m: Manifest, from: Long,
                                to: Long): Vector[(Long, Long)] = {
    val key = (root, m.snapshotId, from, to)
    tsSegCache.synchronized(Option(tsSegCache.get(key))) match {
      case Some(v) => v
      case None =>
        val parts = spark.sessionState.conf.numShufflePartitions
        val pred = col("ts").isNotNull &&
          col("ts") >= new java.sql.Timestamp(from) &&
          col("ts") <= new java.sql.Timestamp(to)
        val v = contiguousRuns(parts,
          IndexSnapshot.docs(spark, root, m).filter(pred))
          .map(s => (s.lo, s.hi))
        tsSegCache.synchronized(tsSegCache.put(key, v))
        v
    }
  }

  /** Intersection of two ascending disjoint range lists (scope segments ∩
    * ts segments). */
  private[query] def intersectRanges(a: Seq[(Long, Long)],
                                     b: Seq[(Long, Long)]): Vector[(Long, Long)] = {
    val out = Vector.newBuilder[(Long, Long)]
    var i = 0; var j = 0
    val av = a.sorted.toIndexedSeq
    val bv = b.sorted.toIndexedSeq
    while (i < av.length && j < bv.length) {
      val lo = math.max(av(i)._1, bv(j)._1)
      val hi = math.min(av(i)._2, bv(j)._2)
      if (lo <= hi) out += ((lo, hi))
      if (av(i)._2 < bv(j)._2) i += 1 else j += 1
    }
    out.result()
  }

  /** df of each query term restricted to the segment union: pruned posting
    * scan + block-skipping counts; decode-only, no scoring, tiny result.
    * Segments are ascending, so one forward cursor pass covers them all.
    * Per-(scope, term) results are memoized per snapshot (scopeDfCache);
    * only terms missing from the cache hit the posting scan. */
  private def scopedTermDf(spark: SparkSession, root: String, m: Manifest,
                           prefix: String, terms: Seq[String],
                           segments: Seq[(Long, Long)]): Map[String, Long] = {
    val cached = scopeDfCache.synchronized(terms.flatMap(t =>
      Option(scopeDfCache.get((root, m.snapshotId, prefix, t)))
        .map(t -> _.longValue())).toMap)
    val missing = terms.filterNot(cached.contains)
    if (missing.isEmpty) return cached
    val computed = computeScopedTermDf(spark, root, m, missing, segments)
    // a term absent from the scoped postings has df 0 — cache that too,
    // or every repeat query with it would rescan
    scopeDfCache.synchronized(missing.foreach(t =>
      scopeDfCache.put((root, m.snapshotId, prefix, t),
        Long.box(computed.getOrElse(t, 0L)))))
    cached ++ missing.map(t => t -> computed.getOrElse(t, 0L))
  }

  private def computeScopedTermDf(spark: SparkSession, root: String,
                                  m: Manifest, terms: Seq[String],
                                  segments: Seq[(Long, Long)]): Map[String, Long] = {
    import spark.implicits._
    val lo = segments.map(_._1).min
    val hi = segments.map(_._2).max
    val segs = segments.sorted.toVector
    postingsFor(spark, root, m)
      .filter($"shard".isin(shardsIntersecting(m, lo, hi): _*))
      .filter($"term".isin(terms: _*))
      .select(postingScanColumns(withPos = false): _*)
      .mapPartitions { rows =>
        rows.map { r =>
          val cur = new graft.index.PostingCodec.BlockedCursor(
            postingRow(r, withPos = false))
          var c = 0L
          segs.foreach { case (sLo, sHi) =>
            cur.advanceTo(sLo)
            while (!cur.exhausted && cur.docId <= sHi) { c += 1; cur.advance() }
          }
          (r.getString(1), c)
        }
      }
      .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
      .collect().toMap
  }

  /** Per-query latency telemetry (VERDICT r02 item 10): set
    * GRAFT_QUERY_TELEMETRY=1 to emit one stderr JSON line per executed
    * clause value, at [[execute]]'s single exit, with the phase breakdown
    * (scan+walk+merge, shard-local walk time from an accumulator, the walk
    * and the scan path taken) — latency regressions become diagnosable
    * from the bench artifact alone. */
  private val telemetry = sys.env.get("GRAFT_QUERY_TELEMETRY").contains("1")

  /** Ascending disjoint docId segments scoping a query (one = the common
    * case; several = a scope fragmented by out-of-order appends) + the
    * manifest-range shard-prune transform for the posting scan
    * (partition-column pruning — the scan never lists the other shard
    * dirs), for [[execute]]'s posting scan. Empty segs = empty scope. */
  private def segsAndPrune(m: Manifest, ranges: Option[Seq[(Long, Long)]])
      : (Vector[(Long, Long)], DataFrame => DataFrame) = {
    val segs: Vector[(Long, Long)] = ranges match {
      case None => Vector((0L, Long.MaxValue))
      case Some(rs) => rs.filter { case (lo, hi) => lo <= hi }.sorted.toVector
    }
    val shardPrune: DataFrame => DataFrame =
      if (ranges.isEmpty) identity
      else {
        val sh = segs.flatMap { case (lo, hi) => shardsIntersecting(m, lo, hi) }.distinct
        df => df.filter(col("shard").isin(sh: _*))
      }
    (segs, shardPrune)
  }

  /** The posting-scan projection [[postingRow]] decodes — one definition
    * so the select list and the decode's positional getSeq indices cannot
    * drift apart (r6 review: three hand-written copies had already
    * diverged into 13- vs 15-column index lists). */
  private def postingScanColumns(withPos: Boolean): Seq[org.apache.spark.sql.Column] = {
    val base = Seq("shard", "term", "chunk", "count", "docIds", "tfs",
      "dls", "blockFirst", "docOff", "tfOff", "dlOff",
      "blockMaxTf", "blockMinDl")
    (if (withPos) base ++ Seq("positions", "posOff") else base).map(col)
  }

  /** One row of [[postingScanColumns]] → its compressed chunk (the shard
    * is column 0, the term column 1). */
  private def postingRow(r: org.apache.spark.sql.Row,
                         withPos: Boolean): graft.index.PostingCodec.BlockedList =
    graft.index.PostingCodec.BlockedList(
      r.getLong(3).toInt, r.getAs[Array[Byte]](4),
      r.getAs[Array[Byte]](5), r.getAs[Array[Byte]](6),
      r.getSeq[Long](7).toArray, r.getSeq[Int](8).toArray,
      r.getSeq[Int](9).toArray, r.getSeq[Int](10).toArray,
      r.getSeq[Int](11).toArray, r.getSeq[Int](12).toArray,
      if (withPos) r.getAs[Array[Byte]](13) else null,
      if (withPos) r.getSeq[Int](14).toArray else null)

  /** ONE streaming pass over one shard's run of posting rows (VERDICT r03
    * item 2): it consumes rows while the head row belongs to `shard`, each
    * row decodes to its compressed BlockedList immediately and the Row
    * object drops, so task memory is exactly this shard's selected
    * compressed posting bytes. Keys are the query terms — tiny — while
    * values hold the compressed bytes. */
  private def decodeRun(rows: scala.collection.BufferedIterator[org.apache.spark.sql.Row],
                        shard: Int, withPos: Boolean)
      : scala.collection.mutable.LinkedHashMap[String,
          scala.collection.mutable.ArrayBuffer[graft.index.PostingCodec.BlockedList]] = {
    val byTerm = scala.collection.mutable.LinkedHashMap
      .empty[String,
             scala.collection.mutable.ArrayBuffer[graft.index.PostingCodec.BlockedList]]
    while (rows.hasNext && rows.head.getInt(0) == shard) {
      val r = rows.next()
      byTerm.getOrElseUpdate(r.getString(1),
        scala.collection.mutable.ArrayBuffer
          .empty[graft.index.PostingCodec.BlockedList]) += postingRow(r, withPos)
    }
    byTerm
  }

  /** Chunk lists → one [[Wand.TermCursor]] per term present in the shard.
    * Chunks concatenate in ascending-docId order; blockFirst(0) is the
    * chunk's first docId — robust even if a shard's rows were encoded by
    * several tasks. */
  private def buildCursors(
      termChunks: scala.collection.Map[String,
        scala.collection.mutable.ArrayBuffer[graft.index.PostingCodec.BlockedList]],
      dfByTerm: Map[String, Long], canonical: Map[String, Int],
      nDocs: Long, avgdl: Double,
      boostOf: Map[String, Double] = Map.empty): Seq[Wand.TermCursor] =
    termChunks.map { case (term, chunks) =>
      val sorted = chunks
        .sortBy(c => if (c.blockFirst.isEmpty) Long.MaxValue
                     else c.blockFirst(0))
        .toIndexedSeq
      // typed-field terms (r7) are WEIGHTLESS wherever they appear
      // (Lucene FILTER clauses): zero score, zero upper bounds. Their df
      // is the per-shard posting count — the planner has no global df
      // for them (the dictionary excludes the namespace), and the local
      // count is the better driver-order heuristic anyway.
      val isField = Analyzer.isFieldTerm(term)
      val df = if (isField) sorted.map(_.count.toLong).sum
               else dfByTerm(term)
      new Wand.TermCursor(
        Wand.TermPostings(term, df, canonical(term), sorted),
        nDocs, avgdl, scored = !isField,
        boost = boostOf.getOrElse(term, 1.0))
    }.toSeq

  /** Run a planned AND/OR [[Plan]] (`plan` → `executePlan` is the
    * two-phase form of [[query]]): AND makes its terms required, OR makes
    * them should-match-one; `filters` are encoded field terms. */
  def executePlan(spark: SparkSession, root: String, p: Plan,
                  stats: CorpusStats,
                  ranges: Option[Seq[(Long, Long)]] = None,
                  pinned: Option[Manifest] = None,
                  filters: Vector[String] = Vector.empty,
                  after: Option[SearchHit] = None): Vector[SearchHit] = {
    requireMode(p.mode)
    execute(spark, root, pinned.getOrElse(pinnedManifest(root)),
      modeClauses(p.terms, p.mode, filters), stats, p.k, ranges, after)
  }

  private def modeClauses(terms: Vector[TermStats], mode: String,
                          filters: Vector[String]): Clauses =
    if (mode == "AND") Clauses(terms, filters = filters)
    else Clauses(Vector.empty, should = terms, minShould = 1, filters = filters)

  /** The clause value a query executes as (Lucene's Weight, before any
    * shard is touched): scored `required` (MUST) and `should` (SHOULD)
    * terms with their planned dfs, the SHOULD count requirement
    * `minShould`, unscored `prohibited` (MUST_NOT) terms, weightless
    * `filters` (encoded field terms — Lucene FILTER clauses), per-term
    * boosts, and an optional proximity part over required terms. The term
    * sets are disjoint: callers resolve clause overlaps after planning. */
  private final case class Clauses(required: Vector[TermStats],
                                   should: Vector[TermStats] = Vector.empty,
                                   minShould: Int = 0,
                                   prohibited: Vector[String] = Vector.empty,
                                   filters: Vector[String] = Vector.empty,
                                   boosts: Map[String, Double] = Map.empty,
                                   proximity: Option[Proximity] = None)

  /** A proximity clause: `slots` (sorted distinct terms) fix the capture
    * order of per-term ordinals; `posPred` decides on posting ordinals
    * (positional index), `verify` on the re-analyzed token stream
    * (positions-free rescan). */
  private final case class Proximity(slots: Vector[String],
                                     posPred: Array[Array[Int]] => Boolean,
                                     verify: Vector[String] => Boolean)

  /** One shard's cursors split by clause role. */
  private final class ShardCursors(val required: Seq[Wand.TermCursor],
                                   val filters: Seq[Wand.TermCursor],
                                   val should: Seq[Wand.TermCursor],
                                   val prohibited: Seq[Wand.TermCursor])

  /** The task-side half of [[execute]] (Lucene's Weight→Scorer split): a
    * clause value bound to its statistics, walk segments and k. It
    * rebuilds each shard's cursors by role and runs the walk the clause
    * shape picks (the object scaladoc's table). Plain JVM code, shipped to
    * every scan task. */
  private final class ClauseWeight(c: Clauses, stats: CorpusStats, k: Int,
                                   segs: Vector[(Long, Long)],
                                   after: Option[SearchHit]) extends Serializable {
    private val requiredSet = c.required.map(_.term).toSet
    private val shouldSet = c.should.map(_.term).toSet
    private val prohibitedSet = c.prohibited.toSet
    // canonical contribution order (§7.8.1): the scored terms by (df asc,
    // term asc), then the prohibited and filter slots, which add 0.0
    private val scored = (c.required ++ c.should).sortBy(t => (t.df, t.term))
    private val canonical =
      (scored.map(_.term) ++ c.prohibited ++ c.filters).zipWithIndex.toMap
    // 0 dfs are placeholders: prohibited terms are never scored, and
    // filters use their per-shard counts (buildCursors)
    private val dfByTerm = scored.map(t => t.term -> t.df).toMap ++
      (c.prohibited ++ c.filters).map(_ -> 0L)
    private val boostArr = scored.map(t => c.boosts.getOrElse(t.term, 1.0))
    // Lucene's at-least-one rule when no MUST clause survives
    private val minMatch =
      if (c.required.isEmpty) math.max(1, c.minShould) else c.minShould
    private val plainAnd =
      c.should.isEmpty && c.prohibited.isEmpty && c.proximity.isEmpty
    private val slotOf =
      c.proximity.map(_.slots.zipWithIndex.toMap).getOrElse(Map.empty[String, Int])

    val walkName: String =
      if (c.required.isEmpty) (if (minMatch <= 1) "or" else "should")
      else if (plainAnd) "and" else "and-probes"

    /** Decode a task's posting rows one shard at a time and split each
      * shard's cursors by role. A task packs several whole shards, and
      * each shard's rows arrive as ONE consecutive run ([[execute]]), so
      * the next shard decodes only after the caller has walked this one:
      * a task's peak is one shard's lists however many shards it packs. A
      * shard whose rows come back after another shard's is a broken scan
      * layout and fails the task rather than answer from half a shard.
      * Presence gates: a doc's postings are complete within its shard, so
      * a required or filter list absent from the shard, or fewer SHOULD
      * lists than the count requirement, means no doc here can match. */
    def shards(rows: Iterator[org.apache.spark.sql.Row],
               withPos: Boolean): Iterator[(Int, ShardCursors)] = {
      val in = rows.buffered
      val seen = scala.collection.mutable.HashSet.empty[Int]
      Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
        val shard = in.head.getInt(0)
        if (!seen.add(shard)) throw new IllegalStateException(
          s"shard $shard's posting rows are not one consecutive run in this task")
        val all = buildCursors(decodeRun(in, shard, withPos), dfByTerm,
          canonical, stats.nDocs, stats.avgdl, c.boosts)
        val filters = all.filterNot(_.scored)
        val required = all.filter(t => requiredSet(t.term))
        val should = all.filter(t => shouldSet(t.term))
        if (filters.size < c.filters.size ||
            required.size < c.required.size || should.size < minMatch) None
        else Some(shard -> new ShardCursors(required, filters, should,
          all.filter(t => prohibitedSet(t.term))))
      }
    }

    /** The shard's top-k by the walk the clause shape picks. */
    def topK(r: ShardCursors): Iterator[SearchHit] =
      if (c.required.isEmpty) {
        // minShould <= 1 is rank-identical to OR (spec-pinned law,
        // WandSpec) and takes the WAND/BMW-pruned walk (VERDICT r7
        // item 1a); more takes the count-qualified walk
        if (minMatch <= 1)
          Wand.orTopKSegments(r.should, k, segs, required = r.filters,
            after = after, prohibited = r.prohibited).iterator
        else
          Wand.shouldTopKSegments(r.should, minMatch, k, segs,
            required = r.filters, prohibited = r.prohibited,
            after = after).iterator
      }
      // filters join the intersection as weightless members: a rare
      // filter list then DRIVES the walk
      else if (plainAnd)
        Wand.andTopKSegments(r.required ++ r.filters, k, segs, after).iterator
      else probedAndTopK(r)

    /** Required + any of SHOULD / MUST_NOT / proximity: ONE lazy AND walk
      * over the required (+ filter) cursors; the intersection is
      * enumerated COMPLETELY, never k-cut before the probes (a cut could
      * keep only excluded or unverified docs). Per candidate, cheapest
      * rejection first: the admission bound `(s + Σ per-shard SHOULD
      * upper bounds) · BoolBoundSlack >= heap threshold` (`>=` keeps
      * ties probed — exactness), the monotone NOT probes, the ordinal
      * decode + proximity predicate, then the SHOULD probes and the
      * canonical fold. Candidates ascend, so every probe list is one
      * forward merge, never a restart. */
    private def probedAndTopK(r: ShardCursors): Iterator[SearchHit] = {
      val heap = new Wand.TopK(k, after)
      val shouldArr = r.should.toArray
      val negArr = r.prohibited.toArray
      var shouldUbSum = 0.0
      shouldArr.foreach(t => shouldUbSum += t.upperBound)
      val contribs = new Array[Double](canonical.size)
      val posBySlot = new Array[Array[Int]](slotOf.size) // reused per match
      def proximate(arr: Array[Wand.TermCursor]): Boolean =
        c.proximity.forall { p =>
          var i = 0
          while (i < arr.length) {
            val so = slotOf.getOrElse(arr(i).term, -1)
            if (so >= 0) posBySlot(so) = arr(i).positions
            i += 1
          }
          p.posPred(posBySlot)
        }
      val walk = Wand.andAllWith(r.required ++ r.filters, segs) { (d, s, arr) =>
        if ((s + shouldUbSum) * BoolBoundSlack >= heap.threshold &&
            !Wand.presentInAny(negArr, d) && proximate(arr)) {
          java.util.Arrays.fill(contribs, 0.0)
          var i = 0
          while (i < arr.length) { // required + weightless filters
            contribs(arr(i).canonical) = arr(i).score
            i += 1
          }
          var matched = 0
          i = 0
          while (i < shouldArr.length) {
            shouldArr(i).advanceTo(d)
            if (!shouldArr(i).exhausted && shouldArr(i).docId == d) {
              contribs(shouldArr(i).canonical) = shouldArr(i).score
              matched += 1
            }
            i += 1
          }
          if (matched >= minMatch) heap.offer(d, Wand.canonicalSum(contribs))
        }
      }
      while (walk.hasNext) walk.next() // drain (lazy iterator)
      heap.results.iterator
    }

    /** The rescan's candidates: the COMPLETE required (+ filter)
      * intersection minus prohibited docs, ascending. */
    def candidates(r: ShardCursors): Iterator[Long] = {
      val negArr = r.prohibited.toArray
      Wand.andAllWith(r.required ++ r.filters, segs)((d, _, _) => d)
        .filterNot(Wand.presentInAny(negArr, _))
    }

    /** Rescan twin of the walk's proximity predicate, SHOULD count and
      * canonical fold, from a candidate's analyzed token stream: tf, dl
      * and df are the numbers the postings hold, so the score is
      * bit-equal to the positional walk's. */
    def scoreTokens(toks: Vector[String]): Option[Double] =
      if (!c.proximity.forall(_.verify(toks))) None
      else {
        val dl = toks.length
        var matched = 0
        var s = 0.0
        var i = 0
        while (i < scored.length) { // canonical (df, term) order
          val t = scored(i)
          var tf = 0
          toks.foreach(x => if (x == t.term) tf += 1)
          if (tf > 0) {
            if (shouldSet(t.term)) matched += 1
            s += boostArr(i) * Bm25.score(tf, t.df, dl, stats.nDocs, stats.avgdl)
          }
          i += 1
        }
        if (matched >= minMatch) Some(s) else None
      }
  }

  /** THE shard-local executor: every query mode runs its planned clause
    * value through here. One posting scan of the clause terms (shard- and
    * term-pruned), one decode and role split per shard, the presence
    * gates, the walk the clause shape picks ([[ClauseWeight]]), and the
    * driver merge of the per-shard top-k — one Spark job on the aligned
    * path. Proximity on a positions-free index takes the rescan instead
    * ([[rescanTopK]]). */
  private def execute(spark: SparkSession, root: String, m: Manifest,
                      c: Clauses, stats: CorpusStats, k: Int,
                      ranges: Option[Seq[(Long, Long)]],
                      after: Option[SearchHit] = None): Vector[SearchHit] = {
    import spark.implicits._
    val terms = c.required.map(_.term) ++ c.should.map(_.term) ++
      c.prohibited ++ c.filters
    require(terms.distinct.size == terms.size,
      s"clause term sets must be disjoint, got ${terms.mkString(",")}")
    val (segs, shardPrune) = segsAndPrune(m, ranges)
    val w = new ClauseWeight(c, stats, k, segs, after)
    val rescan = c.proximity.nonEmpty && !m.positions
    val withPos = c.proximity.nonEmpty && m.positions
    val wandNanos =
      if (telemetry) Some(spark.sparkContext.longAccumulator("graft.wandNanos"))
      else None
    val taskRows =
      if (telemetry) Some(spark.sparkContext.collectionAccumulator[Long]("graft.taskRows"))
      else None

    // Per-shard grouping must be COMPLETE inside each task: posting files
    // are term-sorted, so if a shard's rows split across scan tasks at
    // row-group boundaries, term-A chunks and term-B chunks land in
    // different tasks — AND would see fewer cursors than terms per
    // fragment and silently drop the shard's hits, OR would emit
    // partial-score duplicates (EngineParitySpec split-scan test pins
    // this). Execution path choice (VERDICT r02 item 2 — a per-query
    // `repartition($"shard")` costs a shuffle stage per query):
    //  - every shard dir holds ONE parquet file (the layout every build/
    //    maintenance write produces) → the aligned scan reads each shard
    //    file whole in one scan partition, both cold and through the
    //    serving cache (which pins the aligned frame). `coalesce` then
    //    packs those whole-file partitions, without a shuffle, into at
    //    most `defaultParallelism` tasks, so a query is one wave of tasks
    //    however many shards are live. The coalescer balances the packs
    //    by partition count and reads its parents one after another, so
    //    a shard's rows stay one consecutive run inside its task;
    //  - multi-file shard dirs (external/legacy layout) → hash-repartition
    //    on `shard` into the same number of tasks and sort each task by
    //    `shard`, trading latency for unconditional correctness.
    // Each task decodes and walks its shards one run at a time
    // ([[ClauseWeight.shards]]).
    val t0 = System.nanoTime()
    val (hits, shardHits, pathName) =
      if (segs.isEmpty) (Vector.empty[SearchHit], 0, "empty-scope")
      else {
        val (scanFrame, path, needShuffle) =
          resolvedPostingsScan(spark, root, m, needPositions = withPos)
        val tasks = spark.sparkContext.defaultParallelism
        val selected0 = shardPrune(scanFrame).filter($"term".isin(terms: _*))
          .select(postingScanColumns(withPos): _*)
        val selected =
          if (needShuffle)
            selected0.repartition(tasks, $"shard").sortWithinPartitions($"shard")
          else selected0.coalesce(tasks)
        if (rescan) {
          val (h, n) = rescanTopK(spark, root, m, w, selected, k, taskRows)
          (h, n, path)
        } else {
          val perShard = selected.mapPartitions { rows =>
            val t = System.nanoTime()
            val out = w.shards(counted(rows, taskRows), withPos)
              .flatMap { case (_, r) => w.topK(r) }.toVector
            wandNanos.foreach(_.add(System.nanoTime() - t))
            out.iterator
          }.collect()
          (perShard.toVector.sortBy(h => (-h.score, h.docId)).take(k),
            perShard.length, path)
        }
      }
    val execMs = (System.nanoTime() - t0) / 1e6
    if (telemetry) System.err.println(
      f"""{"graft_query_telemetry":{"walk":"${if (rescan) "rescan" else w.walkName}",""" +
      f""""terms":${terms.size},"k":$k,"path":"$pathName","exec_ms":$execMs%.1f,""" +
      f""""wand_ms":${wandNanos.map(_.value / 1e6).getOrElse(-1.0)}%.1f,""" +
      f""""shard_hits":$shardHits,"hits":${hits.size},${packReport(taskRows)}}}""")
    hits
  }

  /** Telemetry: counts a scan task's posting rows into `acc` once the
    * task has read them all. */
  private def counted(rows: Iterator[org.apache.spark.sql.Row],
                      acc: Option[org.apache.spark.util.CollectionAccumulator[Long]])
      : Iterator[org.apache.spark.sql.Row] =
    acc.fold(rows) { a =>
      var n = 0L
      rows.map { r => n += 1; r } ++ { a.add(n); Iterator.empty }
    }

  /** The telemetry fields of a query's scan packing: its task count and
    * the skew of posting rows over tasks (the largest over the mean). */
  private def packReport(acc: Option[org.apache.spark.util.CollectionAccumulator[Long]]): String = {
    import scala.jdk.CollectionConverters._
    val rows = acc.map(_.value.asScala.toVector).getOrElse(Vector.empty)
    val skew = if (rows.sum == 0L) 1.0 else rows.max * rows.size.toDouble / rows.sum
    f""""tasks":${rows.size},"task_rows_skew":$skew%.2f"""
  }

  /** Proximity on a positions-free index (the rescan fallback):
    *  1. enumerate the COMPLETE required-AND candidates (NOT probes
    *     applied, no top-k cut before the verify, else hits could be
    *     dropped) in one shard-aligned scan, pinned once by the eager
    *     localCheckpoint job. That job also fills one accumulator with each
    *     shard's candidate count: it is a result stage, so every task's
    *     update applies once, and the count and the shard list cost no
    *     further job;
    *  2. prune the docs scan to the shards that produced candidates;
    *  3. join docs←candidates (broadcast when the candidate count is
    *     small), verify + score each re-analyzed token stream
    *     ([[ClauseWeight.scoreTokens]]), take the global top-k.
    * A phrase of frequent terms degrades to a partial corpus re-tokenize
    * here — the positional format exists for exactly that workload
    * (VERDICT r05 item 2). Returns the hits and the candidate count. */
  private def rescanTopK(spark: SparkSession, root: String, m: Manifest,
                         w: ClauseWeight, selected: DataFrame, k: Int,
                         taskRows: Option[org.apache.spark.util.CollectionAccumulator[Long]])
      : (Vector[SearchHit], Int) = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val perShard = spark.sparkContext.collectionAccumulator[(Int, Long)]("graft.rescanCandidates")
    val cand = selected.mapPartitions { rows =>
      w.shards(counted(rows, taskRows), withPos = false).flatMap { case (shard, r) =>
        var n = 0L
        w.candidates(r).map { d => n += 1; (shard, d) } ++ {
          if (n > 0) perShard.add((shard, n)); Iterator.empty
        }
      }
    }.toDF("shard", "docId").localCheckpoint(true)
    try {
      val found = perShard.value.asScala.toVector
      val candCount = found.map(_._2).sum
      if (candCount == 0L) (Vector.empty, 0)
      else {
        val candShards = found.map(_._1).distinct
        val candFrame = cand.select($"docId")
        val joinCand =
          if (candCount <= PhraseBroadcastMax) broadcast(candFrame) else candFrame
        val ver = m.analyzerVersion
        val hits = IndexSnapshot.docsFor(spark, root, m, candShards)
          .select($"docId", $"text")
          .join(joinCand, "docId")
          .select($"docId", $"text").as[(Long, String)]
          .mapPartitions(_.flatMap { case (d, txt) =>
            w.scoreTokens(Analyzer.tokensFor(ver, txt)).map(SearchHit(d, _))
          })
          .orderBy($"score".desc, $"docId".asc).limit(k) // TakeOrderedAndProject
          .collect().toVector
        (hits, candCount.toInt)
      }
    } finally {
      // ADVICE r05 item 1: unpersist on a localCheckpoint-backed frame is
      // a CacheManager no-op; the blocks free via the ContextCleaner when
      // cand drops out of scope here. Kept as documentation of intent —
      // if the checkpoint is ever swapped for cache(), this is the spot.
      cand.unpersist(); ()
    }
  }

  /** Relative inflation on the admission bound of the probed AND walk
    * ([[ClauseWeight]]): covers float-association slack between
    * `required score + shouldUbSum` and the canonical-order total, orders
    * of magnitude below any real adjacent-score gap. Over-admission only
    * costs probes; under-admission would break exactness. */
  private val BoolBoundSlack = 1.0 + 1e-12

  /** Candidate-set size below which the verification join broadcasts the
    * candidate side (a phrase's AND intersection is usually tiny next to
    * the docs table; above this, AQE picks the strategy). */
  private val PhraseBroadcastMax = 100000L

  /** Exact-phrase top-k: documents whose ANALYZED token stream contains
    * `phraseText`'s analyzed tokens as a consecutive run (Lucene
    * PhraseQuery semantics — the phrase matches on the post-analysis
    * stream, so stemming applies when the index was built `--stem`).
    * Scoring is the same BM25 sum over the phrase's DISTINCT terms as
    * `query(mode=AND)` — a phrase hit scores identically to its AND hit
    * (PhraseSpec pins this), so phrase results are the AND results
    * filtered by adjacency.
    *
    * Execution — TWO paths of [[execute]], rank-identical (PhraseSpec
    * pins equality):
    *  - POSITIONAL index (r6 format rev, `IndexBuilder.build(positions =
    *    true)`, recorded in the manifest): adjacency is verified against
    *    each term's token ordinals INSIDE the shard-local posting walk
    *    ([[Wand.andAllWith]] pulls cursor positions at the match point) —
    *    no docs join, no re-tokenize, per-shard top-k heap, driver merge.
    *    A phrase query then costs an AND query plus per-match ordinal
    *    probes: the Lucene PhraseQuery shape.
    *  - positions-free index: the rescan fallback ([[rescanTopK]]) — the
    *    complete AND candidates join docs and the re-analyzed token
    *    stream is verified.
    *
    * `scopes` (conv-id prefixes, r6): per-scope statistics and segments
    * exactly like [[queryScoped]] — per scope, df/N/avgdl are scoped, the
    * verify runs inside the scope's docId segments, and overlapping
    * scopes keep a doc's best-scoring instance.
    *
    * Dictionary gate: a phrase term ABSENT from the dictionary (or from
    * the scope) means no document can contain the phrase → empty (unlike
    * AND's drop-missing-terms-and-continue). The stop cap is NOT applied:
    * dropping a term would change phrase semantics, and the adjacency
    * filter already bounds the damage of a frequent term. */
  def phraseTopK(spark: SparkSession, root: String, phraseText: String,
                 k: Int = 10, scopes: Seq[String] = Nil,
                 pinned: Option[Manifest] = None,
                 filter: QueryFilter = QueryFilter.Empty): Vector[SearchHit] =
    search(spark, root, Query.Bool(phrase = Some(Query.Phrase(phraseText))),
      k, scopes, pinned, filter)

  /** NEAR/slop proximity top-k (order-free): documents whose ANALYZED
    * token stream has a window of `slop + 1` CONSECUTIVE positions
    * containing at least one occurrence of EVERY distinct query term —
    * equivalently, the minimal span over one occurrence per term is
    * <= slop. slop = 0 degenerates to single-position (so single-term)
    * matching; a 2-distinct-term phrase hit is always a NEAR slop=1 hit
    * (ProximitySpec pins the laws).
    *
    * Lucene calibration (ADVICE r05 item 3): this contract is OFF BY ONE
    * from Lucene's unordered SpanNearQuery slop, where slop 0 already
    * matches ADJACENT terms. Here the window width is `slop + 1` token
    * positions, so adjacency needs slop >= 1: Lucene-unordered slop s ≈
    * this slop s + 1 for two single-occurrence terms. The semantics are
    * self-consistent, oracle-gated (`near_topk`), and monotone in slop —
    * but do not read "SpanNearQuery-class" as bit-parity.
    *
    * Candidate generation, execution paths (positional vs rescan) and
    * scoring are shared with [[phraseTopK]] (same BM25 sum over distinct
    * terms — a NEAR hit scores identically to its AND hit), with the
    * minimal-window check in place of adjacency: [[nearMatch]] on the
    * re-analyzed stream, [[nearMatchPositions]] on posting ordinals.
    * Same dictionary gate (missing term ⇒ empty), same no-stop-cap rule,
    * same `scopes` semantics.
    *
    * `ordered = true` (Lucene SpanNearQuery inOrder class, r6): the
    * query is analyzed as a SEQUENCE — duplicates kept, order kept, like
    * a phrase — and a doc matches iff some window of `slop + 1`
    * consecutive positions contains that sequence as a SUBSEQUENCE
    * (equivalently: strictly increasing occurrence positions p₁<…<pₙ
    * with pₙ−p₁ <= slop). Laws (spec-pinned): ordered ⊆ unordered at the
    * same slop; a phrase hit of n tokens is an ordered-NEAR(n−1) hit;
    * direction matters ("a b" ≠ "b a"). Scoring stays the BM25 sum over
    * DISTINCT terms, identical to the doc's AND/unordered score. */
  def nearTopK(spark: SparkSession, root: String, queryText: String,
               slop: Int, k: Int = 10, scopes: Seq[String] = Nil,
               pinned: Option[Manifest] = None,
               ordered: Boolean = false,
               filter: QueryFilter = QueryFilter.Empty): Vector[SearchHit] =
    search(spark, root,
      Query.Bool(phrase = Some(Query.Phrase(queryText, Some(slop), ordered))),
      k, scopes, pinned, filter)

  /** The proximity clause of an analyzed token sequence: the exact phrase
    * (`slop` None), the order-free slop window, or (`ordered`) the
    * in-order subsequence window. Slots are the sorted distinct terms. */
  private def proximity(seq: Vector[String], slop: Option[Int],
                        ordered: Boolean = false): Proximity = {
    val slots = seq.distinct.sorted
    val slotOf = slots.zipWithIndex.toMap
    val seqSlots = seq.map(slotOf).toArray
    slop match {
      case None =>
        Proximity(slots, pos => phraseMatchPositions(pos, seqSlots),
          toks => toks.containsSlice(seq))
      case Some(n) if ordered =>
        Proximity(slots, pos => orderedNearMatchPositions(pos, seqSlots, n),
          toks => orderedNearMatchPositions(occurrencesBySlot(toks, slotOf), seqSlots, n))
      case Some(n) =>
        Proximity(slots, pos => nearMatchPositions(pos, n),
          toks => nearMatch(toks, slotOf, slots.size, n))
    }
  }

  /** Phrase adjacency over per-term ordinal lists (positional index):
    * true iff some occurrence p of the phrase's first term has, for every
    * later phrase position i, an occurrence of that position's term at
    * p + i. `posBySlot` holds each DISTINCT term's ascending ordinals
    * (slot = index in the sorted distinct-term list); `seqSlots(i)` maps
    * phrase position i to its slot, so repeated terms probe the same
    * list at several offsets. Lucene ExactPhraseMatcher semantics over
    * decoded ordinals; binary search per probe. */
  private[query] def phraseMatchPositions(posBySlot: Array[Array[Int]],
                                          seqSlots: Array[Int]): Boolean = {
    val first = posBySlot(seqSlots(0))
    var i = 0
    while (i < first.length) {
      val p = first(i)
      var ok = true
      var j = 1
      while (ok && j < seqSlots.length) {
        ok = java.util.Arrays.binarySearch(posBySlot(seqSlots(j)), p + j) >= 0
        j += 1
      }
      if (ok) return true
      i += 1
    }
    false
  }

  /** [[nearMatch]] over per-term ordinal lists (positional index): merge
    * the (ascending) lists into one (ordinal, slot) occurrence stream —
    * exactly what nearMatch extracts from the re-analyzed token stream —
    * then the same minimal-window two-pointer. ProximitySpec pins
    * equivalence against the token-stream oracle. */
  private[query] def nearMatchPositions(posBySlot: Array[Array[Int]],
                                        slop: Int): Boolean = {
    val nSlots = posBySlot.length
    var total = 0
    var s = 0
    while (s < nSlots) { total += posBySlot(s).length; s += 1 }
    val pos = new Array[Int](total)
    val tid = new Array[Int](total)
    val ptr = new Array[Int](nSlots)
    var w = 0
    while (w < total) { // n-way merge; nSlots is query-sized (tiny)
      var best = -1
      var bestPos = Int.MaxValue
      var t = 0
      while (t < nSlots) {
        if (ptr(t) < posBySlot(t).length && posBySlot(t)(ptr(t)) < bestPos) {
          best = t; bestPos = posBySlot(t)(ptr(t))
        }
        t += 1
      }
      pos(w) = bestPos; tid(w) = best; ptr(best) += 1; w += 1
    }
    val counts = new Array[Int](nSlots)
    var covered = 0
    var lo = 0
    var r = 0
    while (r < total) {
      val id = tid(r)
      counts(id) += 1
      if (counts(id) == 1) covered += 1
      if (covered == nSlots) {
        while (counts(tid(lo)) > 1) { counts(tid(lo)) -= 1; lo += 1 }
        if (pos(r) - pos(lo) <= slop) return true
      }
      r += 1
    }
    false
  }

  /** Ordered-NEAR matcher for [[nearTopK]]`(ordered = true)` (Lucene
    * SpanNearQuery inOrder class): true iff there exist STRICTLY
    * increasing positions p₁ < … < pₙ, pᵢ an occurrence of the i-th
    * query token (`seqSlots` keeps duplicates in query order), with
    * span pₙ − p₁ <= slop. Greedy chaining: for a fixed start p₁,
    * taking the SMALLEST valid successor at every hop minimizes pₙ
    * (induction over hops), so a match exists iff some greedy chain
    * spans <= slop; and when a chain dies of list exhaustion, every
    * LATER start's chain — positionwise >= this one — dies too, so the
    * scan terminates early. Binary search per hop:
    * O(|first list| · n · log |lists|). The Oracle cross-checks with an
    * independent subsequence-in-window scan. */
  private[query] def orderedNearMatchPositions(posBySlot: Array[Array[Int]],
                                               seqSlots: Array[Int],
                                               slop: Int): Boolean = {
    val n = seqSlots.length
    val firsts = posBySlot(seqSlots(0))
    var f = 0
    while (f < firsts.length) {
      val p1 = firsts(f)
      var cur = p1
      var i = 1
      while (i < n) {
        val lst = posBySlot(seqSlots(i))
        var lo = 0
        var hi = lst.length
        while (lo < hi) { // smallest occurrence strictly after cur
          val mid = (lo + hi) >>> 1
          if (lst(mid) <= cur) lo = mid + 1 else hi = mid
        }
        if (lo == lst.length) return false // exhausted: later starts too
        cur = lst(lo)
        i += 1
      }
      if (cur - p1 <= slop) return true
      f += 1
    }
    false
  }

  /** Occurrence lists per slot from a re-analyzed token stream — the
    * rescan-path twin of the positional walk's posBySlot capture.
    * Takes the prebuilt slot map: callers run this per candidate doc. */
  private[query] def occurrencesBySlot(toks: Vector[String],
                                       slotOf: Map[String, Int]): Array[Array[Int]] = {
    val bs = Array.fill(slotOf.size)(
      new scala.collection.mutable.ArrayBuilder.ofInt)
    var i = 0
    toks.foreach { t =>
      slotOf.get(t) match { case Some(s) => bs(s) += i; case None => }
      i += 1
    }
    bs.map(_.result())
  }

  /** Window containment for [[nearTopK]]: true iff some window of
    * `slop + 1` consecutive token positions contains every one of the
    * `nTerms` terms keyed in `termIdx`. Classic minimal-window
    * two-pointer over the query-term occurrences — O(|tokens|) time,
    * O(nTerms) state; the Oracle cross-checks it with an independent
    * naive every-window scan. */
  private[query] def nearMatch(tokens: Vector[String],
                               termIdx: Map[String, Int], nTerms: Int,
                               slop: Int): Boolean = {
    val pos = new scala.collection.mutable.ArrayBuffer[Int]
    val tid = new scala.collection.mutable.ArrayBuffer[Int]
    var i = 0
    tokens.foreach { t =>
      termIdx.get(t) match {
        case Some(id) => pos += i; tid += id
        case None =>
      }
      i += 1
    }
    val counts = new Array[Int](nTerms)
    var covered = 0
    var lo = 0
    var r = 0
    while (r < pos.length) {
      val id = tid(r)
      counts(id) += 1
      if (counts(id) == 1) covered += 1
      if (covered == nTerms) {
        // shrink to the minimal window ending at r, then test its span
        while (counts(tid(lo)) > 1) { counts(tid(lo)) -= 1; lo += 1 }
        if (pos(r) - pos(lo) <= slop) return true
      }
      r += 1
    }
    false
  }

  /** Lucene BooleanQuery.TooManyClauses analog for [[prefixTopK]]:
    * prefixes expanding to more dictionary terms than this REFUSE loudly
    * instead of silently truncating (a truncated expansion would silently
    * change scores). */
  val MaxPrefixExpansions = 128

  /** Prefix-term top-k (Lucene PrefixQuery with a scoring-BooleanQuery
    * rewrite): expand the prefix against the snapshot's dictionary to
    * every term starting with the folded pattern, then run the standard
    * OR/BM25 top-k over the expansion. Lucene parity choices:
    *  - the pattern is NORMALIZED (case/ё fold) but never STEMMED —
    *    multi-term queries bypass analysis ([[Analyzer.foldPrefix]]);
    *  - no stop cap: the pattern designates its terms explicitly, like a
    *    phrase — nothing is silently dropped;
    *  - more than [[MaxPrefixExpansions]] matches throws (TooManyClauses)
    *    rather than running an unbounded disjunction.
    * The expansion probe is one pushable StringStartsWith filter over the
    * tiny term_stats table — O(matching terms) collected, never the
    * dictionary ([[expansion]]); execution is the ordinary OR/WAND walk,
    * so the whole query costs the same as an OR of the matched terms.
    * `scopes`: the expansion stays global (and globally capped); each
    * scope re-weighs it with SCOPED dfs, terms absent from the scope drop
    * out, and the union keeps each doc's best-scoring instance. */
  def prefixTopK(spark: SparkSession, root: String, prefixRaw: String,
                 k: Int = 10, scopes: Seq[String] = Nil,
                 pinned: Option[Manifest] = None,
                 filter: QueryFilter = QueryFilter.Empty): Vector[SearchHit] =
    search(spark, root, Query.Expand(Query.Prefix, prefixRaw), k, scopes,
      pinned, filter)

  /** Lucene FuzzyQuery hard limit: edit distances above 2 are useless for
    * typo tolerance and blow up the expansion, so Lucene refuses them —
    * mirrored here (throws, like TooManyClauses). */
  val MaxFuzzyEdits = 2

  /** Fuzzy-term top-k (Lucene FuzzyQuery with a scoring-BooleanQuery
    * rewrite): expand the folded — never stemmed, multi-term queries
    * bypass analysis like [[prefixTopK]] — pattern against the snapshot's
    * dictionary to every term within Levenshtein distance `maxEdits`,
    * then the standard OR/BM25 top-k over the expansion.
    *
    * Parity and divergence, stated explicitly:
    *  - `maxEdits` ∈ [0, [[MaxFuzzyEdits]]] like Lucene; 0 = exact term;
    *  - `prefixLength` is Lucene's prefixLength (first N pattern chars
    *    must match exactly). At sandbox scale it merely narrows the probe;
    *    at a 10^9-term dictionary it is the SCALE PATH — the probe gains a
    *    pushable StringStartsWith over term_stats (the [[prefixTopK]]
    *    shape) instead of scanning the whole dictionary. Lucene walks a
    *    Levenshtein automaton over its FST term dict; the columnar analog
    *    of that automaton's prefix cut is the pushed startsWith plus the
    *    |len(t) − len(q)| ≤ maxEdits length band of [[expansion]];
    *  - scoring is plain BM25 over the expansion with true per-term dfs
    *    (self-consistent with [[prefixTopK]] and oracle-expressible in
    *    SQL); Lucene additionally boosts each expanded term by
    *    (1 − edits/len) — this engine does NOT;
    *  - more than [[MaxPrefixExpansions]] matches throws (TooManyClauses)
    *    rather than silently truncating. */
  def fuzzyTopK(spark: SparkSession, root: String, termRaw: String,
                maxEdits: Int = 2, k: Int = 10, prefixLength: Int = 0,
                scopes: Seq[String] = Nil,
                pinned: Option[Manifest] = None,
                filter: QueryFilter = QueryFilter.Empty): Vector[SearchHit] =
    search(spark, root, Query.Expand(Query.Fuzzy(maxEdits, prefixLength),
      termRaw), k, scopes, pinned, filter)

  /** Wildcard top-k (Lucene WildcardQuery with a scoring-BooleanQuery
    * rewrite): `*` matches any character sequence, `?` exactly one —
    * metacharacters exist only in the pattern (dictionary tokens are
    * letters/digits by construction, so nothing needs escaping). The
    * folded — never stemmed — pattern expands against the snapshot's
    * dictionary via Spark's codegen'd LIKE (`*`→`%`, `?`→`_`), behind a
    * pushable StringStartsWith on the literal prefix before the first
    * metacharacter — Lucene's own prefix cut on its FST walk. A
    * LEADING-wildcard pattern has no such cut and scans the whole (tiny,
    * dictionary-sized) term_stats table — the same caveat Lucene
    * documents for leading wildcards. No stop cap; a pattern without
    * metacharacters is an exact term lookup; more than
    * [[MaxPrefixExpansions]] matches throws (TooManyClauses) — which also
    * catches the all-metacharacter pattern `*`. */
  def wildcardTopK(spark: SparkSession, root: String, patternRaw: String,
                   k: Int = 10, scopes: Seq[String] = Nil,
                   pinned: Option[Manifest] = None,
                   filter: QueryFilter = QueryFilter.Empty): Vector[SearchHit] =
    search(spark, root, Query.Expand(Query.Wildcard, patternRaw), k, scopes,
      pinned, filter)

  /** Boolean MUST + MUST_NOT top-k (Lucene BooleanQuery with MUST and
    * MUST_NOT clauses, r6): documents matching EVERY positive term and
    * NO negative term, scored by the BM25 sum over the POSITIVES only —
    * Lucene parity: prohibited clauses contribute no score, so a NOT hit
    * scores identically to its AND hit (spec-pinned law). Semantics,
    * stated explicitly:
    *  - positives analyze, drop-unknown and stop-cap exactly like
    *    `query(mode = "AND")` / [[queryScoped]] — `queryNot(q, "")` IS
    *    the AND query;
    *  - negatives analyze with the same analyzer but are NEVER
    *    stop-capped or dropped-when-unknown: the user named them
    *    explicitly (dropping one would silently BROADEN the result);
    *    an unknown negative simply excludes nothing;
    *  - a term both required and prohibited falls out NATURALLY: if it
    *    survives positive planning, every candidate contains it and the
    *    negative probe excludes them all (empty); if planning DROPS it
    *    (unknown / stop-capped), the query behaves as AND-minus-negative
    *    over the remaining positives — exactly the oracle's
    *    filtered-AND semantics. No pre-plan shortcut: one fired on raw
    *    tokens here and diverged from the oracle on dropped overlaps
    *    (r6 review).
    *
    * Execution: the positive intersection must be enumerated COMPLETELY
    * before exclusion — a WAND k-cut on positives could keep only
    * excluded docs and drop includable hits (the phrase/NEAR lesson) —
    * so this is [[queryBool]] with no SHOULD clause: the probed AND walk
    * of [[execute]], one forward probe per negative term per candidate
    * (candidates ascend, so the probes are one monotone merge per
    * negative list, never a restart). A NOT query costs its AND query
    * plus one posting merge per negative term; the heap-threshold
    * shortcut skips the probes for candidates that cannot enter the
    * top-k anyway (`>=` keeps threshold ties probed — exactness). */
  def queryNot(spark: SparkSession, root: String, queryText: String,
               notText: String, k: Int = 10, scopes: Seq[String] = Nil,
               pinned: Option[Manifest] = None,
               filter: QueryFilter = QueryFilter.Empty,
               after: Option[SearchHit] = None): Vector[SearchHit] =
    search(spark, root, Query.Bool(must = Vector(queryText), not = Vector(notText)),
      k, scopes, pinned, filter, after)

  /** Boolean SHOULD / minimum_should_match top-k (Lucene BooleanQuery
    * with ONLY optional clauses + setMinimumNumberShouldMatch, r7 —
    * completing the MUST ([[query]] AND) / MUST_NOT ([[queryNot]]) /
    * SHOULD clause-type triple): the exact top-k of documents matching at
    * least `minMatch` DISTINCT query terms, scored by the BM25 sum over
    * the PRESENT terms in canonical (df, term) order. OR is the
    * minMatch = 1 special case and AND the minMatch = n one — both
    * rank-identity laws are spec-pinned (WandSpec property laws +
    * ProximitySpec engine laws).
    *
    * Clause accounting is Lucene's: minMatch counts against the analyzed
    * DISTINCT term set (duplicates collapse — set semantics, like
    * [[queryNot]]'s negatives), and a clause that can never match — a
    * term unknown to the dictionary, or one the stop cap rewrote away —
    * still COUNTS toward the requirement while never matching, so
    * planning that drops the survivors below minMatch answers empty.
    * This is deliberately NOT AND mode's reference-parity
    * drop-and-continue: BooleanQuery does not relax its requirement when
    * a clause is unsatisfiable. minMatch > n is unsatisfiable → empty;
    * minMatch < 1 is an error.
    *
    * Execution: [[queryBool]] with SHOULD clauses only, so
    * [[Wand.shouldTopKSegments]] inside the shard-local posting walk
    * (minMatch = 1 takes the rank-identical OR walk) — candidates are
    * enumerated from the (n − minMatch + 1) RAREST surviving lists
    * (pigeonhole: a doc in ≥ minMatch of n lists appears in at least one
    * of them), while the hottest minMatch − 1 lists are only PROBED with
    * monotone advanceTo. A 2-of-5 query never walks its two hottest
    * postings — at 100 TB the walk cost is bounded by the rare lists,
    * exactly the WAND shape plain OR gets from its block-max bounds.
    * Per-shard top-k heaps, O(shards × k) to the driver; zero per-query
    * shuffle on the aligned scan path.
    *
    * `scopes`: per-scope statistics/segments exactly like [[queryScoped]]
    * (per-scope df/N/avgdl and stop cap, best-instance union). Time
    * travel composes via `pinned`. */
  def queryShould(spark: SparkSession, root: String, queryText: String,
                  minMatch: Int, k: Int = 10, scopes: Seq[String] = Nil,
                  pinned: Option[Manifest] = None,
                  filter: QueryFilter = QueryFilter.Empty,
                  after: Option[SearchHit] = None): Vector[SearchHit] = {
    require(minMatch >= 1, s"minMatch must be >= 1, got $minMatch")
    search(spark, root, Query.Bool(should = Vector(queryText), minShould = minMatch),
      k, scopes, pinned, filter, after)
  }

  /** The COMBINED Lucene BooleanQuery (r7): MUST + SHOULD + MUST_NOT +
    * FILTER clauses in ONE query — the general form whose degenerate
    * cases are the dedicated modes (all laws spec-pinned, BoolQuerySpec):
    *
    *   - should and not empty              == [[query]] mode=AND
    *   - should empty                      == [[queryNot]]
    *   - must and not empty                == [[queryShould]](max(1, m))
    *   - minShouldMatch = 0, must present  == AND candidates, SHOULD
    *     terms only BOOST (Lucene's default: optional clauses add score
    *     but eliminate nothing)
    *
    * Semantics per clause type keep each dedicated mode's contract
    * EXACTLY: MUST terms analyze/drop-unknown/stop-cap like mode=AND
    * (reference parity); SHOULD terms are set-semantics DISTINCT, and a
    * SHOULD clause that can never match (unknown, stop-capped, or also
    * PROHIBITED — a surviving doc can't contain it) still COUNTS toward
    * minShouldMatch while never matching (Lucene: requirements don't
    * relax for unsatisfiable clauses); MUST_NOT terms are never capped
    * or dropped and contribute no score. Overlap resolution (Lucene
    * clause algebra, documented deviations):
    *
    *   - a SHOULD term that is also MUST is auto-satisfied on every
    *     candidate: it is removed from the SHOULD set and minShouldMatch
    *     reduced by one per such term (duplicate clauses collapse —
    *     set semantics, deliberately NOT Lucene's double-count scoring);
    *   - a MUST term that is also MUST_NOT ⇒ empty (checked POST-plan on
    *     the SURVIVING must terms, the [[queryNot]] rule);
    *   - a SHOULD term that is also MUST_NOT stays in the requirement
    *     count but can never match (see above).
    *
    * Scoring: BM25 sum over MUST + MATCHED SHOULD terms in ONE canonical
    * (df asc, term asc) order over their union — bit-equal to the
    * brute-force oracle. A hit's score never depends on what was
    * filtered or prohibited.
    *
    * Execution: one [[Clauses]] value through [[execute]]. Must present:
    * the probed AND walk — candidates enumerate from the MUST
    * intersection (+ weightless FILTER cursors), negatives exclude,
    * present SHOULD cursors add score and count toward minShouldMatch;
    * the admission pre-check `mustScore + Σ(per-shard SHOULD upper
    * bounds) ≥ heap threshold` (inflated by [[BoolBoundSlack]] — far
    * above the ≤ n·ulp float-association slack between the bound's sum
    * order and the canonical fold, far below any real score gap — so
    * the BMW shortcut can never drop an exact-top-k hit) skips the probe
    * work for inadmissible candidates. Only MUST (+ FILTER): the plain
    * AND walk. No must: the OR walk (minShouldMatch ≤ 1) or the
    * count-qualified [[Wand.shouldTopKSegments]] walk, with prohibited +
    * filter probes. Per-shard heaps, O(shards × k) to the driver, zero
    * per-query shuffle on the aligned scan path — a combined query costs
    * its AND walk plus one forward merge per SHOULD/NOT list.
    *
    * `scopes`: per-scope stats/segments exactly like [[queryScoped]]
    * (MUST and SHOULD survivors re-planned per scope with scoped dfs,
    * best-instance union). Time travel via `pinned`; `filter` composes
    * like everywhere (weightless, never re-weighs). */
  def queryBool(spark: SparkSession, root: String, mustText: String,
                shouldText: String = "", notText: String = "",
                minShouldMatch: Int = 0, k: Int = 10,
                scopes: Seq[String] = Nil,
                pinned: Option[Manifest] = None,
                filter: QueryFilter = QueryFilter.Empty,
                after: Option[SearchHit] = None,
                boosts: Map[String, Double] = Map.empty): Vector[SearchHit] =
    search(spark, root, Query.Bool(Vector(mustText), Vector(shouldText),
      Vector(notText), None, minShouldMatch, boosts), k, scopes, pinned, filter, after)

  /** Phrase-as-clause (r7): the combined BooleanQuery with a PHRASE (or
    * unordered-NEAR, `slop = Some(n)`) clause among the required ones —
    * what a Lucene BooleanQuery holds when a PhraseQuery rides MUST next
    * to term clauses, and the composition [[QueryParser]] refused until
    * now. UNSCOPED only ([[search]] refuses a composed phrase with scopes
    * — not yet supported; the standalone scoped phrase/NEAR surfaces
    * exist); composes with typed field [[QueryFilter]]s and time travel.
    *
    * Clause semantics are each family's dedicated contract, unchanged:
    *   - the PHRASE terms are required positionally: no stop cap, an
    *     index-unknown phrase term answers EMPTY (never dropped) — the
    *     [[phraseTopK]] contract; `slop = Some(n)` uses the order-free
    *     slop-n window ([[nearTopK]]'s slop+1-wide divergence note
    *     applies);
    *   - MUST terms NOT already in the phrase: AND semantics
    *     (drop-unknown + stop cap); a MUST term that is also a phrase
    *     term dedupes into it (it is already required; set-semantics
    *     scoring, never double-counted);
    *   - SHOULD terms minus (phrase ∪ MUST ∪ MUST_NOT): [[queryBool]]'s
    *     overlap algebra with the phrase terms counting as
    *     auto-satisfiers;
    *   - a MUST_NOT term that is also a phrase term ⇒ empty (every
    *     phrase hit contains it); must∩not resolves POST-plan as in
    *     [[queryNot]].
    *
    * Scoring: BM25 over DISTINCT(phrase ∪ MUST) + matched SHOULD in one
    * canonical (df, term) order — a composed hit whose SHOULD terms are
    * all absent scores exactly like its plain-phrase hit.
    *
    * Execution: one [[Clauses]] value with a proximity part through
    * [[execute]]. Positional index — ONE shard-local walk over the
    * required cursors (phrase + must + weightless filters), per
    * candidate: admission bound (mustScore + Σ SHOULD UBs, the
    * [[BoolBoundSlack]] inflation), MUST_NOT probes, the ordinal
    * predicate on the phrase slots, SHOULD probes, canonical-fold offer.
    * Positions-free index — the rescan: the required-AND candidates
    * (negatives probed) join docs once and the phrase window, SHOULD
    * count and the full canonical fold evaluate from the analyzed token
    * stream in-task; bit-equal to the positional path because tf, dl and
    * df are the same numbers by construction. */
  def queryBoolPhrase(spark: SparkSession, root: String, phraseText: String,
                      slop: Option[Int] = None, mustText: String = "",
                      shouldText: String = "", notText: String = "",
                      minShouldMatch: Int = 0, k: Int = 10,
                      pinned: Option[Manifest] = None,
                      filter: QueryFilter = QueryFilter.Empty,
                      boosts: Map[String, Double] = Map.empty): Vector[SearchHit] =
    search(spark, root, Query.Bool(Vector(mustText), Vector(shouldText),
      Vector(notText), Some(Query.Phrase(phraseText, slop)), minShouldMatch, boosts),
      k, Nil, pinned, filter)

  /** Shards that may hold a docId in [lo, hi]: a stamped entry by its
    * manifest docId range; an entry without a range (written before the
    * stamps, which the manifest reader defaults to (-1,-1)) cannot be
    * pruned and is kept whenever it holds docs
    * ([[graft.index.ShardEntry.holdsDocs]]), in a manifest of any mix. */
  private def shardsIntersecting(m: graft.index.Manifest,
                                 lo: Long, hi: Long): Seq[Int] =
    m.shards.filter(s =>
      if (s.minDocId >= 0) s.minDocId <= hi && s.maxDocId >= lo
      else s.holdsDocs).map(_.shard)

  /** Full read path: top-k + per-hit snippet + doc key — the SearchData
    * analog (reference dto/search/SearchData.java:12-20; snippets computed
    * for the k shown rows only, SearchServiceImpl.java:281-290). Two Spark
    * jobs when warm: the search (at most `defaultParallelism` tasks, each
    * packing several whole shards), then ONE doc lookup that reads only
    * the shards whose manifest [minDocId, maxDocId] holds a hit (≤ k
    * shards, plus any shard without a range) with the
    * fixed [[IndexSnapshot.HitLookupSchema]], so no schema-inference job
    * runs. */
  def queryWithSnippets(spark: SparkSession, root: String, queryText: String,
                        mode: String = "AND", k: Int = 10)
      : Seq[(Long, Double, String, String, Int)] = {
    requireMode(mode)
    val m = pinnedManifest(root) // ONE snapshot for both rank and lookup
    val hits = search(spark, root, termTree(queryText, mode), k, pinned = Some(m))
    if (hits.isEmpty) return Nil
    val version = m.analyzerVersion
    val terms = Analyzer.analyzeQueryFor(version, queryText).toSet
    val normalize: String => String =
      if (version == Analyzer.StemVersion) graft.analysis.Stemmer.stem else identity
    val ids = hits.map(_.docId)
    val shards = ids.flatMap(d => shardsIntersecting(m, d, d)).distinct
    val byId = IndexSnapshot.docsFor(spark, root, m, shards, Some(IndexSnapshot.HitLookupSchema))
      .filter(col("docId").isin(ids: _*))
      .select(col("docId"), col("text"), col("conv_id"), col("turn_idx"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getInt(3))))
      .toMap
    hits.map { h =>
      val (text, convId, turnIdx) = byId(h.docId)
      (h.docId, h.score, Snippets.snippet(text, terms, normalize), convId, turnIdx)
    }
  }

  /** Reference-compatible scorer path (SURVEY.md §7.0.1): relevance =
    * Σ_term tf, normalized by the page max (SearchServiceImpl.java:202-245,
    * default max 1.0 at :33); AND semantics; order (rel DESC, docId ASC) —
    * the docId tie-break is ours, the reference leaves ties unspecified. */
  def queryRefCompat(spark: SparkSession, root: String, queryText: String,
                     k: Int = 10): DataFrame = {
    import spark.implicits._
    val stats = statsOf(spark, root)
    val spec = QuerySpec(
      Analyzer.analyzeQueryFor(stats.analyzerVersion, queryText), "AND", k)
    val p = plan(spark, root, spec, stats)
    // unknown terms dropped, reference parity (SearchServiceImpl.java:145-148)
    if (p.terms.isEmpty)
      return spark.emptyDataset[SearchHit].toDF("docId", "relevance")
    val tf = IndexBuilder.loadTf(spark, root)
    val termList = p.terms.map(_.term)
    val qtf = tf.filter($"term".isin(termList: _*))
    val cand = p.terms.map(t => qtf.filter($"term" === t.term).select($"docId"))
      .reduce((a, b) => a.join(b, Seq("docId"), "left_semi"))
    val abs = qtf.join(cand, Seq("docId"), "left_semi")
      .groupBy($"docId")
      // exact integer sum → order-free determinism (tf is int)
      .agg(sum($"tf").cast("double").as("abs"))
    val maxAbs = abs.agg(max($"abs")).head().getDouble(0) // A5; ≥1 row here
    abs.withColumn("relevance", $"abs" / lit(if (maxAbs <= 0.0) 1.0 else maxAbs))
      .select($"docId", $"relevance")
      .orderBy($"relevance".desc, $"docId".asc)
      .limit(k)
  }

  /** Reference pagination semantics (O3, SearchServiceImpl.java:247-259),
    * including its quirk: IF the total result count is <= limit, the
    * offset is IGNORED and the full list is returned (guard at :248-250).
    * Compat layer only — the engine itself exposes plain top-k. */
  def paginate[A](results: Seq[A], offset: Int, limit: Int): Seq[A] =
    if (results.size <= limit) results
    else results.slice(offset, offset + limit)

  // ---- serving-mode caches ------------------------------------------
  // Per-query Spark-job latency is dominated by the postings scan; a
  // long-lived serving process pins the (compressed, RAM-sized) postings
  // table in executor memory — queries then scan cache, not parquet.
  private val cachedPostings =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  // the snapshot the pinned frames were built from: a query pinned to a
  // DIFFERENT snapshot (time travel, or a racing manifest flip) must
  // bypass the cache, not silently read another snapshot's data
  private val cachedSnapshot =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private def cacheMatches(root: String, m: Manifest): Boolean =
    cachedSnapshot.get(root).contains(m.snapshotId)

  // ---- repeat-query result memoization (reference SearchServiceImpl
  // .java:42-45, :71-75: the previous request's results are reused on an
  // identical repeat) — generalized to a per-root LRU keyed by the
  // [[Resolved]] query (ANALYZED terms, so it is case/whitespace-
  // insensitive exactly like the reference, which re-lemmatizes before
  // comparing, plus every plan input that changes the answer). STRICTLY
  // OPT-IN for serving processes: the correctness gates and rank-identity
  // tests never enable it (SURVEY.md §4.1), and maintenance invalidates
  // it through disableServingCache like every other pinned structure.
  private val resultCaches = scala.collection.concurrent.TrieMap
    .empty[String, java.util.LinkedHashMap[Resolved, Vector[SearchHit]]]
  // flush generation per root: an in-flight compute that started before a
  // maintenance flush must NOT re-insert its (pre-maintenance) result
  // after the clear — the put is gated on the generation it started under
  private val resultCacheGen = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.atomic.AtomicLong]
  private def cacheGen(root: String): java.util.concurrent.atomic.AtomicLong =
    resultCacheGen.getOrElseUpdate(root,
      new java.util.concurrent.atomic.AtomicLong)

  /** Enable the per-root repeat-query LRU (serving mode). Idempotent;
    * capacity 1 reproduces the reference's single-slot behavior. */
  def enableResultCache(root: String, capacity: Int = 64): Unit = {
    val cap = math.max(1, capacity)
    resultCaches.getOrElseUpdate(root,
      new java.util.LinkedHashMap[Resolved, Vector[SearchHit]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Resolved, Vector[SearchHit]]): Boolean =
          size() > cap
      })
    ()
  }

  def disableResultCache(root: String): Unit = {
    resultCaches.remove(root)
    ()
  }

  private def memoized(root: String, key: Resolved)
                      (compute: => Vector[SearchHit]): Vector[SearchHit] =
    resultCaches.get(root) match {
      case None => compute
      case Some(lru) =>
        val hit = lru.synchronized(Option(lru.get(key)))
        hit.getOrElse {
          val g0 = cacheGen(root).get()
          val v = compute
          lru.synchronized {
            if (cacheGen(root).get() == g0) lru.put(key, v)
          }
          v
        }
    }

  /** Shard-aligned cold-scan plans, keyed by (root, snapshot id): a
    * postings DataFrame whose scan split sizing is pinned to the largest
    * file, so each scan partition is EXACTLY one whole shard file and the
    * WAND grouping needs no per-query shuffle ([[execute]] then packs
    * those partitions into at most `defaultParallelism` tasks). Built on
    * a CLONED session (`newSession` shares the SparkContext but isolates
    * SQL conf) so the
    * pinned split confs never leak into the caller's session; listing is
    * manifest-resolved (exactly the snapshot's leaf dirs). None = some
    * shard dir holds several parquet files (external/legacy layout) →
    * callers use the repartition fallback. Maintenance bumps the snapshot
    * id, which keys a fresh entry; stale entries are pruned on insert and
    * on cache disable, and a hit whose SparkContext has since been
    * STOPPED is rebuilt on the live session instead of served
    * (VERDICT r03 item 5). */
  private val alignedPostings =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Option[DataFrame]]

  /** Pick the postings scan frame for one query: serving-cached frame
    * when pinned and fresh, else the shard-aligned scan (one partition =
    * one whole shard file, no shuffle; [[execute]] packs several into a
    * task), else the raw snapshot scan that needs a per-query
    * `repartition($"shard")` for in-task completeness. Returns (frame,
    * telemetry label, needs-shuffle). */
  private def resolvedPostingsScan(spark: SparkSession, root: String,
                                   m: Manifest,
                                   needPositions: Boolean = false): (DataFrame, String, Boolean) =
    cachedPostings.get(root).filter(_ => cacheMatches(root, m))
        // a positions-pruned pinned frame cannot serve a positional walk
        // — fall through to the (uncached) aligned scan, which reads the
        // position columns straight off parquet
        .filter(df => !needPositions || df.columns.contains("positions")) match {
      case Some(df) =>
        val aligned = cachedPostingsAligned.getOrElse(root, false)
        (df, if (aligned) "cached-aligned" else "cached", !aligned)
      case None => alignedPostingsFor(spark, root, m) match {
        case Some(df) => (df, "aligned", false)
        case None => (IndexSnapshot.postings(spark, root, m), "repartition", true)
      }
    }

  private[graft] def alignedPostingsFor(spark: SparkSession, root: String,
                                        m: Manifest): Option[DataFrame] = {
    val key = (root, m.snapshotId)
    alignedPostings.get(key) match {
      case Some(v) if v.forall(df => !df.sparkSession.sparkContext.isStopped) =>
        v
      case _ =>
        // entries for other RETAINED snapshots stay (time travel
        // alternates between them); in a reader-only process no
        // maintenance ever calls disableServingCache and each entry pins
        // a cloned session, so the map must bound itself. Snapshot ids
        // are DENSE, so a version window prunes without any directory
        // listing (VERDICT r04 item 1: the query path does zero LISTs);
        // an evicted-but-still-retained old snapshot merely rebuilds its
        // (lazy, cheap) plan on next use.
        alignedPostings.keys
          .filter(k => k._1 == root && k._2 < m.snapshotId - 16)
          .foreach(alignedPostings.remove)
        val paths = IndexSnapshot.postingsPaths(root, m)
        val (maxFile, onePerShard) = IndexBuilder.parquetLayoutPaths(spark, paths)
        val v =
          if (paths.isEmpty || !onePerShard) None
          else {
            val s2 = spark.newSession()
            s2.conf.set("spark.sql.files.maxPartitionBytes", (maxFile + 1).toString)
            s2.conf.set("spark.sql.files.openCostInBytes", (maxFile + 1).toString)
            // the known schema: no schema-inference job per new snapshot
            Some(s2.read.schema(IndexSnapshot.postingsSchema)
              .option("basePath", IndexBuilder.Paths(root).postings)
              .parquet(paths: _*).drop("gen"))
          }
        alignedPostings.put(key, v)
        v
    }
  }

  /** true ⇔ the pinned postings frame was built from the ALIGNED scan
    * (one whole shard file per partition), so cached queries can skip the
    * per-query shard shuffle and pack whole shards exactly like the cold
    * aligned path. */
  private val cachedPostingsAligned =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Pin the snapshot's postings in executor memory (the dictionary
    * needs no pin: [[IndexSnapshot.dictionary]] keeps it on the driver
    * for every query).
    *
    * `positions = false` (default) PRUNES the position streams from the
    * pinned frame on a positional index (r6 review): the `positions`/
    * `posOff` columns are roughly sum-of-tf varints — often the largest
    * columns in the file — and a serving deployment running plain
    * AND/OR queries never reads them. Phrase/NEAR/ordered queries stay
    * CORRECT against a pruned cache: [[resolvedPostingsScan]] detects
    * the missing columns and routes positional walks to the uncached
    * aligned scan instead. Pass `positions = true` to pin them too
    * (a phrase-heavy serving workload). */
  def enableServingCache(spark: SparkSession, root: String,
                         positions: Boolean = false): Unit = {
    val m = pinnedManifest(root)
    if (cacheMatches(root, m) &&
        cachedPostings.get(root).exists(df =>
          !m.positions || positions == df.columns.contains("positions")))
      return // already pinned at m in the requested shape
    cachedPostings.remove(root).foreach(_.unpersist())
    cachedPostingsAligned.remove(root)
    cachedSnapshot.remove(root)
    val (base0, aligned) = alignedPostingsFor(spark, root, m) match {
      case Some(a) => (a, true) // newSession shares the table cache
      case None => (IndexSnapshot.postings(spark, root, m), false)
    }
    val base =
      if (m.positions && !positions) base0.drop("positions", "posOff")
      else base0
    val p = base.cache()
    p.count() // materialize
    cachedPostings.put(root, p)
    cachedPostingsAligned.put(root, aligned)
    cachedSnapshot.put(root, m.snapshotId) // stamp LAST
    ()
  }

  def disableServingCache(root: String): Unit = {
    cachedPostings.remove(root).foreach(_.unpersist())
    cachedPostingsAligned.remove(root)
    cachedSnapshot.remove(root)
    // maintenance calls this before rewriting — drop aligned-scan plans
    // and the scoped-query memos for the root too (their snapshot is
    // about to be superseded), and flush memoized results (stale hits
    // would otherwise survive the rewrite; the LRU itself stays enabled
    // for the serving process). The manifest-resolution memo stays: it
    // keys by (root, version) and committed manifests are immutable.
    alignedPostings.keys.filter(_._1 == root).foreach(alignedPostings.remove)
    scopeSegCache.synchronized {
      scopeSegCache.keySet.removeIf(_._1 == root)
    }
    scopeDfCache.synchronized {
      scopeDfCache.keySet.removeIf(_._1 == root)
    }
    resultCaches.get(root).foreach { lru =>
      cacheGen(root).incrementAndGet() // BEFORE clear: gates in-flight puts
      lru.synchronized(lru.clear())
    }
  }

  private def postingsFor(spark: SparkSession, root: String,
                          m: Manifest): DataFrame =
    cachedPostings.get(root).filter(_ => cacheMatches(root, m))
      .getOrElse(IndexSnapshot.postings(spark, root, m))

  def statsOf(spark: SparkSession, root: String): CorpusStats = {
    val m = pinnedManifest(root)
    CorpusStats(m.nDocs, m.avgdl, m.analyzerVersion)
  }
}
