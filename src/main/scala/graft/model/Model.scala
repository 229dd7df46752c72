package graft.model

import java.sql.Timestamp

/** Core typed row shapes (SURVEY.md §1.4, FIXTURES.md §1/§5).
  * Case classes give Spark `Encoder`s via `import spark.implicits._`.
  */

/** One transcript turn — the primary input table
  * (BASELINE.json input_hint; reference analog: `page` rows,
  * model/PageEntity.java:14-37). */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** A turn with its assigned stable docId (reference: page.id auto-inc,
  * PageEntity.java:18-21 — ours is the dense rank under
  * (conv_id ASC, turn_idx ASC)). `dl` = document length in tokens
  * (BM25 needs it). */
final case class Doc(
    docId: Long,
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    dl: Int)

/** Term dictionary row (reference: `lemma` table with df in
  * LemmaEntity.frequency, model/LemmaEntity.java:13-29). */
final case class TermStats(term: String, df: Long, maxTf: Int)

/** Global corpus statistics, broadcast at query time (BM25 inputs). */
final case class CorpusStats(nDocs: Long, avgdl: Double, analyzerVersion: String)

/** One compressed posting-list chunk for (shard, term)
  * (reference: the set of `search_index` rows for one lemma,
  * model/IndexEntity.java:13-30).
  *
  * `shard` = docId-range partition (the distributed query unit: AND /
  * WAND run fully shard-local, driver merges per-shard top-k).
  * `chunk` = salt ordinal — lists longer than the chunk cap are split
  * into consecutive docId sub-ranges so no single blob row is unbounded
  * (hot-term skew defense, SURVEY.md §7.7); chunks of one (shard, term)
  * concatenate back in `chunk` order.
  * Block-aligned layout (PostingCodec.BlockedList): every 128-doc block
  * is self-contained — blockFirst holds its first docId absolutely and
  * docOff/tfOff/dlOff are byte offsets where its delta+varint streams
  * restart, so cursors jump blocks without decoding predecessors (skip
  * lists); blockMaxTf/blockMinDl give the exact per-block BM25 upper
  * bound score(maxTf, df, minDl) for block-max WAND (BM25 is increasing
  * in tf, decreasing in dl). dls duplicates dl per posting — the
  * Lucene-norms analog needed for shard-local scoring.
  *
  * `positions`/`posOff` (r6 format rev; Lucene .pos analog): per-posting
  * token-ordinal streams, null when the index was built without
  * `positions = true`. The manifest records which; phrase/NEAR verify
  * against posting offsets when present, re-analyzed doc text otherwise.
  * Queries that don't ask for positions never read the columns (parquet
  * column pruning), so the rev costs plain search nothing — including
  * under the serving cache, which pins a positions-PRUNED frame by
  * default (SearchEngine.enableServingCache(positions = true) opts a
  * phrase-heavy serving workload into pinning them too). */
final case class PostingList(
    shard: Int,
    term: String,
    chunk: Int,
    count: Long,
    maxTf: Int,
    sumTf: Long,
    docIds: Array[Byte],
    tfs: Array[Byte],
    dls: Array[Byte],
    blockFirst: Array[Long],
    docOff: Array[Int],
    tfOff: Array[Int],
    dlOff: Array[Int],
    blockMaxTf: Array[Int],
    blockMinDl: Array[Int],
    positions: Array[Byte] = null,
    posOff: Array[Int] = null)

/** A scored search result (reference: SearchData,
  * dto/search/SearchData.java:12-20 minus REST decoration). */
final case class SearchHit(docId: Long, score: Double)

/** Typed field predicates at query time (r7; Lucene BooleanQuery FILTER
  * clauses): equality on the corpus's keyword fields (`role`, `tool`)
  * plus an inclusive `ts` range. Filters restrict CANDIDATES and
  * contribute no score — a filtered hit scores exactly like its
  * unfiltered hit, and corpus statistics (df/N/avgdl, the stop cap) are
  * those of the UNFILTERED corpus/scope, Lucene parity (a filter does
  * not change term weights). Distinct from `scopes`, which re-score with
  * per-scope statistics (reference per-site semantics). Field matching
  * is case-insensitive exact-string (Analyzer.fieldTerm); ts bounds are
  * inclusive epoch-ms instants. */
final case class QueryFilter(role: Option[String] = None,
                             tool: Option[String] = None,
                             tsFrom: Option[java.sql.Timestamp] = None,
                             tsTo: Option[java.sql.Timestamp] = None) {
  def isEmpty: Boolean =
    role.isEmpty && tool.isEmpty && tsFrom.isEmpty && tsTo.isEmpty
  def fieldEqs: Seq[(String, String)] =
    role.map("role" -> _).toSeq ++ tool.map("tool" -> _).toSeq
  def hasTs: Boolean = tsFrom.nonEmpty || tsTo.nonEmpty
}

object QueryFilter {
  val Empty: QueryFilter = QueryFilter()
}

/** Query specification. AND = reference semantics (posting intersection,
  * SearchServiceImpl.java:164-200); OR = union-of-postings BM25 sum
  * (north-star extension, SURVEY.md §7.0.2). */
final case class QuerySpec(terms: Vector[String], mode: String, k: Int) {
  require(mode == "AND" || mode == "OR", s"mode must be AND|OR, got $mode")
}
