package graft.query

/** The public query tree: a query is a value, and [[SearchEngine.search]]
  * plans it in one place (Lucene's Query → Weight split). Nodes hold RAW
  * clause texts; analysis happens against the pinned snapshot's analyzer
  * inside `search`, so one tree answers alike on a plain or a stemmed
  * index. Filters, scopes, the snapshot and the `after` cursor are plan
  * inputs of `search`, not tree nodes. Every public query facade of
  * [[SearchEngine]] is one constructor of this tree plus `search`;
  * [[QueryParser.parse]] and the `Query` CLI build the same trees. */
sealed trait Query

object Query {

  /** Lucene BooleanQuery: MUST (`must`), SHOULD (`should`) and MUST_NOT
    * (`not`) clause texts, an optional required phrase/NEAR clause,
    * `minShould` (minimumShouldMatch; 0 = optional clauses only boost
    * when a required clause exists) and per-term boosts (raw terms,
    * analyzed like the clauses). A bare phrase is a Bool holding only
    * `phrase`; AND is `must` only and OR is `should` only. */
  final case class Bool(must: Vector[String] = Vector.empty,
                        should: Vector[String] = Vector.empty,
                        not: Vector[String] = Vector.empty,
                        phrase: Option[Phrase] = None,
                        minShould: Int = 0,
                        boosts: Map[String, Double] = Map.empty) extends Query

  /** A proximity clause over `text`'s analyzed token sequence: the exact
    * phrase (`slop` None), the order-free window of `slop + 1` positions,
    * or with `ordered` the in-order subsequence window (Lucene
    * SpanNearQuery inOrder). */
  final case class Phrase(text: String, slop: Option[Int] = None,
                          ordered: Boolean = false)

  /** A multi-term query rewritten to a scoring disjunction over the
    * dictionary terms `pattern` (folded, never stemmed) expands to. */
  final case class Expand(kind: Expansion, pattern: String) extends Query

  sealed trait Expansion
  /** Lucene PrefixQuery: every term starting with the pattern. */
  case object Prefix extends Expansion
  /** Lucene FuzzyQuery: every term within `edits` Levenshtein edits whose
    * first `prefixLen` chars equal the pattern's. */
  final case class Fuzzy(edits: Int, prefixLen: Int = 0) extends Expansion
  /** Lucene WildcardQuery: `*` any sequence, `?` one char. */
  case object Wildcard extends Expansion
}
