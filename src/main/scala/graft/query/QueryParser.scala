package graft.query

import org.apache.spark.sql.SparkSession

import graft.index.Manifest
import graft.model.{QueryFilter, SearchHit}

/** Lucene-classic-QueryParser-style query strings (r7) — ONE string
  * surface over the whole query family, so a caller (or the CLI) can say
  *
  *   `+spark merge shuffle -join role:user ts:[2024-01-01 TO *]`
  *
  * and get the combined BooleanQuery + filters it denotes. The parser
  * builds a [[Query]] tree and a [[graft.model.QueryFilter]] and hands
  * them to [[SearchEngine.search]] — it introduces no new query
  * semantics, only notation (QueryParserSpec pins each string bit-equal
  * to the facade call that builds the same tree).
  *
  * Grammar (whitespace-separated clauses; a deliberate, documented
  * subset of Lucene's — no parentheses, no AND/OR/NOT keyword
  * operators; per-clause boosts ARE supported, `term^b` below):
  *
  *   clause := '+' body   — MUST (required, scored)
  *           | '-' body   — MUST_NOT (prohibited, unscored)
  *           | body       — SHOULD (optional, scored; Lucene's default)
  *   body   := 'role:' value | 'tool:' value      — FILTER equality
  *           | 'ts:[' from ' TO ' to ']'          — FILTER range
  *                 (bounds: epoch millis, yyyy-MM-dd[ HH:mm:ss] UTC,
  *                  or '*' for an open end)
  *           | '"' terms '"' ('~' slop)?          — phrase / proximity
  *           | term ('^' boost)?                   — boost: Lucene term^b
  *
  * Syntax → tree (all Lucene parity unless noted):
  *   - `+t` → `Bool.must`, `-t` → `Bool.not`, bare `t` → `Bool.should`,
  *     in query order; `minShould` is the `minShouldMatch` parameter of
  *     [[search]] (default 0). The engine's clause algebra then gives
  *     Lucene's rules: only SHOULD clauses → at least one must match;
  *     MUST present → SHOULD clauses only boost unless `minShould` > 0;
  *     `minShould` > 0 with no SHOULD clause left → empty;
  *   - `"a b"` → `Bool.phrase = Phrase("a b")` (exact phrase); `"a b"~N`
  *     → `Phrase("a b", Some(N))`, unordered slop N (NOTE: our window is
  *     slop+1 WIDE and order-free — documented divergence from Lucene's
  *     edit-distance phrase slop, see [[SearchEngine.nearTopK]]). Alone it
  *     is the bare phrase/NEAR query; next to term clauses it is a
  *     required positional clause of the same Bool (unscoped only —
  *     composed + scopes refuses). At most one phrase; negated phrases
  *     are REFUSED;
  *   - `term^b` → `Bool.boosts(term) = b`, multiplying that clause's BM25
  *     contribution (finite, > 0 — Lucene per-clause boost; bounds scale
  *     with it so WAND pruning stays exact). Boosting a MUST_NOT clause
  *     (never scored), a filter, or a phrase is REFUSED;
  *   - `role:x`, `tool:y`, `ts:[a TO b]` → the [[graft.model.QueryFilter]]
  *     (FILTERS: required, never scored). `-role:x` and `+role:x` are
  *     REFUSED — the engine has no NOT-filter plan and a prefixed field
  *     clause is almost always a typo; duplicate role:/tool: filters and
  *     multiple ts: ranges are REFUSED (a conjunction of two different
  *     role equalities is always empty — another typo trap); a query of
  *     filters only is REFUSED (no match-all walk);
  *   - an unknown `field:` prefix is REFUSED loudly (the analyzer would
  *     otherwise silently split `foo:bar` into two text terms — typo
  *     protection beats silent broadening).
  */
/** Shared UTC timestamp parsing for ts filters (QueryParser's ts:[..]
  * bounds and the CLI's --from/--to): epoch millis, or
  * yyyy-MM-dd[[T| ]HH:mm:ss] read AS UTC — never the JVM-local zone.
  * Index ts instants are absolute; a zone-dependent parse would
  * silently shift every window by the host's offset. */
object TsParse {
  def utcTimestamp(v: String): Option[java.sql.Timestamp] =
    v.toLongOption.map(new java.sql.Timestamp(_)).orElse {
      val norm =
        (if (v.length == 10) v + " 00:00:00" else v).replace('T', ' ')
      try {
        val ldt = java.time.LocalDateTime.parse(norm,
          java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
        Some(new java.sql.Timestamp(
          ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli))
      } catch { case _: java.time.format.DateTimeParseException => None }
    }
}

object QueryParser {

  private val KnownFields = Set("role", "tool", "ts")

  /** A query string as its tree (raw clause texts — analysis happens in
    * [[SearchEngine.search]], exactly as if the caller had built the tree
    * directly) and its filter. */
  def parse(q: String): (Query.Bool, QueryFilter) = {
    var must = Vector.empty[String]
    var should = Vector.empty[String]
    var not = Vector.empty[String]
    var phrase: Option[Query.Phrase] = None
    var role: Option[String] = None
    var tool: Option[String] = None
    var tsFrom: Option[java.sql.Timestamp] = None
    var tsTo: Option[java.sql.Timestamp] = None
    var sawTs = false
    var boosts = Map.empty[String, Double]

    val s = if (q == null) "" else q
    var i = 0
    def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    skipWs()
    while (i < s.length) {
      // clause prefix
      val op: Char =
        if (s(i) == '+' || s(i) == '-') { val c = s(i); i += 1; c } else ' '
      require(i < s.length && !s(i).isWhitespace,
        s"dangling '$op' operator at position $i in: $s")
      if (s(i) == '"') {
        // quoted phrase, optional ~slop
        i += 1
        val start = i
        while (i < s.length && s(i) != '"') i += 1
        require(i < s.length, s"unclosed quote in: $s")
        val body = s.substring(start, i)
        i += 1 // closing quote
        val slop: Option[Int] =
          if (i < s.length && s(i) == '~') {
            i += 1
            val ds = i
            while (i < s.length && s(i).isDigit) i += 1
            require(i > ds, s"'~' needs a slop number in: $s")
            Some(s.substring(ds, i).toInt)
          } else None
        require(i >= s.length || s(i).isWhitespace || s(i) != '^',
          "phrase boosts are not supported (boost term clauses instead)")
        require(op != '-', "negated phrases are not supported " +
          "(a MUST_NOT phrase clause has no executor); rephrase")
        require(phrase.isEmpty, "at most one phrase clause per query")
        phrase = Some(Query.Phrase(body, slop))
      } else {
        // bare token up to whitespace — with the ts:[...] bracket rule
        val start = i
        if (s.startsWith("ts:[", i)) {
          while (i < s.length && s(i) != ']') i += 1
          require(i < s.length, s"unclosed ts:[ range in: $s")
          i += 1
        } else {
          while (i < s.length && !s(i).isWhitespace) i += 1
        }
        val tok = s.substring(start, i)
        val colon = tok.indexOf(':')
        if (colon > 0) {
          val field = tok.substring(0, colon)
          require(KnownFields(field),
            s"unknown field '$field:' in: $s (known: role, tool, ts); " +
            "the analyzer would silently split an unquoted colon token — " +
            "quote it if you meant literal text")
          require(op == ' ',
            s"'$op$field:' is not supported: field clauses are FILTERS " +
            "(required by nature, never scored, not negatable)")
          val v = tok.substring(colon + 1)
          require(field == "ts" || !v.contains('^'),
            s"'$field:$v' — filters are never scored, boosts do not apply")
          field match {
            case "role" =>
              require(role.isEmpty, "duplicate role: filter")
              require(v.nonEmpty, "role: needs a value")
              role = Some(v)
            case "tool" =>
              require(tool.isEmpty, "duplicate tool: filter")
              require(v.nonEmpty, "tool: needs a value")
              tool = Some(v)
            case "ts" =>
              require(!sawTs, "duplicate ts: range")
              sawTs = true
              // split on the literal " TO " so space-separated datetime
              // bounds ("2024-01-01 10:00:00") parse as documented
              require(tok.startsWith("ts:[") && tok.endsWith("]"),
                s"ts: expects ts:[<from> TO <to>] in: $s")
              val body = tok.substring(4, tok.length - 1)
              val sep = body.indexOf(" TO ")
              require(sep > 0, s"ts: expects ts:[<from> TO <to>] in: $s")
              tsFrom = parseBound(body.substring(0, sep).trim)
              tsTo = parseBound(body.substring(sep + 4).trim)
              require(tsFrom.nonEmpty || tsTo.nonEmpty,
                "ts:[* TO *] is a no-op — drop it")
          }
        } else {
          // term^boost (Lucene per-clause boost)
          val caret = tok.lastIndexOf('^')
          val (term, boost) =
            if (caret <= 0) (tok, None)
            else {
              val bs = tok.substring(caret + 1)
              val b = bs.toDoubleOption.getOrElse(sys.error(
                s"boost '^$bs' is not a number in: $s"))
              require(b > 0 && !b.isInfinite,
                s"boost must be a finite positive number, got ^$bs")
              (tok.substring(0, caret), Some(b))
            }
          require(boost.isEmpty || op != '-',
            s"'-$term^...' is not supported: MUST_NOT clauses are never " +
            "scored, so a boost there is always a mistake")
          require(boost.isEmpty || !boosts.contains(term),
            s"duplicate boost for '$term'")
          boost.foreach(b => boosts += term -> b)
          op match {
            case '+' => must :+= term
            case '-' => not :+= term
            case _ => should :+= term
          }
        }
      }
      skipWs()
    }
    val filter = QueryFilter(role, tool, tsFrom, tsTo)
    // filters-only would need a match-all-docs walk the engine does not
    // have (and almost certainly means a forgotten term) — refuse, like
    // the other typo traps, instead of answering empty
    require(phrase.nonEmpty || must.nonEmpty || should.nonEmpty ||
        not.nonEmpty || filter.isEmpty,
      "a filters-only query needs at least one text clause " +
      "(role:/tool:/ts: restrict a text query, they do not enumerate)")
    (Query.Bool(must, should, not, phrase, boosts = boosts), filter)
  }

  /** One range bound: '*' (open), epoch millis, or
    * yyyy-MM-dd[[T| ]HH:mm:ss] — interpreted in UTC via
    * [[TsParse.utcTimestamp]] (java.sql.Timestamp.valueOf would read the
    * JVM-local zone and silently shift the window — r7 review). */
  private def parseBound(v: String): Option[java.sql.Timestamp] =
    if (v == "*") None
    else Some(TsParse.utcTimestamp(v).getOrElse(sys.error(
      s"ts bound '$v' is not epoch millis, yyyy-MM-dd[ HH:mm:ss] or *")))

  /** Parse, then ONE [[SearchEngine.search]] call: composes with
    * scopes, time travel (`pinned`), k and `after` exactly like the
    * facades — it IS the facades' planner. */
  def search(spark: SparkSession, root: String, q: String, k: Int = 10,
             minShouldMatch: Int = 0, scopes: Seq[String] = Nil,
             pinned: Option[Manifest] = None,
             after: Option[SearchHit] = None): Vector[SearchHit] = {
    val (tree, filter) = parse(q)
    SearchEngine.search(spark, root, tree.copy(minShould = minShouldMatch), k,
      scopes, pinned, filter, after)
  }
}
