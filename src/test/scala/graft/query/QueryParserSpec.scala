package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.fixtures.TranscriptGen
import graft.index.IndexBuilder
import graft.model.QueryFilter
import graft.query.Query.{Bool, Phrase}
import graft.query.QueryParser.{parse, search}

/** Lucene-style query strings (r7, [[QueryParser]]): the parser adds
  * NOTATION, not semantics — a string parses to the [[Query]] tree and
  * filter it denotes, its answer must be bit-equal to the facade call
  * that builds the same tree, and every documented refusal must actually
  * refuse.
  */
class QueryParserSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private lazy val corpus = TranscriptGen.corpus(seed = 42L, nConvs = 200)
  private lazy val root = {
    val dir = SparkTestBase.tmpDir("graft-queryparser")
    IndexBuilder.build(spark, spark.createDataset(corpus)(
      org.apache.spark.sql.Encoders.product[graft.model.Turn]), dir,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    dir
  }

  test("parse: clause prefixes, fields, phrase, ts range") {
    assert(parse("+spark merge -join") ==
      (Bool(Vector("spark"), Vector("merge"), Vector("join")), QueryFilter.Empty))
    assert(parse("  a   +b c  -d +e ") ==
      (Bool(Vector("b", "e"), Vector("a", "c"), Vector("d")), QueryFilter.Empty))
    assert(parse("role:user tool:bash needle") ==
      (Bool(should = Vector("needle")),
        QueryFilter(role = Some("user"), tool = Some("bash"))))
    assert(parse("\"exact phrase\"") ==
      (Bool(phrase = Some(Phrase("exact phrase", None))), QueryFilter.Empty))
    assert(parse("\"a b\"~3") ==
      (Bool(phrase = Some(Phrase("a b", Some(3)))), QueryFilter.Empty))
    val (pq, pf) = parse("ts:[1700000000000 TO 1700001000000] x")
    assert(pf.tsFrom.get.getTime == 1700000000000L &&
      pf.tsTo.get.getTime == 1700001000000L &&
      pq.should == Vector("x"))
    val open = parse("ts:[2023-11-14 TO *] x")._2
    assert(open.tsTo.isEmpty && open.tsFrom.nonEmpty)
    // bounds are UTC instants NO MATTER the JVM zone (r7 review:
    // Timestamp.valueOf would read the host zone and shift the window)
    assert(open.tsFrom.get.getTime == 1699920000000L,
      "2023-11-14 must mean midnight UTC")
    // the documented space-separated datetime parses inside ts:[ ... ]
    val dt = parse("ts:[2023-11-14 10:00:00 TO 2023-11-14T11:00:00] x")._2
    assert(dt.tsFrom.get.getTime == 1699956000000L &&
      dt.tsTo.get.getTime == 1699959600000L,
      "both datetime spellings, both UTC")
    assert(parse("") == (Bool(), QueryFilter.Empty))
    // per-clause boosts (term^b)
    assert(parse("+spark^2 merge^0.5 -join") ==
      (Bool(Vector("spark"), Vector("merge"), Vector("join"),
        boosts = Map("spark" -> 2.0, "merge" -> 0.5)), QueryFilter.Empty))
  }

  test("parse refusals: every documented typo trap throws") {
    Seq(
      "\"unclosed phrase",            // unclosed quote
      "-\"a b\"",                     // negated phrase
      "\"a\" \"b\"",                  // two phrases
      "foo:bar",                      // unknown field
      "-role:user x",                 // negated filter
      "+role:user x",                 // required-prefixed filter
      "role:user role:tool x",        // duplicate role filter
      "ts:[1 TO 2] ts:[3 TO 4] x",    // duplicate ts range
      "ts:[* TO *] x",                // no-op range
      "ts:[oops TO 2] x",             // bad bound
      "ts:[1 TO 2 x",                 // unclosed bracket
      "role: x",                      // empty field value
      "+ x",                          // dangling operator
      "\"a b\"~ x",                   // ~ without slop
      "x^",                           // boost without a number
      "x^0",                          // zero boost
      "x^-2",                         // negative boost
      "-x^2",                         // boost on a MUST_NOT clause
      "role:user^2 x",                // boost on a filter
      "\"a b\"^2",                    // boost on a phrase
      "x^2 x^3"                       // duplicate boost
    ).foreach { q =>
      withClue(s"should refuse: $q") {
        assertThrows[Exception](parse(q))
      }
    }
  }

  test("search: each dispatch is bit-equal to the direct call") {
    assert(search(spark, root, "+needlemid +w0000", 10)
      == SearchEngine.query(spark, root, "needlemid w0000", "AND", 10))
    assert(search(spark, root, "needlemid w0000 w0001", 10, minShouldMatch = 2)
      == SearchEngine.queryShould(spark, root, "needlemid w0000 w0001", 2, 10))
    assert(search(spark, root, "+needlemid -roleuser", 10)
      == SearchEngine.queryNot(spark, root, "needlemid", "roleuser", 10))
    assert(search(spark, root, "+needlemid w0000 -w0001 role:user", 10)
      == SearchEngine.queryBool(spark, root, "needlemid", "w0000", "w0001",
        0, 10, Nil, None, QueryFilter(role = Some("user"))))
    assert(search(spark, root, "\"stopish needlemid\"", 10)
      == SearchEngine.phraseTopK(spark, root, "stopish needlemid", 10))
    assert(search(spark, root, "\"stopish needlemid\"~3 tool:bash", 10)
      == SearchEngine.nearTopK(spark, root, "stopish needlemid", 3, 10,
        filter = QueryFilter(tool = Some("bash"))))
    assert(search(spark, root,
        "+needlemid ts:[1700000000000 TO 1700003880000]", 10)
      == SearchEngine.query(spark, root, "needlemid", "AND", 10, None,
        QueryFilter(tsFrom = Some(new java.sql.Timestamp(1700000000000L)),
          tsTo = Some(new java.sql.Timestamp(1700003880000L)))))
    // filters-only refuses (match-all has no executor)
    assertThrows[IllegalArgumentException] {
      search(spark, root, "role:user", 10)
    }
  }

  test("search: phrase composed with clauses dispatches to queryBoolPhrase") {
    assert(search(spark, root, "\"stopish needlemid\" +w0000 -roleuser", 10)
      == SearchEngine.queryBoolPhrase(spark, root, "stopish needlemid",
        None, "w0000", "", "roleuser", 0, 10))
    assert(search(spark, root, "\"stopish needlemid\"~3 w0000 role:user", 10)
      == SearchEngine.queryBoolPhrase(spark, root, "stopish needlemid",
        Some(3), "", "w0000", "", 0, 10, None,
        QueryFilter(role = Some("user"))))
    // composed + scopes refuses; plain phrase + scopes still works
    assertThrows[IllegalArgumentException] {
      search(spark, root, "\"a b\" +c", 10, 0, Seq("conv-0"))
    }
    // minimumShouldMatch with zero SHOULD clauses is unsatisfiable on
    // EVERY dispatch path, including the bare phrase (r7 review)
    assert(search(spark, root, "\"stopish needlemid\"", 10,
      minShouldMatch = 2).isEmpty)
    assert(search(spark, root, "+needlemid", 10, minShouldMatch = 1).isEmpty)
    // boosts ride into queryBool (and the composed executor)
    assert(search(spark, root, "+needlemid w0000^2.5", 10)
      == SearchEngine.queryBool(spark, root, "needlemid", "w0000", "", 0,
        10, Nil, None, QueryFilter.Empty, None, Map("w0000" -> 2.5)))
    assert(search(spark, root, "\"stopish needlemid\" w0000^2.5", 10)
      == SearchEngine.queryBoolPhrase(spark, root, "stopish needlemid",
        None, "", "w0000", "", 0, 10, None, QueryFilter.Empty,
        Map("w0000" -> 2.5)))
  }
}
