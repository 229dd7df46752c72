package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.fixtures.TranscriptGen
import graft.index.IndexBuilder
import graft.model.QueryFilter
import graft.oracle.Oracle

/** Phrase-as-clause (r7, `SearchEngine.queryBoolPhrase`): the combined
  * BooleanQuery with a required phrase / unordered-NEAR clause.
  *
  *  - rank identity (bit-equal scores) against the Oracle brute force
  *    on BOTH index variants — the positional in-walk executor and the
  *    positions-free rescan fallback must agree with the oracle AND
  *    with each other;
  *  - degenerate law: no term clauses == the dedicated phrase/NEAR
  *    mode, bit-equal;
  *  - the clause-overlap algebra extended to phrase slots (MUST∩slot
  *    dedupes, NOT∩slot ⇒ empty, SHOULD∩slot auto-satisfies);
  *  - composition with typed field filters (post-filter law);
  *  - a seeded random cross-check: each seed draws one clause shape
  *    (must/should/not/filter/phrase/slop/boost/k) and runs it on both
  *    index variants against the oracle, bit for bit.
  */
class BoolPhraseSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private lazy val corpus = TranscriptGen.corpus(seed = 42L, nConvs = 250)
  private lazy val oracle = new Oracle(corpus)
  private def ds = spark.createDataset(corpus)(
    org.apache.spark.sql.Encoders.product[graft.model.Turn])
  private lazy val posRoot = {
    val dir = SparkTestBase.tmpDir("graft-boolphrase-pos")
    IndexBuilder.build(spark, ds, dir, shards = 8, waveSize = 4,
      maxChunkPostings = 64, positions = true)
    dir
  }
  private lazy val flatRoot = {
    val dir = SparkTestBase.tmpDir("graft-boolphrase-flat")
    IndexBuilder.build(spark, ds, dir, shards = 8, waveSize = 4,
      maxChunkPostings = 64)
    dir
  }
  private def roots = Seq(("positional", posRoot), ("rescan", flatRoot))

  // (phrase, slop, must, should, not, minMatch)
  private val cases: Seq[(String, Option[Int], String, String, String, Int)] = Seq(
    ("stopish needlemid", None, "w0000", "", "", 0),       // phrase + must
    ("stopish needlemid", None, "", "w0000 w0001", "", 1), // phrase + should
    ("stopish needlemid", None, "", "w0000 w0001", "", 0), // pure boost
    ("stopish needlemid", None, "", "", "roleuser", 0),    // phrase + not
    ("stopish needlemid", None, "w0000", "w0001 w0002", "roleuser", 1),
    ("stopish needlemid", Some(3), "w0000", "", "", 0),    // NEAR window + must
    ("stopish needlemid", Some(3), "", "w0000", "roleuser", 1),
    ("stopish needlemid", None, "absentterm w0000", "", "", 0), // must drop-and-continue
    ("stopish absentterm", None, "w0000", "", "", 0),      // unknown slot ⇒ empty
    ("stopish needlemid", None, "", "w0000 w0001", "", 3)) // unsatisfiable

  test("composed phrase+clauses: rank-identical to the oracle on BOTH paths") {
    roots.foreach { case (label, root) =>
      cases.foreach { case (ph, slop, must, should, not, mm) =>
        val expected = oracle.boolPhraseTopK(ph, slop, must, should, not, mm, 10)
        val got = SearchEngine.queryBoolPhrase(spark, root, ph, slop, must,
          should, not, mm, 10)
        assert(got == expected,
          s"[$label] '$ph'~$slop +($must) ?($should) -($not)>=$mm: " +
          s"got $got expected $expected")
      }
    }
  }

  test("degenerate law: no term clauses == the dedicated phrase/NEAR mode") {
    roots.foreach { case (label, root) =>
      assert(SearchEngine.queryBoolPhrase(spark, root, "stopish needlemid",
          None, "", "", "", 0, 10)
        == SearchEngine.phraseTopK(spark, root, "stopish needlemid", 10),
        s"[$label] pure phrase")
      assert(SearchEngine.queryBoolPhrase(spark, root, "stopish needlemid",
          Some(2), "", "", "", 0, 10)
        == SearchEngine.nearTopK(spark, root, "stopish needlemid", 2, 10),
        s"[$label] pure NEAR")
    }
  }

  test("boost law: all-SHOULD-absent composed hits keep the plain phrase score") {
    val all = 100000
    val plain = SearchEngine.phraseTopK(spark, posRoot, "stopish needlemid", all)
    val boosted = SearchEngine.queryBoolPhrase(spark, posRoot,
      "stopish needlemid", None, "", "w0000 w0001", "", 0, all)
    assert(boosted.map(_.docId).toSet == plain.map(_.docId).toSet,
      "boost clauses must not change the candidate set")
    val plainMap = plain.map(h => h.docId -> h.score).toMap
    boosted.foreach(h => assert(h.score >= plainMap(h.docId)))
    assert(boosted.exists(h => h.score > plainMap(h.docId)),
      "fixture must contain at least one boosted phrase hit")
  }

  test("overlap algebra extends to phrase slots") {
    val all = 100000
    // a MUST term already in the phrase dedupes into it
    assert(SearchEngine.queryBoolPhrase(spark, posRoot, "stopish needlemid",
        None, "needlemid w0000", "", "", 0, all)
      == SearchEngine.queryBoolPhrase(spark, posRoot, "stopish needlemid",
        None, "w0000", "", "", 0, all))
    // a prohibited phrase term ⇒ empty (every hit would hold it)
    assert(SearchEngine.queryBoolPhrase(spark, posRoot, "stopish needlemid",
      None, "", "", "needlemid", 0, all).isEmpty)
    // a SHOULD term in the phrase auto-satisfies the requirement
    assert(SearchEngine.queryBoolPhrase(spark, posRoot, "stopish needlemid",
        None, "", "needlemid w0000", "", 2, all)
      == SearchEngine.queryBoolPhrase(spark, posRoot, "stopish needlemid",
        None, "", "w0000", "", 1, all))
  }

  test("composed queries take field filters (post-filter law, both paths)") {
    val roleF = QueryFilter(role = Some("user"))
    roots.foreach { case (label, root) =>
      val unfiltered = SearchEngine.queryBoolPhrase(spark, root,
        "stopish needlemid", None, "", "w0000", "", 0, 100000)
      val got = SearchEngine.queryBoolPhrase(spark, root,
        "stopish needlemid", None, "", "w0000", "", 0, 100000, None, roleF)
      val expected = unfiltered.filter(h => oracle.docPasses(roleF)(h.docId))
      assert(got == expected, s"[$label] filter law")
    }
  }

  test("seeded random clause shapes: both paths bit-equal to the oracle") {
    val musts = Vector("", "w0000", "w0002", "needlemid", "roleuser",
      "absentterm", "w0003 w0004", "stopish w0001")
    val shoulds = Vector("", "w0000 w0001", "w0002", "w0005 w0006 w0007",
      "needlemid", "stopish w0003", "absentterm w0004")
    val nots = Vector("", "", "roleuser", "w0001", "w0008 w0009", "absentterm")
    val phrases = Vector("stopish needlemid", "roleuser w0000",
      "roletool toolbash", "w0000 w0001")
    val filters = Vector(QueryFilter.Empty, QueryFilter.Empty,
      QueryFilter(role = Some("user")), QueryFilter(tool = Some("bash")))
    val all = 100000
    (1 to 20).foreach { seed =>
      val rng = new scala.util.Random(seed)
      def pick[A](xs: Vector[A]): A = xs(rng.nextInt(xs.size))
      val must = pick(musts)
      val should = pick(shoulds)
      val not = pick(nots)
      val mm = rng.nextInt(3)
      val k = 1 + rng.nextInt(30)
      val f = pick(filters)
      val phrase = if (rng.nextBoolean()) Some(pick(phrases)) else None
      val slop = if (rng.nextBoolean()) Some(rng.nextInt(5)) else None
      val boostable = (must + " " + should).split(' ').filter(_.nonEmpty)
      val boosts =
        if (boostable.isEmpty || rng.nextBoolean()) Map.empty[String, Double]
        else Map(boostable(rng.nextInt(boostable.length)) -> (0.5 + rng.nextInt(8) * 0.5))
      // the oracle scores unfiltered; filters never re-weigh (post-filter law)
      val unfiltered = phrase match {
        case Some(ph) => oracle.boolPhraseTopK(ph, slop, must, should, not, mm,
          all, boosts)
        case None => oracle.boolTopK(must, should, not, mm, all, None, boosts)
      }
      val expected = unfiltered.filter(h => oracle.docPasses(f)(h.docId)).take(k)
      val shape = s"seed $seed: phrase=$phrase~$slop +($must) ?($should) " +
        s"-($not)>=$mm k=$k filter=$f boosts=$boosts"
      roots.foreach { case (label, root) =>
        val got = phrase match {
          case Some(ph) => SearchEngine.queryBoolPhrase(spark, root, ph, slop,
            must, should, not, mm, k, None, f, boosts)
          case None => SearchEngine.queryBool(spark, root, must, should, not,
            mm, k, Nil, None, f, None, boosts)
        }
        assert(got == expected, s"[$label] $shape: got $got expected $expected")
      }
    }
  }
}
