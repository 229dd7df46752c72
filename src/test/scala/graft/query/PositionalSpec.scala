package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.fixtures.TranscriptGen
import graft.index.{IndexBuilder, IndexMaintenance, IndexManifest}
import graft.oracle.Oracle

/** Positional postings format rev (r6, VERDICT r05 item 2):
  *
  *  - a positions-built index serves phrase/NEAR through the in-walk
  *    posting-offset verify (the shard-local executor's probed
  *    Wand.andAllWith walk) — rank-identical (bit-equal scores) to both the
  *    brute-force oracle and the rescan path on a positions-free twin;
  *  - the positional predicates ([[SearchEngine.phraseMatchPositions]],
  *    [[SearchEngine.nearMatchPositions]]) agree with the token-stream
  *    predicates on random streams (500 cases each);
  *  - scoped phrase/NEAR/prefix (r6, VERDICT r05 item 3) use per-scope
  *    statistics on BOTH index variants, rank-identical to the scoped
  *    brute-force oracles;
  *  - maintenance (delete + append) PRESERVES the positional format: the
  *    manifest keeps `positions=true`, appended generations carry
  *    position streams, and results stay identical to a positions-free
  *    twin that underwent the same ops.
  */
class PositionalSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def turnsDs(corpus: Seq[graft.model.Turn]) =
    spark.createDataset(corpus)(
      org.apache.spark.sql.Encoders.product[graft.model.Turn])

  private lazy val corpus = TranscriptGen.corpus(seed = 42L, nConvs = 300)
  private lazy val oracle = new Oracle(corpus)
  /** positions-free twin (the rescan path). */
  private lazy val flatRoot = {
    val dir = SparkTestBase.tmpDir("graft-pos-flat")
    IndexBuilder.build(spark, turnsDs(corpus), dir,
      shards = 8, waveSize = 4, maxChunkPostings = 64)
    dir
  }
  /** positional index (the in-walk verify path). */
  private lazy val posRoot = {
    val dir = SparkTestBase.tmpDir("graft-pos-idx")
    IndexBuilder.build(spark, turnsDs(corpus), dir,
      shards = 8, waveSize = 4, maxChunkPostings = 64, positions = true)
    dir
  }

  test("manifest records the format; the twin does not") {
    assert(IndexManifest.readCached(posRoot).get.positions)
    assert(!IndexManifest.readCached(flatRoot).get.positions)
  }

  private val phrases: Seq[(String, Int)] = Seq(
    ("stopish needlemid", 10), ("stopish needlemid", 5),
    ("needlemid stopish", 10), ("stopish", 10), ("roleuser w0001", 10),
    ("w0000 w0000", 10), ("needlerare", 10), ("absentterm w0000", 10),
    ("", 10), ("w0002 w0005 w0009", 10))

  test("positional phraseTopK: bit-equal to the oracle AND to the rescan twin") {
    phrases.foreach { case (q, k) =>
      val expected = oracle.phraseTopK(q, k)
      val gotPos = SearchEngine.phraseTopK(spark, posRoot, q, k)
      val gotFlat = SearchEngine.phraseTopK(spark, flatRoot, q, k)
      assert(gotPos == expected, s"positional phrase '$q' k=$k")
      assert(gotPos == gotFlat, s"path divergence on phrase '$q' k=$k")
    }
  }

  private val nearCases: Seq[(String, Int, Int)] = Seq(
    ("stopish needlemid", 0, 10), ("stopish needlemid", 1, 10),
    ("stopish needlemid", 3, 10), ("needlemid stopish", 5, 10),
    ("roleuser w0001", 2, 10), ("w0000 w0003", 4, 10),
    ("needlerare", 0, 10), ("stopish", 2, 10), ("absentterm w0000", 3, 10),
    ("", 2, 10), ("w0002 w0005 w0009", 8, 10))

  test("positional nearTopK: bit-equal to the oracle AND to the rescan twin") {
    nearCases.foreach { case (q, slop, k) =>
      val expected = oracle.nearTopK(q, slop, k)
      val gotPos = SearchEngine.nearTopK(spark, posRoot, q, slop, k)
      val gotFlat = SearchEngine.nearTopK(spark, flatRoot, q, slop, k)
      assert(gotPos == expected, s"positional near '$q'~$slop k=$k")
      assert(gotPos == gotFlat, s"path divergence on near '$q'~$slop k=$k")
    }
  }

  // ---- predicate equivalence on random streams -----------------------

  private def occurrences(toks: Vector[String],
                          slots: Vector[String]): Array[Array[Int]] = {
    val slotOf = slots.zipWithIndex.toMap
    val builders = Array.fill(slots.size)(
      new scala.collection.mutable.ArrayBuilder.ofInt)
    toks.zipWithIndex.foreach { case (t, i) =>
      slotOf.get(t).foreach(s => builders(s) += i)
    }
    builders.map(_.result())
  }

  test("phraseMatchPositions == containsSlice on random streams (incl. repeated terms)") {
    val rng = new scala.util.Random(777)
    val vocab = Vector("aa", "bb", "cc", "dd")
    (1 to 500).foreach { _ =>
      val toks = Vector.fill(1 + rng.nextInt(25))(vocab(rng.nextInt(vocab.size)))
      val seq = Vector.fill(1 + rng.nextInt(3))(vocab(rng.nextInt(vocab.size)))
      val slots = seq.distinct.sorted
      val slotOf = slots.zipWithIndex.toMap
      val pos = occurrences(toks, slots)
      val naive = toks.containsSlice(seq)
      // the engine only evaluates the predicate on AND candidates (every
      // term present); mirror that precondition
      if (pos.forall(_.nonEmpty)) {
        val fast = SearchEngine.phraseMatchPositions(pos, seq.map(slotOf).toArray)
        assert(fast == naive, s"toks=$toks seq=$seq")
      } else assert(!naive, s"a term absent from toks cannot phrase-match: $seq")
    }
  }

  test("nearMatchPositions == naive window scan on random streams") {
    val rng = new scala.util.Random(4243)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    (1 to 500).foreach { _ =>
      val toks = Vector.fill(rng.nextInt(30))(vocab(rng.nextInt(vocab.size)))
      val nTerms = 1 + rng.nextInt(3)
      val terms = rng.shuffle(vocab).take(nTerms)
      val slop = rng.nextInt(6)
      val slots = terms.distinct.sorted
      val pos = occurrences(toks, slots)
      val naive = toks.indices.exists(i =>
        terms.forall(t => toks.slice(i, i + slop + 1).contains(t)))
      if (pos.forall(_.nonEmpty)) {
        val fast = SearchEngine.nearMatchPositions(pos, slop)
        assert(fast == naive, s"toks=$toks terms=$terms slop=$slop")
      } else assert(!naive)
    }
  }

  // ---- scoped phrase/NEAR/prefix (r6) --------------------------------

  private val scopeSets: Seq[Seq[String]] = Seq(
    Seq("conv-0000001"),                   // convs 10-19
    Seq("conv-000000"),                    // convs 0-9
    Seq("conv-0000001", "conv-0000002"),   // disjoint pair
    Seq("conv-0000001", "conv-00000010"),  // OVERLAPPING (nested) scopes
    Seq("zz-no-such"))                     // empty scope

  test("scoped phraseTopK: per-scope stats, rank-identical on both variants") {
    scopeSets.foreach { scopes =>
      Seq(("stopish needlemid", 10), ("roleuser w0001", 5)).foreach { case (q, k) =>
        val expected = oracle.phraseTopKScoped(q, k, scopes)
        val gotPos = SearchEngine.phraseTopK(spark, posRoot, q, k, scopes)
        val gotFlat = SearchEngine.phraseTopK(spark, flatRoot, q, k, scopes)
        assert(gotPos == expected, s"scoped phrase '$q' $scopes")
        assert(gotFlat == expected, s"scoped rescan phrase '$q' $scopes")
      }
    }
  }

  test("scoped nearTopK: per-scope stats, rank-identical on both variants") {
    scopeSets.foreach { scopes =>
      Seq(("stopish needlemid", 2, 10), ("w0000 w0003", 4, 5)).foreach {
        case (q, slop, k) =>
          val expected = oracle.nearTopKScoped(q, slop, k, scopes)
          val gotPos = SearchEngine.nearTopK(spark, posRoot, q, slop, k, scopes)
          val gotFlat = SearchEngine.nearTopK(spark, flatRoot, q, slop, k, scopes)
          assert(gotPos == expected, s"scoped near '$q'~$slop $scopes")
          assert(gotFlat == expected, s"scoped rescan near '$q'~$slop $scopes")
      }
    }
  }

  test("scoped prefixTopK: global expansion, per-scope dfs and stats") {
    scopeSets.foreach { scopes =>
      Seq(("needle", 10), ("w000", 10), ("role", 5)).foreach { case (pre, k) =>
        val expected = oracle.prefixTopKScoped(pre, k, scopes)
        val got = SearchEngine.prefixTopK(spark, flatRoot, pre, k, scopes)
        assert(got == expected, s"scoped prefix '$pre*' $scopes")
      }
    }
    // scoping is not a no-op: every scoped hit lives inside the scope
    val scoped = SearchEngine.prefixTopK(spark, flatRoot, "role", 50,
      Seq("conv-0000001"))
    assert(scoped.nonEmpty)
    scoped.foreach(h =>
      assert(oracle.docs(h.docId.toInt).conv_id.startsWith("conv-0000001")))
  }

  test("scoped fuzzyTopK: global expansion, per-scope dfs and stats") {
    scopeSets.foreach { scopes =>
      Seq(("needlerarx", 1, 10), ("w0003", 1, 5)).foreach { case (q, edits, k) =>
        val expected = oracle.fuzzyTopKScoped(q, edits, k, scopes)
        val got = SearchEngine.fuzzyTopK(spark, flatRoot, q, edits, k,
          scopes = scopes)
        assert(got == expected, s"scoped fuzzy '$q'~$edits $scopes")
      }
    }
  }

  test("ordered nearTopK: bit-equal to the oracle AND between positional/rescan paths") {
    Seq(("stopish needlemid", 1, 10), ("needlemid stopish", 4, 10),
        ("w0000 w0000", 3, 10), ("w0002 w0005 w0009", 8, 10)).foreach {
      case (q, slop, k) =>
        val expected = oracle.nearOrderedTopK(q, slop, k)
        val gotPos = SearchEngine.nearTopK(spark, posRoot, q, slop, k, ordered = true)
        val gotFlat = SearchEngine.nearTopK(spark, flatRoot, q, slop, k, ordered = true)
        assert(gotPos == expected, s"positional onear '$q'~$slop")
        assert(gotPos == gotFlat, s"path divergence on onear '$q'~$slop")
    }
  }

  test("scoped ordered nearTopK: per-scope stats, rank-identical on both variants") {
    scopeSets.foreach { scopes =>
      Seq(("stopish needlemid", 2, 10)).foreach { case (q, slop, k) =>
        val expected = oracle.nearOrderedTopKScoped(q, slop, k, scopes)
        val gotPos = SearchEngine.nearTopK(spark, posRoot, q, slop, k, scopes,
          ordered = true)
        val gotFlat = SearchEngine.nearTopK(spark, flatRoot, q, slop, k, scopes,
          ordered = true)
        assert(gotPos == expected, s"scoped onear '$q'~$slop $scopes")
        assert(gotFlat == expected, s"scoped rescan onear '$q'~$slop $scopes")
      }
    }
  }

  test("scoped queryNot: per-scope stats and cap, exclusion inside the scope") {
    scopeSets.foreach { scopes =>
      Seq(("stopish needlemid", "roleuser", 10), ("w0000 w0001", "w0002", 5))
        .foreach { case (q, nq, k) =>
          val expected = oracle.andNotTopKScoped(q, nq, k, scopes)
          val got = SearchEngine.queryNot(spark, flatRoot, q, nq, k, scopes)
          assert(got == expected, s"scoped NOT '$q' ∖ '$nq' $scopes")
        }
    }
  }

  test("scoped wildcardTopK: global expansion, per-scope dfs and stats") {
    scopeSets.foreach { scopes =>
      Seq(("role*", 10), ("w00?3", 5), ("*rare", 10)).foreach { case (pat, k) =>
        val expected = oracle.wildcardTopKScoped(pat, k, scopes)
        val got = SearchEngine.wildcardTopK(spark, flatRoot, pat, k, scopes)
        assert(got == expected, s"scoped wildcard '$pat' $scopes")
      }
    }
  }

  test("serving cache pins a positions-PRUNED frame by default; positional queries stay exact via the aligned fallback") {
    // fresh (query, k) pairs so the result memo cannot mask the path
    val q = "roleuser w0001"
    val e7 = oracle.phraseTopK(q, 7)
    val e9 = oracle.phraseTopK(q, 9)
    SearchEngine.enableServingCache(spark, posRoot)
    try {
      // without the needPositions fallback this would die on the missing
      // `positions` column in the pinned frame
      assert(SearchEngine.phraseTopK(spark, posRoot, q, 7) == e7,
        "phrase against the default (pruned) serving cache")
      SearchEngine.enableServingCache(spark, posRoot, positions = true)
      assert(SearchEngine.phraseTopK(spark, posRoot, q, 9) == e9,
        "phrase against the positions-pinned serving cache")
    } finally SearchEngine.disableServingCache(posRoot)
  }

  // ---- maintenance preserves the format -------------------------------

  test("maintenance on a positional index: format preserved through delete + append, paths stay identical") {
    val mCorpus = TranscriptGen.corpus(seed = 9L, nConvs = 120)
    val posDir = SparkTestBase.tmpDir("graft-pos-maint-p")
    val flatDir = SparkTestBase.tmpDir("graft-pos-maint-f")
    IndexBuilder.build(spark, turnsDs(mCorpus), posDir,
      shards = 4, waveSize = 4, maxChunkPostings = 64, positions = true)
    IndexBuilder.build(spark, turnsDs(mCorpus), flatDir,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    // same ops on both twins
    val victim = mCorpus.head.conv_id
    val fresh = TranscriptGen.corpus(seed = 31L, nConvs = 3).map(t =>
      t.copy(conv_id = "zzz-" + t.conv_id)) // keys sort after every existing
    Seq(posDir, flatDir).foreach { d =>
      IndexMaintenance.deleteConversations(spark, d, Set(victim))
      IndexMaintenance.appendConversationsDs(spark, d, turnsDs(fresh))
    }
    val mPos = IndexManifest.readCached(posDir).get
    assert(mPos.positions, "maintenance must keep the positional format")
    assert(!IndexManifest.readCached(flatDir).get.positions)
    // phrase/NEAR still answer through the positional walk — including
    // over the APPENDED generation (its postings must carry positions) —
    // and stay rank-identical to the rescan twin
    Seq("stopish needlemid", "zzz needles").foreach { q =>
      val a = SearchEngine.phraseTopK(spark, posDir, q, 20)
      val b = SearchEngine.phraseTopK(spark, flatDir, q, 20)
      assert(a == b, s"post-maintenance phrase '$q'")
    }
    val na = SearchEngine.nearTopK(spark, posDir, "stopish needlemid", 2, 20)
    val nb = SearchEngine.nearTopK(spark, flatDir, "stopish needlemid", 2, 20)
    assert(na == nb && na.nonEmpty)
    // the appended docs are genuinely searchable positionally: phrase a
    // planted pair from the appended corpus
    val appended = SearchEngine.phraseTopK(spark, posDir, "stopish needlemid", 1000)
    assert(appended == SearchEngine.phraseTopK(spark, flatDir, "stopish needlemid", 1000))
  }
}
