package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.analysis.Analyzer
import graft.fixtures.TranscriptGen
import graft.index.IndexBuilder
import graft.oracle.Oracle

/** NEAR/slop proximity top-k and prefix-term top-k:
  *
  *  - nearTopK rank-identity (bit-equal scores) against the Oracle's
  *    INDEPENDENT naive every-window scan (the engine uses a two-pointer
  *    minimal-window walk — two different algorithms for one contract);
  *  - the NEAR laws: monotone in slop, subset-of-AND, phrase ⊆ NEAR(1),
  *    slop-large == AND-without-cap, no stop cap, unknown term ⇒ empty;
  *  - prefixTopK rank-identity against the Oracle's brute-force
  *    expansion, fold-not-stem normalization (incl. a stemmed index),
  *    and the TooManyClauses refusal.
  */
class ProximitySpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private lazy val corpus = TranscriptGen.corpus(seed = 42L, nConvs = 300)
  private lazy val oracle = new Oracle(corpus)
  private lazy val root = {
    val dir = SparkTestBase.tmpDir("graft-proximity")
    IndexBuilder.build(spark, spark.createDataset(corpus)(
      org.apache.spark.sql.Encoders.product[graft.model.Turn]), dir,
      shards = 8, waveSize = 4, maxChunkPostings = 64)
    dir
  }

  private val nearCases: Seq[(String, Int, Int)] = Seq(
    ("stopish needlemid", 0, 10),  // slop 0 over 2 terms: impossible
    ("stopish needlemid", 1, 10),  // adjacency-equivalent window
    ("stopish needlemid", 3, 10),
    ("needlemid stopish", 5, 10),  // order must not matter
    ("roleuser w0001", 2, 10),     // hot + common
    ("w0000 w0003", 4, 10),
    ("needlerare", 0, 10),         // single term: slop 0 still matches
    ("stopish", 2, 10),            // >90%-df single term — NO stop cap
    ("absentterm w0000", 3, 10),   // unknown term ⇒ empty, not dropped
    ("", 2, 10),                   // blank
    ("w0002 w0005 w0009", 8, 10)   // 3 terms: window must contain ALL
  )

  test("engine nearTopK: rank-identical (bit-equal scores) to the naive every-window oracle") {
    nearCases.foreach { case (q, slop, k) =>
      val expected = oracle.nearTopK(q, slop, k)
      val got = SearchEngine.nearTopK(spark, root, q, slop, k)
      assert(got == expected, s"near '$q'~$slop k=$k: got $got expected $expected")
    }
  }

  test("NEAR laws: monotone in slop, subset of the uncapped AND set, phrase ⊆ NEAR(1)") {
    val all = 100000
    val andHits = oracle.topK("stopish needlemid", "AND", all,
      applyStopCap = false).map(h => h.docId -> h.score).toMap
    var prev = Set.empty[Long]
    Seq(0, 1, 2, 4, 16, 4096).foreach { slop =>
      val hits = SearchEngine.nearTopK(spark, root, "stopish needlemid", slop, all)
      hits.foreach { h =>
        assert(andHits.get(h.docId).contains(h.score),
          s"NEAR hit ${h.docId} must be an AND hit with the same score")
      }
      val ids = hits.map(_.docId).toSet
      assert(prev.subsetOf(ids), s"slop $slop must not lose smaller-slop hits")
      prev = ids
    }
    // a window wider than any doc degenerates to AND-without-cap
    assert(prev == andHits.keySet, "slop >= max dl must equal the AND set")
    // every phrase hit (consecutive pair) is a NEAR slop=1 hit
    val phrase = SearchEngine.phraseTopK(spark, root, "stopish needlemid", all)
    val near1 = SearchEngine.nearTopK(spark, root, "stopish needlemid", 1, all)
    assert(phrase.toSet.subsetOf(near1.toSet))
  }

  test("NEAR slop 0 of two distinct terms is empty; of one term matches that term") {
    assert(SearchEngine.nearTopK(spark, root, "stopish needlemid", 0, 10).isEmpty)
    val one = SearchEngine.nearTopK(spark, root, "needlerare", 0, 10)
    assert(one == oracle.nearTopK("needlerare", 0, 10) && one.nonEmpty)
  }

  private val prefixCases: Seq[(String, Int)] = Seq(
    ("needle", 10),   // needlerare + needlemid: rare + mid expansion
    ("w000", 10),     // w0000..w0009: 10-term expansion
    ("role", 10),     // roleuser/roleassistant/roletool — every doc
    ("stopish", 10),  // exact-term prefix; >90% df — NO stop cap
    ("NeEdLe", 10),   // case-folded pattern
    ("zzznope", 10),  // no matching dictionary term ⇒ empty
    ("", 10),         // blank pattern ⇒ empty
    ("w00", 100)      // 100-term expansion, bigger k
  )

  test("engine prefixTopK: rank-identical (bit-equal scores) to the brute-force expansion oracle") {
    prefixCases.foreach { case (pre, k) =>
      val expected = oracle.prefixTopK(pre, k)
      val got = SearchEngine.prefixTopK(spark, root, pre, k)
      assert(got == expected, s"prefix '$pre*' k=$k: got $got expected $expected")
    }
  }

  test("prefix TooManyClauses: an unbounded pattern refuses loudly instead of truncating") {
    val e = intercept[IllegalArgumentException] {
      SearchEngine.prefixTopK(spark, root, "w", 10)
    }
    assert(e.getMessage.contains("expands to") &&
      e.getMessage.contains(SearchEngine.MaxPrefixExpansions.toString))
  }

  // ---- boolean MUST_NOT (r6: Lucene BooleanQuery) -----------------------

  private val notCases: Seq[(String, String, Int)] = Seq(
    ("stopish needlemid", "roleuser", 10),   // excludes a hot role term
    ("w0000 w0001", "w0002", 10),
    ("stopish needlemid", "", 10),           // empty NOT = plain AND
    ("stopish needlemid", "absentterm", 10), // unknown negative: no-op
    ("stopish needlemid", "needlemid", 10),  // required AND prohibited = ∅
    // overlap on a positive that planning DROPS (r6 review: a pre-plan
    // shortcut returned ∅ here, diverging from filtered-AND semantics)
    ("needlemid absentterm", "absentterm", 10), // dropped as unknown
    ("stopish needlemid", "stopish", 10),       // dropped by the stop cap
    ("w0000", "stopish", 10),                // negative ABOVE the cap still excludes
    ("", "w0000", 10))                       // blank positives = empty

  test("engine queryNot: rank-identical to the filtered-AND oracle") {
    notCases.foreach { case (q, nq, k) =>
      val expected = oracle.andNotTopK(q, nq, k)
      val got = SearchEngine.queryNot(spark, root, q, nq, k)
      assert(got == expected,
        s"NOT '$q' ∖ '$nq' k=$k: got $got expected $expected")
    }
  }

  test("NOT laws: hits = AND minus excluded with scores untouched; empty NOT = AND") {
    val all = 100000
    val andHits = SearchEngine.query(spark, root, "stopish needlemid", "AND", all)
    val notHits = SearchEngine.queryNot(spark, root, "stopish needlemid",
      "roleuser", all)
    val andMap = andHits.map(h => h.docId -> h.score).toMap
    notHits.foreach(h => assert(andMap.get(h.docId).contains(h.score),
      s"NOT hit ${h.docId} must be an AND hit with the SAME score"))
    val notIds = notHits.map(_.docId).toSet
    val excluded = andHits.map(_.docId).filterNot(notIds)
    assert(notHits.nonEmpty && excluded.nonEmpty, "the exclusion has teeth")
    excluded.foreach(d => assert(
      Analyzer.tokensFor(Analyzer.Version, oracle.text(d)).contains("roleuser"),
      s"excluded doc $d must actually contain the prohibited term"))
    notHits.foreach(h => assert(
      !Analyzer.tokensFor(Analyzer.Version, oracle.text(h.docId)).contains("roleuser"),
      s"NOT hit ${h.docId} must not contain the prohibited term"))
    assert(SearchEngine.queryNot(spark, root, "stopish needlemid", "", all) == andHits,
      "an empty MUST_NOT clause IS the AND query")
  }

  // ---- boolean SHOULD / minimum_should_match (r7) -----------------------

  private val shouldCases: Seq[(String, Int, Int)] = Seq(
    ("needlemid w0000 w0001", 1, 10),
    ("needlemid w0000 w0001", 2, 10),
    ("needlemid w0000 w0001", 3, 10),
    ("needlerare needlemid w0002 w0003", 2, 10),
    ("needlerare needlemid w0002 w0003", 3, 8),
    ("w0000 w0000 w0001", 2, 10),      // duplicates collapse: 2 distinct clauses
    ("absentterm w0000 w0001", 2, 10), // unknown clause never matches but COUNTS
    ("absentterm w0000 w0001", 3, 10), // → unsatisfiable: empty
    ("stopish w0000 w0001", 3, 10),    // stop-capped clause counts too → empty
    ("stopish w0000 w0001", 2, 10),
    ("needlemid", 1, 10),
    ("", 2, 10))                       // blank query

  test("engine queryShould: rank-identical to the count-qualified brute force") {
    shouldCases.foreach { case (q, mm, k) =>
      val expected = oracle.shouldTopK(q, mm, k)
      val got = SearchEngine.queryShould(spark, root, q, mm, k)
      assert(got == expected,
        s"SHOULD '$q'>=$mm k=$k: got $got expected $expected")
    }
  }

  test("SHOULD laws: minMatch=1 == OR, minMatch=n == AND, between strictly between") {
    val all = 100000
    val q = "needlemid w0000 w0001"
    assert(SearchEngine.queryShould(spark, root, q, 1, all)
      == SearchEngine.query(spark, root, q, "OR", all),
      "minMatch=1 must be the OR query, scores bit-equal")
    assert(SearchEngine.queryShould(spark, root, q, 3, all)
      == SearchEngine.query(spark, root, q, "AND", all),
      "minMatch=n (all terms surviving) must be the AND query")
    assert(SearchEngine.queryShould(spark, root, q, 4, all).isEmpty,
      "minMatch > #terms is unsatisfiable")
    intercept[IllegalArgumentException] {
      SearchEngine.queryShould(spark, root, q, 0, all)
    }
    val mid = SearchEngine.queryShould(spark, root, q, 2, all)
    val orH = SearchEngine.query(spark, root, q, "OR", all)
    val andH = SearchEngine.query(spark, root, q, "AND", all)
    assert(andH.map(_.docId).toSet.subsetOf(mid.map(_.docId).toSet))
    assert(mid.map(_.docId).toSet.subsetOf(orH.map(_.docId).toSet))
    assert(andH.size < mid.size && mid.size < orH.size,
      s"2-of-3 must be strictly between AND (${andH.size}) and OR (${orH.size}), got ${mid.size}")
    // a SHOULD hit scores exactly like its OR hit (present-term BM25 sum)
    val orMap = orH.map(h => h.docId -> h.score).toMap
    mid.foreach(h => assert(orMap.get(h.docId).contains(h.score),
      s"SHOULD hit ${h.docId} must carry its OR score"))
    // every 2-of-3 hit matches >= 2 distinct query terms on the raw stream
    val qTerms = Set("needlemid", "w0000", "w0001")
    mid.foreach { h =>
      val matched = Analyzer.tokensFor(Analyzer.Version, oracle.text(h.docId))
        .toSet.intersect(qTerms).size
      assert(matched >= 2, s"hit ${h.docId} matches only $matched terms")
    }
  }

  test("scoped queryShould: per-scope stats + best-instance union == scoped oracle") {
    Seq(Seq("conv-0000001"), Seq("conv-000000", "conv-0000001"),
        Seq("conv-0000001", "conv-00000010"), Seq("zz-no-such")).foreach { scopes =>
      Seq(("needlemid w0000 w0001", 2), ("needlerare needlemid w0002", 2),
          ("w0000 w0001", 1)).foreach { case (q, mm) =>
        val expected = oracle.shouldTopKScoped(q, mm, 10, scopes)
        val got = SearchEngine.queryShould(spark, root, q, mm, 10, scopes)
        assert(got == expected, s"scoped SHOULD '$q'>=$mm $scopes")
      }
    }
  }

  // ---- ordered NEAR (r6: Lucene SpanNearQuery inOrder) ------------------

  private def isSubseq(needle: Vector[String], hay: Vector[String]): Boolean = {
    var i = 0
    hay.foreach(t => if (i < needle.length && needle(i) == t) i += 1)
    i == needle.length
  }

  private val orderedCases: Seq[(String, Int, Int)] = Seq(
    ("stopish needlemid", 1, 10),  // the planted adjacent pair, in order
    ("stopish needlemid", 3, 10),
    ("needlemid stopish", 3, 10),  // reverse direction
    ("roleuser w0001", 4, 10),
    ("w0000 w0000", 3, 10),        // duplicate token: needs TWO positions
    ("needlerare", 0, 10),         // single term
    ("absentterm w0000", 3, 10),   // unknown term ⇒ empty
    ("", 2, 10),                   // blank
    ("w0002 w0005 w0009", 8, 10))  // arity 3, ordered

  test("engine ordered nearTopK: rank-identical to the subsequence-in-window oracle") {
    orderedCases.foreach { case (q, slop, k) =>
      val expected = oracle.nearOrderedTopK(q, slop, k)
      val got = SearchEngine.nearTopK(spark, root, q, slop, k, ordered = true)
      assert(got == expected, s"onear '$q'~$slop k=$k: got $got expected $expected")
    }
  }

  test("ordered NEAR laws: ordered ⊆ unordered, phrase ⊆ ordered(n−1), direction matters") {
    val all = 100000
    Seq(1, 2, 4).foreach { slop =>
      val ord = SearchEngine.nearTopK(spark, root, "stopish needlemid", slop,
        all, ordered = true).toSet
      val un = SearchEngine.nearTopK(spark, root, "stopish needlemid", slop, all).toSet
      assert(ord.subsetOf(un), s"ordered must be a subset of unordered at slop $slop")
    }
    val phrase = SearchEngine.phraseTopK(spark, root, "stopish needlemid", all).toSet
    val ord1 = SearchEngine.nearTopK(spark, root, "stopish needlemid", 1, all,
      ordered = true).toSet
    assert(phrase.subsetOf(ord1), "a 2-token phrase hit is an ordered-NEAR(1) hit")
    val fwd = SearchEngine.nearTopK(spark, root, "stopish needlemid", 1, all,
      ordered = true).map(_.docId).toSet
    val rev = SearchEngine.nearTopK(spark, root, "needlemid stopish", 1, all,
      ordered = true).map(_.docId).toSet
    assert(fwd.nonEmpty && fwd != rev,
      "ordered NEAR must be direction-sensitive on this corpus")
  }

  test("orderedNearMatchPositions == subsequence-in-window scan on random streams") {
    val rng = new scala.util.Random(5151)
    val vocab = Vector("aa", "bb", "cc", "dd")
    (1 to 500).foreach { _ =>
      val toks = Vector.fill(rng.nextInt(28))(vocab(rng.nextInt(vocab.size)))
      val seq = Vector.fill(1 + rng.nextInt(3))(vocab(rng.nextInt(vocab.size)))
      val slop = rng.nextInt(6)
      val slots = seq.distinct.sorted
      val slotOf = slots.zipWithIndex.toMap
      val pos = SearchEngine.occurrencesBySlot(toks, slotOf)
      val naive = toks.indices.exists(i => isSubseq(seq, toks.slice(i, i + slop + 1)))
      val fast = SearchEngine.orderedNearMatchPositions(pos, seq.map(slotOf).toArray, slop)
      assert(fast == naive, s"toks=$toks seq=$seq slop=$slop naive=$naive fast=$fast")
    }
  }

  // ---- wildcard search (r6: Lucene WildcardQuery) ----------------------

  private val wildcardCases: Seq[(String, Int)] = Seq(
    ("needle*", 10),  // trailing glob: rare + mid expansion
    ("*rare", 10),    // LEADING wildcard: no prefix cut, full-dict scan
    ("w00*", 10),     // 100-term expansion under the cap
    ("w00?3", 10),    // single-char metachar: w0003, w0013, … w0093
    ("w?003", 10),    // ? in the middle, literal prefix 'w' only
    ("role*r", 10),   // glob with a literal tail: roleuser
    ("RoLe*R", 10),   // case-folded pattern
    ("stopish", 10),  // no metachar = exact term lookup; NO stop cap
    ("zzz*", 10),     // no matching dictionary term ⇒ empty
    ("", 10))         // blank ⇒ empty

  test("engine wildcardTopK: rank-identical (bit-equal scores) to the brute-force glob oracle") {
    wildcardCases.foreach { case (pat, k) =>
      val expected = oracle.wildcardTopK(pat, k)
      val got = SearchEngine.wildcardTopK(spark, root, pat, k)
      assert(got == expected, s"wildcard '$pat' k=$k: got $got expected $expected")
    }
    // the leading-wildcard case has real hits (the no-prefix-cut path)
    assert(oracle.wildcardTopK("*rare", 10).nonEmpty)
  }

  test("wildcard TooManyClauses: 'w*' and the bare '*' refuse loudly instead of truncating") {
    Seq("w*", "*").foreach { pat =>
      val e = intercept[IllegalArgumentException] {
        SearchEngine.wildcardTopK(spark, root, pat, 10)
      }
      assert(e.getMessage.contains("expands to") &&
        e.getMessage.contains(SearchEngine.MaxPrefixExpansions.toString), pat)
    }
  }

  // ---- fuzzy-term search (r6: Lucene FuzzyQuery) -----------------------

  private val fuzzyCases: Seq[(String, Int, Int, Int)] = Seq(
    // (pattern, maxEdits, prefixLength, k)
    ("needlerare", 0, 0, 10),   // maxEdits 0 = exact term lookup
    ("needlerarx", 1, 0, 10),   // one substitution off a rare term
    ("needlemd", 1, 0, 10),     // one deletion off needlemid
    ("stopishh", 1, 0, 10),     // insertion; >90%-df term — NO stop cap
    ("w0003", 1, 0, 10),        // dense digit neighborhood, many matches
    ("w0003", 1, 1, 10),        // same with prefixLength pinning 'w'
    ("roleuse", 2, 4, 10),      // 2 edits under an exact 'role' prefix
    ("NeEdLeRaRx", 1, 0, 10),   // case-folded pattern
    ("zzzzzzzzzz", 2, 0, 10),   // nothing within 2 edits ⇒ empty
    ("", 2, 0, 10))             // blank ⇒ empty

  test("engine fuzzyTopK: rank-identical (bit-equal scores) to the brute-force DP oracle") {
    fuzzyCases.foreach { case (q, edits, preLen, k) =>
      val expected = oracle.fuzzyTopK(q, edits, k, preLen)
      val got = SearchEngine.fuzzyTopK(spark, root, q, edits, k, preLen)
      assert(got == expected, s"fuzzy '$q'~$edits pre=$preLen k=$k: " +
        s"got $got expected $expected")
    }
    // the dense case genuinely expands (>1 term) — the test has teeth
    assert(oracle.fuzzyTopK("w0003", 1, 1000).map(_.docId).toSet !=
      oracle.fuzzyTopK("w0003", 0, 1000).map(_.docId).toSet)
  }

  test("fuzzy TooManyClauses + the Lucene maxEdits limit refuse loudly") {
    val e = intercept[IllegalArgumentException] {
      SearchEngine.fuzzyTopK(spark, root, "w0000", 2, 10)
    }
    assert(e.getMessage.contains("expands to") &&
      e.getMessage.contains(SearchEngine.MaxPrefixExpansions.toString))
    // prefixLength is the documented escape hatch for exactly this case:
    // pinning 'w000' exactly cuts the same query to <= 128 expansions
    assert(SearchEngine.fuzzyTopK(spark, root, "w0000", 2, 10, prefixLength = 4)
      == oracle.fuzzyTopK("w0000", 2, 10, prefixLength = 4))
    val e2 = intercept[IllegalArgumentException] {
      SearchEngine.fuzzyTopK(spark, root, "w0000", 3, 10)
    }
    assert(e2.getMessage.contains("maxEdits"))
  }

  test("expansion parity across the dictionary cap: resident == pushdown probe == Oracle, df=0 rows count") {
    val ts = new java.sql.Timestamp(1700000000000L)
    val cyr = Seq("Ёлка ёжик ежевика елочный", "ёлочка зелёная ежик ель",
      "елка Ёж ёжики елочка зеленая").zipWithIndex.map { case (t, i) =>
      graft.model.Turn("conv-cyr", i, "user", t, "", ts) }
    val base = TranscriptGen.corpus(seed = 43L, nConvs = 100) ++ cyr
    val pOracle = new Oracle(base)
    val dir = SparkTestBase.tmpDir("graft-proximity-cap")
    IndexBuilder.build(spark, spark.createDataset(base)(
      org.apache.spark.sql.Encoders.product[graft.model.Turn]), dir,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    // dictionary rows at df = 0: no maintenance op writes one (delete and
    // replace re-aggregate the dictionary, and deep fsck reports such a
    // row), so the fixture plants them to pin how expansion treats them
    // on both sides of the cap
    val m = graft.index.IndexManifest.readCached(dir).get
    val statsDir = graft.index.IndexSnapshot.termStatsPath(dir, m)
    val rows = spark.read.parquet(statsDir).collect()
    val zeros = Set("zzgoneterm", "w0003q", "елкагон", "needlemix")
    spark.createDataFrame(java.util.Arrays.asList(
        rows ++ zeros.map(t => org.apache.spark.sql.Row(t, 0L, 0, 0L)): _*), rows.head.schema)
      .coalesce(1).write.mode("overwrite").parquet(statsDir)
    assert(IndexBuilder.loadTermStats(spark, dir).collect().filter(_.df == 0).map(_.term).toSet == zeros)

    val rnd = new scala.util.Random(4343L)
    val vocab = (pOracle.index.keys ++ zeros).toVector.sorted
    def pick(): String = vocab(rnd.nextInt(vocab.size))
    def mutate(t: String, edits: Int): String = (0 until edits).foldLeft(t) { (s, _) =>
      val i = rnd.nextInt(s.length + 1)
      val c = "abeклё0123w".charAt(rnd.nextInt(11))
      rnd.nextInt(3) match {
        case 0 => s.take(i) + c + s.drop(i)                        // insert
        case 1 if s.nonEmpty => s.take(i) + s.drop(i + 1)           // delete
        case _ => s.take(i) + c + s.drop(i + 1)                     // substitute
      }
    }
    val prefixes = Seq("", "w", "w00", "needle", "zzgone", "ёл", "Ёж", "ел", "зел") ++
      Seq.fill(8)(pick().take(1 + rnd.nextInt(4)))
    val wildcards = Seq("*", "*rare", "*gone*", "?", "??", "?????", "??????????",
      "*ёж*", "ел?а", "w00?3", "?*?", "*1", "ё*") ++
      Seq.fill(8) {
        val t = pick()
        val i = rnd.nextInt(t.length)
        t.take(i) + (if (rnd.nextBoolean()) "*" else "?") + t.drop(i + 1)
      }
    val fuzzies = Seq(("ёлка", 1, 0), ("ежевыка", 2, 2), ("zzgoneterm", 1, 0),
      ("needlemid", 2, 3), ("w0003q", 1, 2)) ++
      Seq.fill(16) {
        val edits = rnd.nextInt(3)
        (mutate(pick(), rnd.nextInt(3)), edits, rnd.nextInt(4))
      }
    val cases: Seq[(Query.Expand, () => Vector[graft.model.SearchHit], () => Vector[graft.model.SearchHit])] =
      prefixes.map(p => (Query.Expand(Query.Prefix, Analyzer.foldPrefix(p)),
        () => SearchEngine.prefixTopK(spark, dir, p, 10), () => pOracle.prefixTopK(p, 10))) ++
      wildcards.map(p => (Query.Expand(Query.Wildcard, Analyzer.foldWildcard(p)),
        () => SearchEngine.wildcardTopK(spark, dir, p, 10), () => pOracle.wildcardTopK(p, 10))) ++
      fuzzies.map { case (q, e, pl) => (Query.Expand(Query.Fuzzy(e, pl), Analyzer.foldPrefix(q)),
        () => SearchEngine.fuzzyTopK(spark, dir, q, e, 10, pl),
        () => pOracle.fuzzyTopK(q, e, 10, pl)) }

    def bothSides[A](f: => A): (scala.util.Try[A], scala.util.Try[A]) = {
      val resident = scala.util.Try(f)
      graft.index.IndexSnapshot.dictionaryCapOverride = Some(0L) // force the probe
      try (resident, scala.util.Try(f))
      finally graft.index.IndexSnapshot.dictionaryCapOverride = None
    }
    var answered, refused, withZeros = 0
    cases.foreach { case (e, engine, oracleRun) =>
      val label = s"${e.kind} '${e.pattern}'"
      val (tMem, tProbe) = bothSides(SearchEngine.expansion(spark, dir, m, e).map(_.term).toSet)
      val (hMem, hProbe) = bothSides(engine())
      assert(tMem.map(Right(_)).recover { case x => Left(x.getMessage) } ==
        tProbe.map(Right(_)).recover { case x => Left(x.getMessage) }, s"term sets: $label")
      assert(hMem.map(Right(_)).recover { case x => Left(x.getMessage) } ==
        hProbe.map(Right(_)).recover { case x => Left(x.getMessage) }, s"answers: $label")
      if (tMem.toOption.exists(_.exists(zeros))) withZeros += 1
      if (hMem.isSuccess) {
        answered += 1
        assert(hMem.get == oracleRun(), s"oracle parity: $label")
      } else {
        refused += 1
        assert(hMem.failed.get.getMessage.contains("expands to"), label)
      }
    }
    assert(answered >= 20 && refused >= 3 && withZeros >= 3,
      s"the cases must cover answers, refusals and df=0 matches: $answered/$refused/$withZeros")
  }

  test("stemmed index: the prefix pattern is folded but NOT stemmed (Lucene multi-term parity)") {
    val stemCorpus = TranscriptGen.corpus(seed = 7L, nConvs = 120)
    val stemOracle = new Oracle(stemCorpus, Analyzer.StemVersion)
    val dir = SparkTestBase.tmpDir("graft-proximity-stem")
    IndexBuilder.build(spark, spark.createDataset(stemCorpus)(
      org.apache.spark.sql.Encoders.product[graft.model.Turn]), dir,
      shards = 4, waveSize = 4, maxChunkPostings = 64, stem = true)
    Seq("needle", "role", "w001").foreach { pre =>
      val got = SearchEngine.prefixTopK(spark, dir, pre, 10)
      assert(got == stemOracle.prefixTopK(pre, 10), s"stem prefix '$pre*'")
    }
    // fuzzy and wildcard follow the same contract: the pattern is folded,
    // never stemmed — it matches against the STEMMED dictionary as-is
    Seq(("needlerarx", 1), ("stopishh", 1), ("w0003", 1)).foreach {
      case (q, edits) =>
        val got = SearchEngine.fuzzyTopK(spark, dir, q, edits, 10)
        assert(got == stemOracle.fuzzyTopK(q, edits, 10), s"stem fuzzy '$q'~$edits")
    }
    Seq("needle*", "*rare", "w00?3").foreach { pat =>
      val got = SearchEngine.wildcardTopK(spark, dir, pat, 10)
      assert(got == stemOracle.wildcardTopK(pat, 10), s"stem wildcard '$pat'")
    }
    // NEAR on the stemmed index follows the stemmed analyzer end-to-end
    val gotNear = SearchEngine.nearTopK(spark, dir, "stopish needlemid", 2, 10)
    assert(gotNear == stemOracle.nearTopK("stopish needlemid", 2, 10))
  }

  test("time travel: phrase/NEAR/prefix pinned to an old snapshot are unaffected by maintenance") {
    val ttCorpus = TranscriptGen.corpus(seed = 11L, nConvs = 150)
    val ttOracle = new Oracle(ttCorpus)
    val dir = SparkTestBase.tmpDir("graft-proximity-tt")
    IndexBuilder.build(spark, spark.createDataset(ttCorpus)(
      org.apache.spark.sql.Encoders.product[graft.model.Turn]), dir,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    val m0 = graft.index.IndexManifest.readCached(dir).get
    val ph0 = SearchEngine.phraseTopK(spark, dir, "stopish needlemid", 10, pinned = Some(m0))
    val nr0 = SearchEngine.nearTopK(spark, dir, "stopish needlemid", 2, 10, pinned = Some(m0))
    val pf0 = SearchEngine.prefixTopK(spark, dir, "w000", 10, pinned = Some(m0))
    val fz0 = SearchEngine.fuzzyTopK(spark, dir, "needlemd", 1, 10, pinned = Some(m0))
    val wc0 = SearchEngine.wildcardTopK(spark, dir, "*rare", 10, pinned = Some(m0))
    val on0 = SearchEngine.nearTopK(spark, dir, "stopish needlemid", 1, 10,
      pinned = Some(m0), ordered = true)
    assert(nr0.nonEmpty && pf0.nonEmpty && fz0.nonEmpty && wc0.nonEmpty && on0.nonEmpty)
    // delete the conversation hosting the top NEAR hit: the current
    // snapshot's results must change, the pinned-old ones must not
    val victim = ttOracle.docs(nr0.head.docId.toInt).conv_id
    graft.index.IndexMaintenance.deleteConversations(spark, dir, Set(victim))
    assert(SearchEngine.phraseTopK(spark, dir, "stopish needlemid", 10, pinned = Some(m0)) == ph0)
    assert(SearchEngine.nearTopK(spark, dir, "stopish needlemid", 2, 10, pinned = Some(m0)) == nr0)
    assert(SearchEngine.prefixTopK(spark, dir, "w000", 10, pinned = Some(m0)) == pf0)
    assert(SearchEngine.fuzzyTopK(spark, dir, "needlemd", 1, 10, pinned = Some(m0)) == fz0)
    assert(SearchEngine.wildcardTopK(spark, dir, "*rare", 10, pinned = Some(m0)) == wc0)
    assert(SearchEngine.nearTopK(spark, dir, "stopish needlemid", 1, 10,
      pinned = Some(m0), ordered = true) == on0)
    val nrNow = SearchEngine.nearTopK(spark, dir, "stopish needlemid", 2, 10)
    assert(nrNow != nr0, "current snapshot must reflect the delete")
    assert(!nrNow.exists(h => m0.nDocs > h.docId &&
      ttOracle.docs(h.docId.toInt).conv_id == victim),
      "deleted conversation must not surface on the current snapshot")
  }

  test("nearMatch two-pointer agrees with the naive window scan on random streams") {
    val rng = new scala.util.Random(4242)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    (1 to 500).foreach { _ =>
      val toks = Vector.fill(rng.nextInt(30))(vocab(rng.nextInt(vocab.size)))
      val nTerms = 1 + rng.nextInt(3)
      val terms = rng.shuffle(vocab).take(nTerms)
      val idx = terms.zipWithIndex.toMap
      val slop = rng.nextInt(6)
      val naive = toks.indices.exists(i =>
        terms.forall(t => toks.slice(i, i + slop + 1).contains(t)))
      val fast = SearchEngine.nearMatch(toks, idx, nTerms, slop)
      assert(fast == naive,
        s"mismatch toks=$toks terms=$terms slop=$slop naive=$naive fast=$fast")
    }
  }
}
