package graft.engine

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.analysis.Analyzer
import graft.fixtures.TranscriptGen
import graft.index.{IndexBuilder, IndexManifest}
import graft.model.SearchHit
import graft.oracle.Oracle
import graft.query.SearchEngine

/** End-to-end rank-identity gate (SURVEY.md §5.2.3, FIXTURES.md §3):
  * the Spark engine must return the oracle's exact top-k docIDs and
  * bit-equal BM25 scores on the reference query-set categories, plus the
  * per-turn text byte round-trip invariant and the checkpoint/resume
  * contract. */
class EngineParitySpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // small scale (FIXTURES.md §2): a few hundred convs, ~1.3k turns
  private lazy val corpus = TranscriptGen.corpus(seed = 42L, nConvs = 300)
  private lazy val oracle = new Oracle(corpus)
  private lazy val root = {
    val dir = SparkTestBase.tmpDir("graft-index")
    IndexBuilder.build(spark, spark.createDataset(corpus), dir,
      shards = 8, waveSize = 4, maxChunkPostings = 64)
    dir
  }

  /** FIXTURES.md §3 query categories. */
  private val querySet: Seq[(String, String, Int)] = Seq(
    ("needlerare", "AND", 10),                  // 1. single rare term
    ("needlemid w0000", "AND", 10),             // 2. rare+common AND
    ("needlerare needlemid w0003", "AND", 10),  // 3. likely-empty AND
    ("stopish needlemid", "AND", 10),           // 4. stop-capped term dropped
    ("stopish", "AND", 10),                     // 5. all-stop query → empty
    ("needlemid w0000", "OR", 10),              // 6. OR mode
    ("roleuser w0001", "OR", 25),               // 7/9. hot-term + tie-heavy
    ("roleassistant roletool", "AND", 50),      // 9. hot-hot intersection
    ("w0000", "OR", 100),                       // common single term, big k
    ("absentterm w0000", "AND", 10),            // unknown term dropped (ref parity)
    ("absentterm w0000", "OR", 10),             // unknown term OR → matches
    ("absentterm klaatu", "AND", 10),           // ALL terms unknown → empty
    ("ведущий пример", "AND", 10),              // cyrillic (utf8 spice)
  )

  test("fixture sanity: planted term dfs (needlerare=3, stopish>90%)") {
    assert(oracle.df("needlerare") == 3L)
    assert(oracle.df("stopish") > 0.9 * oracle.nDocs)
    val mid = oracle.df("needlemid").toDouble / oracle.nDocs
    assert(mid > 0.005 && mid < 0.06, s"needlemid df ratio $mid")
    assert(oracle.df("roleuser") > oracle.nDocs / 5)
  }

  test("compressed WAND path: rank-identical to oracle on the query set") {
    querySet.foreach { case (q, mode, k) =>
      val expected = oracle.topK(q, mode, k)
      val got = SearchEngine.query(spark, root, q, mode, k)
      assert(got == expected, s"query '$q' [$mode] k=$k")
    }
  }

  test("stop-term cap semantics: stopish dropped but partners still match") {
    val hits = SearchEngine.query(spark, root, "stopish needlemid", "AND", 10)
    assert(hits.nonEmpty)
    assert(hits == oracle.topK("needlemid", "AND", 10))
  }

  test("per-turn text byte round-trip under stable ordering (north-rule invariant)") {
    val docs = IndexBuilder.loadDocs(spark, root)
      .select($"docId", $"text", $"conv_id", $"turn_idx")
      .collect()
    assert(docs.length == oracle.nDocs)
    docs.foreach { r =>
      val d = r.getLong(0)
      val expected = oracle.text(d)
      assert(r.getString(1) == expected, s"text mismatch at docId $d")
      // byte-equal, not just string-equal
      assert(java.util.Arrays.equals(
        r.getString(1).getBytes("UTF-8"), expected.getBytes("UTF-8")))
      assert(oracle.docs(d.toInt).conv_id == r.getString(2))
      assert(oracle.docs(d.toInt).turn_idx == r.getInt(3))
    }
  }

  test("docId = dense rank of (conv_id, turn_idx): contiguous 0..N-1") {
    val ids = IndexBuilder.loadDocs(spark, root).select($"docId")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until oracle.nDocs).toSeq)
  }

  test("df/tf agree with brute force (A1/A2 parity)") {
    val ts = IndexBuilder.loadTermStats(spark, root)
      .collect().map(t => t.term -> t.df).toMap
    assert(ts("needlerare") == 3L)
    assert(ts("stopish") == oracle.df("stopish"))
    assert(ts("w0000") == oracle.df("w0000"))
    assert(ts.size == oracle.index.size)
  }

  test("manifest: metrics cover all shards, analyzer version pinned") {
    val m = IndexManifest.read(root).get
    assert(m.completedShards == (0 until 8).toSet)
    assert(m.analyzerVersion == Analyzer.Version)
    assert(m.nDocs == oracle.nDocs)
    assert(m.shards.map(_.postings).sum ==
      oracle.index.valuesIterator.map(_.size.toLong).sum)
    assert(m.shards.forall(s => s.bytes >= 0 && s.sourcePartitions.nonEmpty))
  }

  test("resume: second build is a no-op; removing shards recomputes ONLY them") {
    val m1 = IndexManifest.read(root).get
    val again = IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 8, waveSize = 4, maxChunkPostings = 64)
    assert(again.manifest.snapshotId == m1.snapshotId, "no-op rebuild must not commit")

    // simulate a killed run: drop 2 shards from the manifest + their files
    val dropped = Set(2, 5)
    val truncated = m1.copy(snapshotId = m1.snapshotId + 1,
      shards = m1.shards.filterNot(s => dropped(s.shard)))
    IndexManifest.commit(root, truncated)
    dropped.foreach { s =>
      val dir = java.nio.file.Paths.get(s"$root/postings/gen=0/shard=$s")
      if (java.nio.file.Files.isDirectory(dir)) {
        java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
    }
    val resumed = IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 8, waveSize = 4, maxChunkPostings = 64)
    assert(resumed.manifest.completedShards == (0 until 8).toSet)
    // untouched shard metrics identical (no recomputation of committed work)
    val before = m1.shards.filterNot(s => dropped(s.shard)).sortBy(_.shard)
    val after = resumed.manifest.shards.filterNot(s => dropped(s.shard)).sortBy(_.shard)
    assert(before == after)
    // and the index still answers rank-identically
    querySet.take(4).foreach { case (q, mode, k) =>
      assert(SearchEngine.query(spark, root, q, mode, k) == oracle.topK(q, mode, k))
    }
  }

  test("resume with DIFFERENT input is rejected (docs-checkpoint fingerprint guard)") {
    // a docs/ checkpoint without a manifest simulates a run killed before
    // wave 1 committed; resuming with other data must throw, not silently
    // complete an index over the old corpus
    val dir = SparkTestBase.tmpDir("graft-index-fpguard")
    IndexBuilder.build(spark, spark.createDataset(corpus), dir,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    // drop every manifest so only the docs/tf checkpoints remain
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator()
      .forEachRemaining { p =>
        if (p.getFileName.toString.startsWith("manifest-v"))
          java.nio.file.Files.delete(p)
      }
    val other = TranscriptGen.corpus(seed = 77L, nConvs = 50)
    val e = intercept[IllegalStateException] {
      IndexBuilder.build(spark, spark.createDataset(other), dir,
        shards = 4, waveSize = 4, maxChunkPostings = 64)
    }
    assert(e.getMessage.contains("DIFFERENT input"))
    // same input resumes fine
    val ok = IndexBuilder.build(spark, spark.createDataset(corpus), dir,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    assert(ok.manifest.nDocs == oracle.nDocs)
  }

  test("ref-compat scorer: rank-identical to oracle sum-tf/max relevance") {
    Seq("needlemid w0000", "w0001 w0002", "roleuser w0003").foreach { q =>
      val expected = oracle.topKRefCompat(q, 10)
      val got = SearchEngine.queryRefCompat(spark, root, q, 10)
        .collect().map(r => SearchHit(r.getLong(0), r.getDouble(1))).toVector
      assert(got == expected, s"refcompat '$q'")
    }
  }

  test("read path with snippets: hits decorated, query terms bolded") {
    val res = SearchEngine.queryWithSnippets(spark, root, "needlemid w0000", "AND", 5)
    assert(res.nonEmpty)
    res.foreach { case (docId, score, snip, convId, turnIdx) =>
      assert(snip.contains("<b>needlemid</b>") || snip.contains("<b>w0000</b>"),
        s"doc $docId snippet lacks bolded query word: $snip")
      assert(oracle.docs(docId.toInt).conv_id == convId)
      assert(oracle.docs(docId.toInt).turn_idx == turnIdx)
    }
    // the hit-shard lookup follows shardsIntersecting: an unstamped
    // (-1,-1) entry (an empty shard) beside stamped ones is skipped
    val copy = SparkTestBase.tmpDir("graft-index-unstamped")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(root), new java.io.File(copy))
    val m = IndexManifest.read(copy).get
    val empty = graft.index.ShardEntry(m.shards.map(_.shard).max + 1, 0L, 0L, 0L, Nil)
    IndexManifest.commit(copy, m.copy(snapshotId = m.snapshotId + 1, shards = m.shards :+ empty))
    assert(IndexManifest.read(copy).get.shards.count(_.minDocId < 0) == 1)
    assert(SearchEngine.queryWithSnippets(spark, copy, "needlemid w0000", "AND", 5) == res)
  }

  test("a manifest with no docId ranges still serves snippets, appends after its last doc and deletes") {
    val stamped = SearchEngine.queryWithSnippets(spark, root, "needlemid w0000", "AND", 5)
    assert(stamped.nonEmpty)
    val copy = SparkTestBase.tmpDir("graft-index-no-ranges")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(root), new java.io.File(copy))
    val m = IndexManifest.read(copy).get
    // what the manifest reader defaults to for entries written without stamps
    IndexManifest.commit(copy, m.copy(snapshotId = m.snapshotId + 1,
      shards = m.shards.map(_.copy(minDocId = -1L, maxDocId = -1L))))
    assert(IndexManifest.read(copy).get.shards.forall(_.minDocId < 0))
    assert(SearchEngine.queryWithSnippets(spark, copy, "needlemid w0000", "AND", 5) == stamped)
    // the append finds the max docId by scanning the docs it now lists
    graft.index.IndexMaintenance.appendConversations(spark, copy, Seq(graft.model.Turn(
      "zz-no-ranges", 0, "user", "needlerare unstamped", "", new java.sql.Timestamp(0L))))
    val appended = graft.index.IndexSnapshot.docs(spark, copy, IndexManifest.read(copy).get)
      .filter($"conv_id" === "zz-no-ranges").select($"docId").as[Long].collect()
    assert(appended.toSeq == Seq(oracle.nDocs))
    // a delete finds its victims in shards that carry no ranges
    val gone = stamped.head._4
    graft.index.IndexMaintenance.deleteConversations(spark, copy, Set(gone))
    assert(!SearchEngine.queryWithSnippets(spark, copy, "needlemid w0000", "AND", 5)
      .exists(_._4 == gone), s"$gone must be deleted")
  }

  test("statistics job: totals consistent with manifest and oracle") {
    val t = graft.stats.StatisticsJob.totals(spark, root).head()
    assert(t.getLong(0) == oracle.nDocs)
    assert(t.getLong(4) == oracle.index.valuesIterator.map(_.size.toLong).sum)
    val per = graft.stats.StatisticsJob.perShard(spark, root).collect()
    assert(per.length == 8)
    val perConv = graft.stats.StatisticsJob.perConversation(spark, root)
      .filter($"conv_id" === "conv-00000001").head()
    assert(perConv.getLong(1) ==
      oracle.docs.count(_.conv_id == "conv-00000001").toLong)
  }

  test("per-corpus scoped query (site-filter analog): rank-identical to scoped oracle") {
    // conv_ids are docId-contiguous ⇒ the scope is a docId range prune
    Seq(("w0000", "OR", 20), ("needlemid w0000", "AND", 10),
        ("roleuser w0001", "OR", 10)).foreach { case (q, m, k) =>
      Seq("conv-000000", "conv-0000001", "conv-0000029").foreach { pre =>
        val expected = oracle.topK(q, m, k, convPrefix = Some(pre))
        val got = SearchEngine.query(spark, root, q, m, k, convPrefix = Some(pre))
        assert(got == expected, s"scoped '$q' [$m] prefix=$pre")
        got.foreach(h => assert(oracle.docs(h.docId.toInt).conv_id.startsWith(pre)))
      }
    }
    // empty scope → empty result
    assert(SearchEngine.query(spark, root, "w0000", "OR", 5,
      convPrefix = Some("conv-zzz")).isEmpty)
  }

  test("scoped stats are PER-SCOPE: a term stop-capped in-scope but not globally") {
    // scoped semantics must use scoped df/N (reference per-site stats,
    // SearchServiceImpl.java:143-162): verify the engine agrees with the
    // scoped oracle on a scope where term frequencies differ sharply from
    // the global distribution (a single conversation).
    val pre = "conv-0000000"
    Seq(("needlemid w0000", "OR", 20), ("w0000 w0001", "AND", 10),
        ("roleuser", "OR", 15)).foreach { case (q, m, k) =>
      val expected = oracle.topK(q, m, k, convPrefix = Some(pre))
      val got = SearchEngine.query(spark, root, q, m, k, convPrefix = Some(pre))
      assert(got == expected, s"scoped-stats '$q' [$m] prefix=$pre")
    }
  }

  test("multi-scope union: per-scope stats, best instance per doc, global order") {
    val scopes = Seq("conv-0000001", "conv-0000002", "conv-00000290")
    Seq(("w0000", "OR", 15), ("needlemid w0000", "AND", 10),
        ("roleuser w0001", "OR", 12)).foreach { case (q, m, k) =>
      val expected = oracle.topKScoped(q, m, k, scopes)
      val got = SearchEngine.queryScoped(spark, root, q, m, k, scopes)
      assert(got == expected, s"multi-scope '$q' [$m]")
    }
    // overlapping scopes: dedup keeps one instance per doc
    val overlapping = Seq("conv-0000001", "conv-00000010") // nested prefixes
    val got = SearchEngine.queryScoped(spark, root, "w0000", "OR", 25, overlapping)
    assert(got.map(_.docId).distinct.size == got.size)
    assert(got == oracle.topKScoped("w0000", "OR", 25, overlapping))
  }

  test("serving cache: identical results, no re-read of parquet") {
    SearchEngine.enableServingCache(spark, root)
    try {
      querySet.take(5).foreach { case (q, mode, k) =>
        assert(SearchEngine.query(spark, root, q, mode, k) ==
          oracle.topK(q, mode, k), s"cached '$q'")
      }
    } finally SearchEngine.disableServingCache(root)
  }

  test("result memoization (opt-in): repeat queries oracle-identical, case-insensitive key") {
    // pairs of queries whose resolved values differ in ONE field: with
    // the cache on, each answer must equal its cache-off answer — a
    // memo-key collision would serve the first member's hits to the second
    val page1 = SearchEngine.query(spark, root, "w0000", "OR", 5)
    val role = graft.model.QueryFilter(role = Some("user"))
    val pairs: Seq[(String, () => Vector[SearchHit], () => Vector[SearchHit])] = Seq(
      ("ordered vs unordered NEAR",
        () => SearchEngine.nearTopK(spark, root, "needlemid stopish", 1, 20, ordered = true),
        () => SearchEngine.nearTopK(spark, root, "needlemid stopish", 1, 20)),
      ("slop 2 vs 3",
        () => SearchEngine.nearTopK(spark, root, "needlemid w0000", 2, 20),
        () => SearchEngine.nearTopK(spark, root, "needlemid w0000", 3, 20)),
      ("fuzzy edits 1 vs 2",
        () => SearchEngine.fuzzyTopK(spark, root, "w0000", 1, 20, prefixLength = 3),
        () => SearchEngine.fuzzyTopK(spark, root, "w0000", 2, 20, prefixLength = 3)),
      ("fuzzy prefixLen 0 vs 2",
        () => SearchEngine.fuzzyTopK(spark, root, "xeedlemid", 1, 20, prefixLength = 0),
        () => SearchEngine.fuzzyTopK(spark, root, "xeedlemid", 1, 20, prefixLength = 2)),
      ("prefix vs wildcard",
        () => SearchEngine.prefixTopK(spark, root, "w000", 20),
        () => SearchEngine.wildcardTopK(spark, root, "w000", 20)),
      ("boost 2.0 vs 2.5",
        () => SearchEngine.queryBool(spark, root, "needlemid", "w0000", k = 20,
          boosts = Map("w0000" -> 2.0)),
        () => SearchEngine.queryBool(spark, root, "needlemid", "w0000", k = 20,
          boosts = Map("w0000" -> 2.5))),
      ("minShould 1 vs 2",
        () => SearchEngine.queryShould(spark, root, "needlemid w0000 w0001", 1, 100),
        () => SearchEngine.queryShould(spark, root, "needlemid w0000 w0001", 2, 100)),
      ("role filter vs none",
        () => SearchEngine.query(spark, root, "needlemid w0000", "OR", 20, filter = role),
        () => SearchEngine.query(spark, root, "needlemid w0000", "OR", 20)),
      ("after vs none",
        () => SearchEngine.query(spark, root, "w0000", "OR", 5, after = page1.lastOption),
        () => SearchEngine.query(spark, root, "w0000", "OR", 5)),
      ("phrase vs AND",
        () => SearchEngine.phraseTopK(spark, root, "needlemid stopish", 20),
        () => SearchEngine.query(spark, root, "needlemid stopish", "AND", 20)))
    val off = pairs.map { case (name, a, b) =>
      val (offA, offB) = (a(), b())
      assert(offA != offB, s"$name: the fixture must tell the pair apart")
      (offA, offB)
    }
    SearchEngine.enableResultCache(root, capacity = 8)
    try {
      pairs.zip(off).foreach { case ((name, a, b), (offA, offB)) =>
        assert(a() == offA, s"memo '$name' first")
        assert(b() == offB, s"memo key collision: '$name'")
        assert(a() == offA, s"memo '$name' repeat")
      }
      querySet.take(6).foreach { case (q, mode, k) =>
        val first = SearchEngine.query(spark, root, q, mode, k)
        assert(first == oracle.topK(q, mode, k), s"memo first '$q'")
        // repeat — served from the LRU; must be the identical vector
        assert(SearchEngine.query(spark, root, q, mode, k) == first)
        // the key is the ANALYZED terms (reference re-lemmatizes before
        // comparing, SearchServiceImpl.java:85-104): case changes hit too
        assert(SearchEngine.query(spark, root, q.toUpperCase, mode, k) == first,
          s"memo case-insensitive '$q'")
      }
      // scoped queries memoize under their scope key, not the global one
      val pre = "conv-0000001"
      val scoped = SearchEngine.query(spark, root, "w0000", "OR", 10,
        convPrefix = Some(pre))
      assert(scoped == oracle.topK("w0000", "OR", 10, convPrefix = Some(pre)))
      assert(SearchEngine.query(spark, root, "w0000", "OR", 10,
        convPrefix = Some(pre)) == scoped)
      assert(SearchEngine.query(spark, root, "w0000", "OR", 10) != scoped ||
        scoped == oracle.topK("w0000", "OR", 10))
    } finally SearchEngine.disableResultCache(root)
  }

  test("pagination quirk (O3): offset ignored when total <= limit") {
    val rs = (1 to 7).toVector
    // reference guard SearchServiceImpl.java:248-250
    assert(SearchEngine.paginate(rs, offset = 5, limit = 10) == rs)
    assert(SearchEngine.paginate(rs, offset = 2, limit = 3) == Vector(3, 4, 5))
    assert(SearchEngine.paginate(rs, offset = 6, limit = 3) == Vector(7))
    assert(SearchEngine.paginate(Vector.empty[Int], 0, 5) == Vector.empty)
  }

  test("posting scan split across many tasks: results still rank-identical") {
    // A big shard file splits across scan tasks at row-group granularity
    // (posting files are term-sorted, so term A's and term B's chunks of
    // ONE shard can land in DIFFERENT tasks). executePlan must regroup by
    // shard globally before intersecting — without that, AND silently
    // drops the shard's hits and OR emits partial-score duplicates.
    // Force the worst case: an index written with many tiny row groups
    // (parquet.block.size=4KB, chunk cap 2 ⇒ thousands of rows/shard),
    // scanned with sub-row-group split sizing.
    val hconf = spark.sparkContext.hadoopConfiguration
    val oldBlock = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 4096)
    val splitRoot = SparkTestBase.tmpDir("graft-index-split")
    try IndexBuilder.build(spark, spark.createDataset(corpus), splitRoot,
      shards = 4, waveSize = 4, maxChunkPostings = 2)
    finally {
      if (oldBlock == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", oldBlock)
    }
    val nGroups = spark.read.parquet(s"$splitRoot/postings")
      .mapPartitions(it => Iterator.single(if (it.hasNext) 1 else 0))
      .collect().sum
    val oldMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val oldCost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    spark.conf.set("spark.sql.files.openCostInBytes", "1024")
    try {
      val tasks = spark.read.parquet(s"$splitRoot/postings")
        .mapPartitions(it => Iterator.single(if (it.hasNext) 1 else 0))
        .collect().sum
      assert(tasks > 8, s"expected >2 non-empty scan tasks per shard, got $tasks " +
        s"(unsplit: $nGroups) — fixture no longer forces row-group splits")
      // a build-produced layout (one file per shard dir) takes the
      // shuffle-free ALIGNED path — its cloned-session scan is immune to
      // this session's tiny split sizing by design, so correctness here
      // comes from task↔shard-file alignment
      assert(SearchEngine.alignedPostingsFor(spark, splitRoot,
        IndexManifest.read(splitRoot).get).isDefined,
        "fresh build must qualify for the aligned shuffle-free scan")
      querySet.foreach { case (q, mode, k) =>
        val got = SearchEngine.query(spark, splitRoot, q, mode, k)
        assert(got == oracle.topK(q, mode, k), s"split-scan '$q' [$mode] k=$k")
      }
      clauseShapesMatchOracle(splitRoot, "aligned")

      // now break the layout invariant: rewrite one shard dir into TWO
      // parquet files (chunks of one term may straddle them) — the engine
      // must detect it and fall back to the repartition path, which under
      // this session's 2 KB split sizing is the true worst case
      val sh0 = s"$splitRoot/postings/gen=0/shard=0"
      val rows = spark.read.parquet(sh0).collect()
      val schema = spark.read.parquet(sh0).schema
      val half = rows.length / 2
      assert(half > 0, "shard 0 too small to split into two files")
      import scala.jdk.CollectionConverters._
      val tmp2 = SparkTestBase.tmpDir("graft-split-two")
      spark.createDataFrame(rows.take(half).toSeq.asJava, schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp2/a")
      spark.createDataFrame(rows.drop(half).toSeq.asJava, schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp2/b")
      def onlyParquet(d: String): java.nio.file.Path =
        java.nio.file.Files.list(java.nio.file.Paths.get(d)).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.list(java.nio.file.Paths.get(sh0)).iterator().asScala
        .toList.foreach(java.nio.file.Files.delete)
      java.nio.file.Files.move(onlyParquet(s"$tmp2/a"),
        java.nio.file.Paths.get(sh0, "part-a.parquet"))
      java.nio.file.Files.move(onlyParquet(s"$tmp2/b"),
        java.nio.file.Paths.get(sh0, "part-b.parquet"))
      SearchEngine.disableServingCache(splitRoot) // drop the stale aligned plan
      assert(SearchEngine.alignedPostingsFor(spark, splitRoot,
        IndexManifest.read(splitRoot).get).isEmpty,
        "multi-file shard dir must disqualify the aligned scan")
      querySet.foreach { case (q, mode, k) =>
        val got = SearchEngine.query(spark, splitRoot, q, mode, k)
        assert(got == oracle.topK(q, mode, k),
          s"multi-file-shard fallback '$q' [$mode] k=$k")
      }
      clauseShapesMatchOracle(splitRoot, "multi-file-shard fallback")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", oldMax)
      spark.conf.set("spark.sql.files.openCostInBytes", oldCost)
    }
  }

  /** Every clause shape the shard-local executor walks — MUST_NOT, the
    * count-qualified SHOULD, the combined BooleanQuery and the
    * positions-free phrase/NEAR rescan — against the oracle on `r`. */
  private def clauseShapesMatchOracle(r: String, label: String): Unit = {
    assert(SearchEngine.queryNot(spark, r, "needlemid w0000", "roleuser", 20)
      == oracle.andNotTopK("needlemid w0000", "roleuser", 20), s"$label: NOT")
    assert(SearchEngine.queryShould(spark, r, "needlemid w0000 w0001", 2, 20)
      == oracle.shouldTopK("needlemid w0000 w0001", 2, 20), s"$label: SHOULD")
    assert(SearchEngine.queryBool(spark, r, "needlemid", "w0000 w0001",
        "roleuser", 1, 20)
      == oracle.boolTopK("needlemid", "w0000 w0001", "roleuser", 1, 20),
      s"$label: BOOL")
    assert(SearchEngine.phraseTopK(spark, r, "stopish needlemid", 20)
      == oracle.phraseTopK("stopish needlemid", 20), s"$label: PHRASE")
    assert(SearchEngine.nearTopK(spark, r, "stopish needlemid", 3, 20)
      == oracle.nearTopK("stopish needlemid", 3, 20), s"$label: NEAR")
  }

  test("unknown modes refuse instead of silently running OR") {
    val m = IndexManifest.read(root).get
    val stats = SearchEngine.statsOf(spark, root)
    val p = SearchEngine.plan(spark, root,
      graft.model.QuerySpec(Vector("needlemid"), "AND", 10), stats)
    Seq("ANDD", "SHOULD:2").foreach { bad =>
      val calls: Seq[(String, () => Any)] = Seq(
        "query" -> (() => SearchEngine.query(spark, root, "needlemid", bad)),
        "queryAt" -> (() =>
          SearchEngine.queryAt(spark, root, m.snapshotId, "needlemid", bad)),
        "queryScoped" -> (() => SearchEngine.queryScoped(spark, root,
          "needlemid", bad, 10, Seq("conv-0000001"))),
        "queryWithSnippets" -> (() =>
          SearchEngine.queryWithSnippets(spark, root, "needlemid", bad)),
        "executePlan" -> (() =>
          SearchEngine.executePlan(spark, root, p.copy(mode = bad), stats)))
      calls.foreach { case (name, call) =>
        withClue(s"$name(mode = $bad): ") {
          intercept[IllegalArgumentException](call())
        }
      }
    }
    // k < 1 refuses once, before any Spark job, on every entry point
    // (Wand.TopK(0) used to throw inside an executor, or not at all)
    Seq(0, -1).foreach { bad =>
      val calls: Seq[(String, () => Any)] = Seq(
        "query" -> (() => SearchEngine.query(spark, root, "needlemid", "AND", bad)),
        "phraseTopK" -> (() =>
          SearchEngine.phraseTopK(spark, root, "stopish needlemid", bad)),
        "prefixTopK" -> (() => SearchEngine.prefixTopK(spark, root, "w000", bad)),
        "queryBool" -> (() =>
          SearchEngine.queryBool(spark, root, "needlemid", "w0000", k = bad)),
        "QueryParser.search" -> (() =>
          graft.query.QueryParser.search(spark, root, "+needlemid w0000", bad)))
      calls.foreach { case (name, call) =>
        withClue(s"$name(k = $bad): ") {
          intercept[IllegalArgumentException](call())
        }
      }
    }
    // CLI refusals exit with the usage line before the Spark session
    // starts: an unknown mode, k < 1, two spellings of the scopes at
    // once, and any argument that is not a known flag (a removed flag or
    // a typo would otherwise run some other query)
    Seq(
      Seq("--mode", "ANDD"),
      Seq("--k", "0"),
      Seq("--conv", "conv-0000001", "--scopes", "conv-0000002"),
      Seq("--naive"),
      Seq("--mode", "NEAR", "--slp", "5"),
      Seq("--nto", "x")
    ).foreach { flags =>
      val cli = intercept[RuntimeException](graft.cli.Query.main(
        (Seq(root, "needlemid w0000") ++ flags).toArray))
      assert(cli.getMessage.contains("usage: Query"), s"$flags: ${cli.getMessage}")
    }
  }

  test("chunking: hot-term lists split at the chunk cap and merge correctly") {
    val postings = IndexBuilder.loadPostings(spark, root)
    val chunks = postings.filter($"term" === "stopish")
      .select($"shard", $"chunk", $"count").collect()
    assert(chunks.exists(_.getInt(1) > 0),
      "stopish (df>90%) must exceed the 64-posting chunk cap in some shard")
    assert(chunks.forall(_.getLong(2) <= 64))
  }
}
