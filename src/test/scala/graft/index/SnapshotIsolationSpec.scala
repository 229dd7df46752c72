package graft.index

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.{LiveOracle, SparkTestBase}
import graft.fixtures.TranscriptGen
import graft.model.{SearchHit, Turn}
import graft.query.SearchEngine

/** Snapshot isolation of maintenance commits (VERDICT r03 item 1):
  * maintenance is copy-on-write into new generation dirs + an atomic
  * manifest flip, so an UNCACHED query racing a delete/replace/append
  * always sees one committed snapshot — never new docs against old
  * postings — and superseded generations are reclaimed only after a
  * grace window. */
class SnapshotIsolationSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val ts = new java.sql.Timestamp(1700000000000L)

  test("uncached queries racing maintenance always observe a committed snapshot") {
    val corpus = TranscriptGen.corpus(seed = 21L, nConvs = 150)
    val root = SparkTestBase.tmpDir("graft-snapiso")
    IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 8, waveSize = 8, maxChunkPostings = 64)
    val q = ("needlemid w0000", "AND", 10)
    def ask(): Vector[SearchHit] =
      SearchEngine.query(spark, root, q._1, q._2, q._3)

    // generous retention for the duration of the race (the default
    // 2-snapshot grace only guarantees one full maintenance cycle)
    IndexMaintenance.keepSnapshotsOverride = Some(10)
    val validAnswers = new ConcurrentLinkedQueue[Vector[SearchHit]]
    validAnswers.add(ask())
    val stop = new AtomicBoolean(false)
    val observed = new ConcurrentLinkedQueue[Vector[SearchHit]]
    val failures = new ConcurrentLinkedQueue[Throwable]
    val reader = new Thread(() => {
      while (!stop.get()) {
        try observed.add(ask())
        catch { case t: Throwable => failures.add(t); stop.set(true) }
      }
    }, "snapiso-reader")
    reader.start()
    try {
      // three committing ops, each changing the answer; record the
      // post-op answer BEFORE starting the next op so every snapshot the
      // reader can pin has its answer in validAnswers by scan time
      val victim = corpus.find(t =>
        validAnswers.peek().exists(_.docId >= 0) &&
        Analyzer.contains(t.text, "needlemid")).map(_.conv_id)
        .getOrElse(corpus.head.conv_id)
      IndexMaintenance.deleteConversations(spark, root, Set(victim))
      validAnswers.add(ask())
      val target = corpus.find(t => t.conv_id != victim).get
      IndexMaintenance.replaceTurns(spark, root,
        Seq(target.copy(text = "needlemid w0000 zzconcurrent replacement")))
      validAnswers.add(ask())
      IndexMaintenance.appendConversations(spark, root, Seq(
        Turn("zz-snapiso", 0, "user", "needlemid w0000 zzconcurrent append", "", ts)))
      validAnswers.add(ask())
    } finally {
      stop.set(true)
      reader.join(60000)
      IndexMaintenance.keepSnapshotsOverride = None
    }
    assert(failures.isEmpty,
      s"concurrent reader must never fail mid-maintenance: ${failures.peek()}")
    val valid = {
      val b = Vector.newBuilder[Vector[SearchHit]]
      validAnswers.forEach(v => b += v)
      b.result().toSet
    }
    var n = 0
    observed.forEach { o =>
      n += 1
      assert(valid.contains(o),
        s"reader observed a result matching NO committed snapshot: $o\nvalid: $valid")
    }
    assert(n > 0, "reader never completed a query — race not exercised")
  }

  private object Analyzer {
    def contains(text: String, term: String): Boolean =
      graft.analysis.Analyzer.tokens(text).contains(term)
  }

  test("expireSnapshots: superseded generations reclaimed after the grace window") {
    val corpus = TranscriptGen.corpus(seed = 22L, nConvs = 120)
    val root = SparkTestBase.tmpDir("graft-expire")
    IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    val v0 = IndexManifest.latestVersion(root).get
    // two deletes hitting the SAME shard: op1 moves it gen0 → genA (gen0
    // kept as grace), op2 moves genA → genB and expires gen0
    val c1 = "conv-00000001"
    val shard1 = IndexBuilder.loadDocs(spark, root).toDF()
      .filter($"conv_id" === c1).select($"shard").head().getInt(0)
    val c2 = IndexBuilder.loadDocs(spark, root).toDF()
      .filter($"shard" === shard1 && $"conv_id" =!= c1)
      .select($"conv_id").head().getString(0)

    def dirExists(p: String): Boolean =
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p))

    IndexMaintenance.deleteConversations(spark, root, Set(c1))
    // grace: the pre-op generation (gen 0) of the rewritten shard survives
    assert(dirExists(s"$root/docs/gen=0/shard=$shard1"),
      "previous generation must survive one maintenance cycle (grace)")
    assert(dirExists(s"$root/postings/gen=0/shard=$shard1"))

    IndexMaintenance.deleteConversations(spark, root, Set(c2))
    // now gen 0 of that shard is two snapshots old → reclaimed
    assert(!dirExists(s"$root/docs/gen=0/shard=$shard1"),
      "generation older than the grace window must be reclaimed")
    assert(!dirExists(s"$root/postings/gen=0/shard=$shard1"))
    // untouched shards' gen-0 dirs remain (still referenced by the
    // current manifest)
    val untouched = IndexManifest.read(root).get.shards
      .filter(e => e.shard != shard1 && e.minDocId >= 0 && e.gen == 0L)
    assert(untouched.nonEmpty)
    untouched.foreach(e =>
      assert(dirExists(s"$root/docs/gen=0/shard=${e.shard}")))
    // expired manifest files dropped; the kept ones remain readable
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(f"$root/manifest-v$v0%05d.json")))
    assert(IndexManifest.versions(root).size == 2)
    // and the index still answers correctly after reclamation: the
    // scalar oracle over the turns the two deletes left
    val live = corpus.filter(t => t.conv_id != c1 && t.conv_id != c2)
    val hits = SearchEngine.query(spark, root, "needlemid w0000", "AND", 10)
    assert(hits == LiveOracle.topK(spark, root, live, "needlemid w0000", "AND", 10))
  }

  test("orphan generation from a crashed rewrite is invisible and reclaimed") {
    val corpus = TranscriptGen.corpus(seed = 23L, nConvs = 60)
    val root = SparkTestBase.tmpDir("graft-orphan")
    IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    val m = IndexManifest.read(root).get
    val before = SearchEngine.query(spark, root, "needlemid w0000", "AND", 10)
    // fabricate the on-disk state of a rewrite that crashed after its
    // docs write: a docs generation dir at snapshotId+1, no manifest
    val orphanGen = m.snapshotId + 1
    spark.createDataset(Seq(
      Turn("zz-orphan", 0, "user", "zzorphanterm needlemid", "", ts)))
      .withColumn("docId", org.apache.spark.sql.functions.lit(999999L))
      .withColumn("dl", org.apache.spark.sql.functions.lit(2))
      .withColumn("shard", org.apache.spark.sql.functions.lit(0))
      .select($"docId", $"conv_id", $"turn_idx", $"role", $"text", $"tool",
        $"dl", $"shard")
      .write.partitionBy("shard").parquet(s"$root/docs/gen=$orphanGen")
    // invisible to queries and loaders
    assert(SearchEngine.query(spark, root, "zzorphanterm", "OR", 10).isEmpty)
    assert(SearchEngine.query(spark, root, "needlemid w0000", "AND", 10) == before)
    assert(IndexBuilder.loadDocs(spark, root).count() == m.nDocs)
    // subsequent maintenance commits write their OWN unique generations
    // and never adopt the orphan's rows; the orphan dir ages out via the
    // orphan-grace sweep (young here, so it merely stays invisible)
    IndexMaintenance.deleteConversations(spark, root, Set("conv-00000002"))
    IndexMaintenance.deleteConversations(spark, root, Set("conv-00000003"))
    assert(SearchEngine.query(spark, root, "zzorphanterm", "OR", 10).isEmpty)
    assert(IndexBuilder.loadDocs(spark, root).toDF()
      .filter($"docId" === 999999L).count() == 0L,
      "fabricated orphan row must stay invisible, never adopted")
    val m2 = IndexManifest.read(root).get
    assert(IndexBuilder.loadDocs(spark, root).count() == m2.nDocs)
  }

  test("time travel: queryAt serves any retained snapshot; expired snapshots refuse") {
    val corpus = TranscriptGen.corpus(seed = 25L, nConvs = 100)
    val root = SparkTestBase.tmpDir("graft-timetravel")
    IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    val v0 = IndexManifest.latestVersion(root).get
    val q = ("needlemid w0000", "AND", 10)
    val r0 = SearchEngine.query(spark, root, q._1, q._2, q._3)
    assert(r0.nonEmpty)
    // change the answer: delete the top hit's conversation
    val victim = IndexBuilder.loadDocs(spark, root).toDF()
      .filter($"docId" === r0.head.docId).select($"conv_id").head().getString(0)
    IndexMaintenance.deleteConversations(spark, root, Set(victim))
    val v1 = IndexManifest.latestVersion(root).get
    val r1 = SearchEngine.query(spark, root, q._1, q._2, q._3)
    assert(r1 != r0)
    // time travel to the pre-delete snapshot (still retained by grace)
    assert(SearchEngine.queryAt(spark, root, v0, q._1, q._2, q._3) == r0)
    assert(SearchEngine.queryAt(spark, root, v1, q._1, q._2, q._3) == r1)
    // memoization keyed by snapshot: historical + current results must
    // not cross-contaminate the serving LRU
    SearchEngine.enableResultCache(root)
    try {
      assert(SearchEngine.queryAt(spark, root, v0, q._1, q._2, q._3) == r0)
      assert(SearchEngine.query(spark, root, q._1, q._2, q._3) == r1)
      assert(SearchEngine.queryAt(spark, root, v0, q._1, q._2, q._3) == r0)
    } finally SearchEngine.disableResultCache(root)
    // SERVING cache pinned at the current snapshot: a time-travel query
    // must bypass it (snapshot-stamped cache), not read v1's postings
    // against v0's stats
    SearchEngine.enableServingCache(spark, root)
    try {
      assert(SearchEngine.query(spark, root, q._1, q._2, q._3) == r1)
      assert(SearchEngine.queryAt(spark, root, v0, q._1, q._2, q._3) == r0,
        "time travel with the serving cache enabled must serve the " +
        "pinned snapshot's data, not the cached current snapshot's")
    } finally SearchEngine.disableServingCache(root)
    // scoped time travel: per-scope stats/segments resolve from the
    // pinned historical snapshot
    val pre = IndexBuilder.loadDocs(spark, root).toDF()
      .filter($"docId" === r1.head.docId).select($"conv_id").head()
      .getString(0)
    val scopedNow = SearchEngine.query(spark, root, q._1, "OR", 10,
      convPrefix = Some(pre))
    assert(SearchEngine.queryAt(spark, root, v1, q._1, "OR", 10,
      scopes = Seq(pre)) == scopedNow)
    val scopedOld = SearchEngine.queryAt(spark, root, v0, q._1, "OR", 10,
      scopes = Seq(victim))
    assert(scopedOld.nonEmpty,
      "the deleted conversation must still answer scoped queries at v0")

    // a second maintenance op expires v0 → time travel to it refuses
    IndexMaintenance.deleteConversations(spark, root, Set("conv-00000020"))
    val e = intercept[IllegalArgumentException] {
      SearchEngine.queryAt(spark, root, v0, q._1, q._2, q._3)
    }
    assert(e.getMessage.contains("expired or never committed"))
    assert(SearchEngine.queryAt(spark, root, v1, q._1, q._2, q._3) == r1,
      "the still-retained previous snapshot must stay queryable")
  }

  test("dictionary memo never goes stale: rebuilt root, time travel, pinned reader across an append") {
    val queries = Seq(("needlemid w0000", "AND", 10), ("w0001 w0002", "OR", 15),
      ("needlerare stopish", "OR", 10))
    def answers(root: String, pinned: Option[Manifest] = None) = queries.map {
      case (q, mode, k) => SearchEngine.search(spark, root,
        if (mode == "AND") graft.query.Query.Bool(must = Vector(q))
        else graft.query.Query.Bool(should = Vector(q), minShould = 1), k, pinned = pinned) }
    def expected(o: graft.oracle.Oracle) = queries.map { case (q, mode, k) => o.topK(q, mode, k) }

    // a root deleted and rebuilt from another corpus (same statsGen,
    // same snapshot ids) answers from the new dictionary
    val root = SparkTestBase.tmpDir("graft-dictmemo")
    val corpusA = TranscriptGen.corpus(seed = 27L, nConvs = 100)
    IndexBuilder.build(spark, spark.createDataset(corpusA), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    assert(answers(root) == expected(new graft.oracle.Oracle(corpusA)))
    val statsGenA = IndexManifest.readCached(root).get.statsGen
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    val corpusB = TranscriptGen.corpus(seed = 28L, nConvs = 100)
    IndexBuilder.build(spark, spark.createDataset(corpusB), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    assert(IndexManifest.readCached(root).get.statsGen == statsGenA)
    val oracleB = new graft.oracle.Oracle(corpusB)
    assert(answers(root) == expected(oracleB), "rebuilt root must not reuse the old dictionary")

    // a reader pinned before an append keeps its generation while the
    // append commits under it; afterwards queryAt on that (retained)
    // snapshot still scores with its dfs, the current one with the new
    val m0 = IndexManifest.readCached(root).get
    val extra = (0 until 30).map(i => Turn(f"zz-memo-$i%02d", 0, "user",
      s"needlemid w0000 w0001 needlerare filler$i", "", ts))
    val stop = new AtomicBoolean(false)
    val observed = new ConcurrentLinkedQueue[Seq[Vector[SearchHit]]]
    val failures = new ConcurrentLinkedQueue[Throwable]
    val reader = new Thread(() => {
      while (!stop.get()) {
        try observed.add(answers(root, Some(m0)))
        catch { case t: Throwable => failures.add(t); stop.set(true) }
      }
    }, "dictmemo-reader")
    reader.start()
    try IndexMaintenance.appendConversations(spark, root, extra)
    finally { stop.set(true); reader.join(60000) }
    assert(failures.isEmpty, s"pinned reader failed: ${failures.peek()}")
    assert(!observed.isEmpty, "the pinned reader never completed a query")
    observed.forEach(o => assert(o == expected(oracleB), "pinned reader left its generation"))
    val m1 = IndexManifest.readCached(root).get
    assert(m1.statsGen != m0.statsGen)
    val oracleC = new graft.oracle.Oracle(corpusB ++ extra)
    assert(expected(oracleC) != expected(oracleB), "the append must change the answers")
    assert(answers(root) == expected(oracleC))
    assert(queries.map { case (q, mode, k) =>
      SearchEngine.queryAt(spark, root, m0.snapshotId, q, mode, k) } == expected(oracleB),
      "time travel must score with the pinned generation's dfs")
    assert(answers(root) == expected(oracleC))
  }

  test("dictionary memo: a query on a partly built root does not pin an empty dictionary") {
    // every wave commits a manifest with the finished build's statsGen and
    // fingerprint, but term_stats is written after the last wave: a query
    // in between must not memoize "no terms" under the finished key
    val corpus = TranscriptGen.corpus(seed = 29L, nConvs = 120)
    val root = SparkTestBase.tmpDir("graft-dictmemo-partial")
    val ds = spark.createDataset(corpus)
    var checks = 0
    intercept[IndexBuilder.BuildCancelledException] {
      IndexBuilder.build(spark, ds, root, shards = 8, waveSize = 2,
        maxChunkPostings = 64, cancelCheck = () => { checks += 1; checks > 1 })
    }
    val queries = Seq(("needlemid w0000", "AND", 10), ("w0001 w0002", "OR", 15),
      ("needlerare", "AND", 10))
    def answers() = queries.map { case (q, mode, k) => SearchEngine.query(spark, root, q, mode, k) }
    assert(answers().forall(_.isEmpty), "a partly built root has no dictionary yet")
    IndexBuilder.build(spark, ds, root, shards = 8, waveSize = 2, maxChunkPostings = 64)
    val o = new graft.oracle.Oracle(corpus)
    val want = queries.map { case (q, mode, k) => o.topK(q, mode, k) }
    assert(want.forall(_.nonEmpty))
    assert(answers() == want, "the finished build must answer from its dictionary")
  }

  test("optimistic commit: losing the version race raises CommitConflictException, winner intact") {
    val corpus = TranscriptGen.corpus(seed = 26L, nConvs = 40)
    val root = SparkTestBase.tmpDir("graft-occ")
    IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    val m = IndexManifest.read(root).get
    val winner = m.copy(snapshotId = m.snapshotId + 1)
    IndexManifest.commit(root, winner, expectNew = true)
    // a second writer targeting the same version must lose loudly, and
    // must NOT clobber the winner's committed snapshot
    intercept[IndexManifest.CommitConflictException] {
      IndexManifest.commit(root,
        winner.copy(nDocs = winner.nDocs + 999), expectNew = true)
    }
    assert(IndexManifest.read(root).get.nDocs == m.nDocs,
      "the race winner's snapshot must survive the loser's attempt")
    // a maintenance op sees the winner's snapshot and targets the NEXT
    // version — no conflict on the normal path
    IndexMaintenance.deleteConversations(spark, root, Set("conv-00000001"))
    assert(IndexManifest.read(root).get.snapshotId == winner.snapshotId + 1)
  }

  test("serving cache refresh: an EXTERNAL writer's commit is picked up by re-enabling") {
    val corpus = TranscriptGen.corpus(seed = 27L, nConvs = 60)
    val root = SparkTestBase.tmpDir("graft-extwriter")
    IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    SearchEngine.enableServingCache(spark, root)
    try {
      val before = SearchEngine.query(spark, root, "needlemid w0000", "AND", 10)
      // simulate a SEPARATE writer process: commit a new snapshot without
      // this process's disableServingCache hook ever firing (same data —
      // only the version moves)
      val m = IndexManifest.read(root).get
      IndexManifest.commit(root, m.copy(snapshotId = m.snapshotId + 1),
        expectNew = true)
      // queries bypass the now-stale pin (snapshot stamp mismatch) but
      // stay correct
      assert(SearchEngine.query(spark, root, "needlemid w0000", "AND", 10)
        == before)
      // re-enabling REFRESHES the pin instead of no-opping on the stale
      // entry; queries then serve from the new pin
      SearchEngine.enableServingCache(spark, root)
      assert(SearchEngine.query(spark, root, "needlemid w0000", "AND", 10)
        == before)
    } finally SearchEngine.disableServingCache(root)
  }

  test("scoped-query segment + df caches: one computation per (snapshot, scope)") {
    val corpus = TranscriptGen.corpus(seed = 24L, nConvs = 80)
    val root = SparkTestBase.tmpDir("graft-scopecache")
    IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    val pre = "conv-0000001"
    val r1 = SearchEngine.query(spark, root, "w0000", "OR", 10,
      convPrefix = Some(pre))
    // conv-range stamps pruned the segment scan to a strict shard subset
    val scanned = SearchEngine.lastScopeScanShards.get()
    assert(scanned >= 1 && scanned < 4,
      s"prefix segment scan must prune via conv-range stamps, scanned=$scanned")
    val computesAfterFirst = SearchEngine.scopeSegComputes.get()
    val r2 = SearchEngine.query(spark, root, "w0000", "OR", 10,
      convPrefix = Some(pre))
    val r3 = SearchEngine.query(spark, root, "w0001", "OR", 10,
      convPrefix = Some(pre)) // same scope, different term: segments cached
    assert(SearchEngine.scopeSegComputes.get() == computesAfterFirst,
      "repeat scoped queries must reuse the cached scope segments")
    assert(r1 == r2)
    assert(r3.forall(h => r3.count(_.docId == h.docId) == 1))
    // maintenance bumps the snapshot → caches invalidated, fresh compute
    IndexMaintenance.deleteConversations(spark, root, Set("conv-00000012"))
    SearchEngine.query(spark, root, "w0000", "OR", 10, convPrefix = Some(pre))
    assert(SearchEngine.scopeSegComputes.get() > computesAfterFirst,
      "a new snapshot must recompute scope segments")
  }

  test("scoped caches are LRU-bounded: a diverse workload on ONE hot snapshot cannot grow them unboundedly") {
    // VERDICT r04 item 6: the seg/df memos key by (root, snapshot,
    // scope[, term]) — without a cap, a long-lived serving process on a
    // single hot snapshot accumulates an entry per novel scope forever
    val corpus = TranscriptGen.corpus(seed = 31L, nConvs = 60)
    val root = SparkTestBase.tmpDir("graft-scopelru")
    IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    // a shrunk cap cannot evict below the map's CURRENT size (eviction
    // is one-eldest-per-put) — start from a clean slate so the caps
    // under test are the binding ones regardless of suite order
    SearchEngine.clearScopeCaches()
    SearchEngine.scopeCacheCapOverride = Some((3, 4))
    try {
      // 6 distinct scopes > cap 3; each also inserts df entries
      (0 until 6).foreach { i =>
        SearchEngine.query(spark, root, "w0000", "OR", 5,
          convPrefix = Some(f"conv-000000$i%02d"))
      }
      val (segs, dfs) = SearchEngine.scopeCacheSizes
      assert(segs <= 3, s"segment cache must stay under its cap: $segs")
      assert(dfs <= 4, s"df cache must stay under its cap: $dfs")
      // eviction is performance-only: an evicted scope recomputes and
      // still answers identically
      val pre = "conv-00000001"
      val again = SearchEngine.query(spark, root, "w0000", "OR", 5,
        convPrefix = Some(pre))
      SearchEngine.disableServingCache(root) // flush → force full recompute
      val fresh = SearchEngine.query(spark, root, "w0000", "OR", 5,
        convPrefix = Some(pre))
      assert(again == fresh)
    } finally {
      SearchEngine.scopeCacheCapOverride = None
      SearchEngine.disableServingCache(root)
    }
  }

  test("two writers with conflict-retry loops converge: every batch lands exactly once, fsck clean") {
    // the end-to-end contract ON TOP of the CAS: a writer that loses the
    // version race retries against the new snapshot and eventually
    // lands; no batch is lost, duplicated, or torn, and the rolled
    // totals stay exact through the interleaving
    val corpus = TranscriptGen.corpus(seed = 43L, nConvs = 40)
    val root = SparkTestBase.tmpDir("graft-two-writers")
    IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    val ts = new java.sql.Timestamp(1700000000000L)
    def batch(writer: String, i: Int): Seq[graft.model.Turn] = Seq(
      graft.model.Turn(s"zz-$writer-$i", 0, "user", s"payload $writer $i alpha", "", ts),
      graft.model.Turn(s"zz-$writer-$i", 1, "assistant", s"reply $writer $i beta", "", ts))
    def appendWithRetry(writer: String, i: Int): Unit = {
      var done = false
      var attempts = 0
      while (!done) {
        attempts += 1
        require(attempts <= 25, s"$writer-$i: too many CAS retries")
        try {
          IndexMaintenance.appendConversations(spark, root, batch(writer, i))
          done = true
        } catch {
          case _: IndexManifest.CommitConflictException => () // re-read + retry
        }
      }
    }
    val nBatches = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new Runnable {
        def run(): Unit = (0 until nBatches).foreach(i => appendWithRetry("a", i)) })
      val fb = pool.submit(new Runnable {
        def run(): Unit = (0 until nBatches).foreach(i => appendWithRetry("b", i)) })
      fa.get(300, java.util.concurrent.TimeUnit.SECONDS)
      fb.get(300, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdownNow()
    val m = IndexManifest.read(root).get
    assert(m.nDocs == corpus.size + 2L * 2 * nBatches,
      s"every batch lands exactly once: ${m.nDocs}")
    val docs = IndexBuilder.loadDocs(spark, root)
    assert(docs.count() == m.nDocs)
    assert(docs.select($"docId").distinct().count() == m.nDocs,
      "docIds unique across interleaved appends")
    (0 until nBatches).foreach { i =>
      Seq("a", "b").foreach { w0 =>
        assert(docs.filter($"conv_id" === s"zz-$w0-$i").count() == 2L,
          s"batch $w0-$i must land exactly once")
      }
    }
    // the rolled-forward totals survived the interleaving exactly
    assert(IndexMaintenance.verifyManifest(spark, root, deep = true).isEmpty,
      "fsck must be clean after concurrent appends")
    // and the index answers (a term planted by each writer's last batch)
    assert(SearchEngine.query(spark, root, s"payload", "AND", 50).nonEmpty)
  }

  test("queryAt overtaken by expiry mid-query fails LOUDLY with the retention contract, never reads reclaimed dirs") {
    // VERDICT r04 item 7: a time-travel reader pinned to the oldest
    // retained snapshot has zero grace — when maintenance + expire
    // reclaim its dirs mid-scan the failure must name the contract, not
    // surface a raw missing-path error
    val corpus = TranscriptGen.corpus(seed = 37L, nConvs = 60)
    val root = SparkTestBase.tmpDir("graft-expiry-race")
    IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    val mOld = IndexManifest.read(root).get
    // maintenance commit + aggressive expiry reclaim mOld entirely
    IndexMaintenance.deleteConversations(spark, root, Set("conv-00000005"))
    IndexSnapshot.expireSnapshots(spark, root, keepLast = 1)
    assert(!IndexManifest.versions(root).contains(mOld.snapshotId))
    // entry-gate path: queryAt up front refuses with the retention message
    val eGate = intercept[IllegalArgumentException] {
      SearchEngine.queryAt(spark, root, mOld.snapshotId, "needlemid")
    }
    assert(eGate.getMessage.contains("expired or never committed"))
    // mid-query path: a scan already pinned to mOld (started before the
    // expiry) fails and is rethrown with the loud contract error
    val eMid = intercept[IllegalStateException] {
      SearchEngine.withExpiryDiagnosis(root, mOld.snapshotId) {
        IndexSnapshot.postings(spark, root, mOld).count()
      }
    }
    assert(eMid.getMessage.contains("expired by concurrent maintenance"),
      s"got: ${eMid.getMessage}")
    assert(eMid.getCause != null, "the raw scan failure rides along as cause")
    // a failure with the snapshot still retained passes through untouched
    val mNow = IndexManifest.read(root).get
    val ePass = intercept[RuntimeException] {
      SearchEngine.withExpiryDiagnosis(root, mNow.snapshotId) {
        throw new RuntimeException("unrelated")
      }
    }
    assert(ePass.getMessage == "unrelated")
  }

  test("slow phrase verify racing expire: the pinned result or the LOUD retention error, never partial") {
    // VERDICT r05 item 7: a verify-by-rescan phrase query over a large
    // candidate set (stop cap off => frequent terms enumerate ~the
    // corpus) holds its pinned snapshot LONGER than an AND query, so the
    // K >= depth + commits + 1 retention contract binds tighter. Race a
    // real maintenance-commit + aggressive expire against the pinned
    // phrase verify: the only legal outcomes are (a) the exact pinned
    // result (scan won) or (b) the loud expiry-contract error (expire
    // won) - never a raw missing-path error, never a partial/mixed
    // result (generation dirs are immutable and deleted whole).
    val corpus = TranscriptGen.corpus(seed = 53L, nConvs = 250)
    val root = SparkTestBase.tmpDir("graft-phrase-expiry-race")
    IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    val oracle = new graft.oracle.Oracle(corpus)
    val mOld = IndexManifest.read(root).get
    val expected = oracle.phraseTopK("stopish needlemid", 50)
    assert(expected.nonEmpty)
    val victim = corpus.head.conv_id
    val racer = new Thread(new Runnable {
      def run(): Unit = {
        IndexMaintenance.deleteConversations(spark, root, Set(victim))
        IndexSnapshot.expireSnapshots(spark, root, keepLast = 1)
      }
    })
    racer.start()
    val outcome =
      try Right(SearchEngine.withExpiryDiagnosis(root, mOld.snapshotId) {
        SearchEngine.phraseTopK(spark, root, "stopish needlemid", 50,
          pinned = Some(mOld))
      })
      catch { case e: IllegalStateException => Left(e) }
    racer.join()
    outcome match {
      case Right(hits) => assert(hits == expected,
        "a pinned phrase verify that completes must answer from mOld alone")
      case Left(e) => assert(
        e.getMessage.contains("expired by concurrent maintenance"),
        s"raw error leaked through the diagnosis: ${e.getMessage}")
    }
    // deterministic tail: once expire has reclaimed mOld, a NEW pinned
    // phrase verify must diagnose loudly (not FileNotFound, not empty)
    assert(!IndexManifest.versions(root).contains(mOld.snapshotId))
    val e2 = intercept[IllegalStateException] {
      SearchEngine.withExpiryDiagnosis(root, mOld.snapshotId) {
        SearchEngine.phraseTopK(spark, root, "stopish needlemid", 50,
          pinned = Some(mOld))
      }
    }
    assert(e2.getMessage.contains("expired by concurrent maintenance"))
    assert(e2.getMessage.contains("GRAFT_KEEP_SNAPSHOTS"),
      "the diagnosis must name the retention knob")
  }
}
