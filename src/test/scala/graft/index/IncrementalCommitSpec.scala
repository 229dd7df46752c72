package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.{LiveOracle, SparkTestBase}
import graft.fixtures.TranscriptGen
import graft.model.Turn
import graft.query.SearchEngine

/** O(batch) snapshot commits (r4): corpus totals (nDocs, xor
  * fingerprint, exact Σdl → avgdl) roll forward incrementally per
  * maintenance op instead of re-scanning the corpus, and key-existence
  * checks prune to shards whose manifest conv range intersects the
  * batch. [[IndexMaintenance.verifyManifest]] is the full-recompute
  * fsck that proves the rolled totals after every op. */
class IncrementalCommitSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val ts = new java.sql.Timestamp(1700000000000L)

  private def fsckClean(root: String, where: String): Unit = {
    val problems = IndexMaintenance.verifyManifest(spark, root, deep = true)
    assert(problems.isEmpty, s"fsck after $where: ${problems.mkString("; ")}")
  }

  test("op chain rolls totals forward exactly; conv-range pruning skips non-intersecting shards") {
    val corpus = TranscriptGen.corpus(seed = 31L, nConvs = 150)
    val root = SparkTestBase.tmpDir("graft-inccommit")
    IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 8, waveSize = 8, maxChunkPostings = 64)
    val m0 = IndexManifest.read(root).get
    assert(m0.sumDl >= 0, "fresh build must stamp the exact corpus Σdl")
    assert(m0.shards.filter(_.minDocId >= 0).forall(e =>
      e.minConv.isDefined && e.maxConv.isDefined),
      "fresh build must stamp shard conv ranges")
    fsckClean(root, "build")
    // the index's turns by key, tracked through every op for the oracle
    val live = scala.collection.mutable.Map(corpus.map(t => (t.conv_id, t.turn_idx) -> t): _*)
    def put(turns: Seq[Turn]): Unit = turns.foreach(t => live((t.conv_id, t.turn_idx)) = t)

    // 1. time-ordered append: conv_ids sort AFTER every committed one —
    // the manifest alone proves the keys new, zero shards scanned
    val appended = Seq(
      Turn("zz-new-1", 0, "user", "zzinc append one needlemid", "", ts),
      Turn("zz-new-1", 1, "user", "zzinc append two", "", ts))
    IndexMaintenance.appendConversations(spark, root, appended)
    put(appended)
    assert(IndexMaintenance.lastKeyCheckShards.get() == 0,
      "beyond-range append must scan ZERO shards for the dup check")
    fsckClean(root, "time-ordered append")

    // 2. delete (in-range): pruned to intersecting shards, totals roll
    IndexMaintenance.deleteConversations(spark, root, Set("conv-00000005"))
    live.filterInPlace { case ((conv, _), _) => conv != "conv-00000005" }
    assert(IndexMaintenance.lastKeyCheckShards.get() < 8,
      "single-conv delete must prune the candidate shard set")
    fsckClean(root, "delete")

    // 3. replace (in-range)
    val target = corpus.find(_.conv_id == "conv-00000010").get
    val replaced = Seq(target.copy(text = "zzinc replaced body needlemid w0000"))
    IndexMaintenance.replaceTurns(spark, root, replaced)
    put(replaced)
    assert(IndexMaintenance.lastKeyCheckShards.get() >= 1)
    fsckClean(root, "replace")

    // 4. backfill append sorting BEFORE the corpus: also zero-scan (no
    // committed shard's range reaches below "conv-")
    val backfill = Seq(Turn("aaa-backfill", 0, "user", "zzinc backfill", "", ts))
    IndexMaintenance.appendConversations(spark, root, backfill)
    put(backfill)
    fsckClean(root, "backfill append")

    // 5. pruned dup/missing checks still enforce key discipline
    intercept[IllegalArgumentException] {
      IndexMaintenance.appendConversations(spark, root, Seq(corpus.head))
    }
    intercept[IllegalArgumentException] {
      IndexMaintenance.replaceTurns(spark, root, Seq(
        Turn("zz-not-there", 0, "user", "x", "", ts)))
    }
    // an out-of-range replace key is proven missing by the manifest alone
    assert(IndexMaintenance.lastKeyCheckShards.get() == 0,
      "beyond-range replace key needs no shard scan to be rejected")

    // 6. rank parity against the scalar oracle over the final state
    val m1 = IndexManifest.read(root).get
    assert(m1.avgdl == m1.sumDl.toDouble / m1.nDocs)
    Seq(("needlemid w0000", "AND", 10), ("zzinc", "OR", 10)).foreach {
      case (q, mo, k) =>
        val wand = SearchEngine.query(spark, root, q, mo, k)
        assert(wand == LiveOracle.topK(spark, root, live.values, q, mo, k),
          s"post-chain parity '$q' [$mo]")
    }
  }

  test("30-op mixed chain: rolled totals accumulate NO drift (streaming-ingest cadence)") {
    // the incremental roll-forward's failure mode is cumulative drift —
    // any error in one op's delta poisons every later snapshot. Drive a
    // seeded mixed sequence at micro-batch cadence and prove the final
    // state byte-exact against full recomputation + the scalar oracle.
    val corpus = TranscriptGen.corpus(seed = 33L, nConvs = 100)
    val root = SparkTestBase.tmpDir("graft-chain30")
    IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    val rnd = new scala.util.Random(404L)
    var appended = 0
    val live = scala.collection.mutable.Map(corpus.map(t => (t.conv_id, t.turn_idx) -> t): _*)
    def liveConvs = live.keySet.map(_._1)
    (1 to 30).foreach { i =>
      rnd.nextInt(10) match {
        case d if d < 6 => // time-ordered micro-append (the hot path)
          appended += 1
          val conv = f"zz-chain-$appended%04d"
          val turns = (0 until 1 + rnd.nextInt(3)).map(j =>
            Turn(conv, j, "user", s"zzchain $conv turn $j w000${rnd.nextInt(5)}",
              "", ts))
          IndexMaintenance.appendConversations(spark, root, turns)
          turns.foreach(t => live((t.conv_id, t.turn_idx)) = t)
          assert(IndexMaintenance.lastKeyCheckShards.get() == 0,
            s"op $i: time-ordered append must scan zero shards")
        case d if d < 8 => // delete a random live conv
          val victim = liveConvs.toSeq.sorted.apply(rnd.nextInt(liveConvs.size))
          IndexMaintenance.deleteConversations(spark, root, Set(victim))
          live.filterInPlace { case ((conv, _), _) => conv != victim }
        case _ => // replace a RANDOM surviving fixture turn (any shard)
          val survivors = corpus.filter(t => liveConvs(t.conv_id))
          if (survivors.nonEmpty) {
            val old = survivors(rnd.nextInt(survivors.size))
            val t = old.copy(text = s"zzreplaced op$i ${old.text.take(30)}")
            IndexMaintenance.replaceTurns(spark, root, Seq(t))
            live((t.conv_id, t.turn_idx)) = t
          }
      }
      if (i % 10 == 0) fsckClean(root, s"op $i")
      if (i == 15) {
        // mid-chain compaction: merging micro-batch fragments must
        // compose with the incremental roll-forward (totals unchanged)
        val mPre = IndexManifest.read(root).get
        IndexMaintenance.compactShards(spark, root,
          maxDocsPerShard = 100000L, smallShardDocs = 200L)
        val mPost = IndexManifest.read(root).get
        assert(mPost.inputFingerprint == mPre.inputFingerprint &&
          mPost.nDocs == mPre.nDocs && mPost.sumDl == mPre.sumDl,
          "compaction must preserve every rolled total")
        fsckClean(root, "mid-chain compaction")
      }
    }
    fsckClean(root, "final")
    val m = IndexManifest.read(root).get
    assert(m.avgdl == m.sumDl.toDouble / m.nDocs)
    // rank parity on the final state
    Seq(("needlemid w0000", "AND", 10), ("zzchain", "OR", 20),
        ("w0000", "OR", 15)).foreach { case (q, mo, k) =>
      val wand = SearchEngine.query(spark, root, q, mo, k)
      assert(wand == LiveOracle.topK(spark, root, live.values, q, mo, k),
        s"post-chain parity '$q' [$mo]")
    }
    // the previous snapshot stays time-travel-queryable after the chain
    val vs = IndexManifest.versions(root)
    assert(SearchEngine.queryAt(spark, root, vs.init.last,
      "needlemid w0000", "AND", 5).nonEmpty ||
      SearchEngine.queryAt(spark, root, vs.init.last,
        "w0000", "OR", 5).nonEmpty)
  }

  test("fsck detects a manifest whose totals were corrupted") {
    val corpus = TranscriptGen.corpus(seed = 32L, nConvs = 40)
    val root = SparkTestBase.tmpDir("graft-fsckbad")
    IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    fsckClean(root, "build")
    val m = IndexManifest.read(root).get
    IndexManifest.commit(root, m.copy(snapshotId = m.snapshotId + 1,
      nDocs = m.nDocs + 7)) // corrupt on purpose
    val problems = IndexMaintenance.verifyManifest(spark, root)
    assert(problems.exists(_.contains("nDocs")), s"got: $problems")
  }

  test("deep fsck reports a df = 0 dictionary row") {
    val corpus = TranscriptGen.corpus(seed = 33L, nConvs = 40)
    val root = SparkTestBase.tmpDir("graft-fsck-dfzero")
    IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    fsckClean(root, "build")
    // no maintenance op writes a df = 0 row: plant one in the generation
    val statsDir = IndexSnapshot.termStatsPath(root, IndexManifest.read(root).get)
    val rows = spark.read.parquet(statsDir).collect()
    spark.createDataFrame(java.util.Arrays.asList(
        rows :+ org.apache.spark.sql.Row("zzdfzero", 0L, 0, 0L): _*), rows.head.schema)
      .coalesce(1).write.mode("overwrite").parquet(statsDir)
    val problems = IndexMaintenance.verifyManifest(spark, root, deep = true)
    assert(problems.exists(_.contains("term_stats diverges")), s"got: $problems")
    assert(IndexMaintenance.verifyManifest(spark, root).isEmpty,
      "the shallow check does not read the dictionary")
  }
}
