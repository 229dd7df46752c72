package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.{LiveOracle, SparkTestBase}
import graft.fixtures.TranscriptGen
import graft.model.Turn
import graft.query.SearchEngine

/** Shard compaction (the Lucene segment-merge / Iceberg
  * rewrite_data_files analog): micro-batch appends fragment the index
  * into tiny shards; compaction merges docId-adjacent runs into fewer
  * shards WITHOUT touching docIds, so every result, scope and stamp is
  * unchanged while manifest size and scan fan-out shrink. */
class CompactionSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val ts = new java.sql.Timestamp(1700000000000L)

  test("micro-batch fragments merge; results, scopes and fsck unchanged") {
    val corpus = TranscriptGen.corpus(seed = 41L, nConvs = 80)
    val root = SparkTestBase.tmpDir("graft-compact")
    IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    // simulate streaming ingest: 8 micro-batch appends → 8 tiny shards
    val batches = (1 to 8).map(i =>
      (0 until 2).map(j => Turn(f"zz-mb-$i%03d", j, "user",
        s"zzcompact batch $i turn $j needlemid w000${i % 5}", "", ts)))
    batches.foreach(b => IndexMaintenance.appendConversations(spark, root, b))
    val m0 = IndexManifest.read(root).get
    assert(m0.shards.size == 4 + 8)
    val queries = Seq(("needlemid w0000", "AND", 10), ("zzcompact", "OR", 20),
      ("w0001 w0002", "OR", 15))
    val before = queries.map { case (q, mo, k) =>
      SearchEngine.query(spark, root, q, mo, k) }
    val scopedBefore = SearchEngine.query(spark, root, "zzcompact", "OR", 10,
      convPrefix = Some("zz-mb-00"))

    // fragment threshold 100 docs: the 8 tiny append shards (2 docs
    // each) merge; the ~500-doc build shards are HEALTHY and untouched
    val absorbed = IndexMaintenance.compactShards(spark, root,
      maxDocsPerShard = 100000L, smallShardDocs = 100L)
    assert(absorbed.size == 7, s"8 fragments must merge into 1: $absorbed")
    val m1 = IndexManifest.read(root).get
    assert(m1.shards.size == m0.shards.size - 7,
      s"compaction must shrink the manifest: ${m0.shards.size} -> ${m1.shards.size}")
    // healthy build shards never rewritten (entries byte-identical)
    val buildIds = (0 until 4).toSet
    assert(m1.shards.filter(e => buildIds(e.shard)).sortBy(_.shard) ==
      m0.shards.filter(e => buildIds(e.shard)).sortBy(_.shard),
      "healthy shards must not be touched by fragment compaction")
    // merged entry carries the absorbed members as lineage
    val merged = m1.shards.find(e => !buildIds(e.shard) && e.minDocId >= 0).get
    assert(merged.sourcePartitions.toSet == (absorbed.toSet + merged.shard),
      s"merged lineage must list all members: ${merged.sourcePartitions}")
    // pure relabeling reuses the dictionary generation (zero dict I/O)
    assert(m1.statsGen == m0.statsGen,
      "compaction must reference the unchanged dictionary, not rewrite it")
    assert(m1.nDocs == m0.nDocs && m1.inputFingerprint == m0.inputFingerprint,
      "compaction must not change corpus content")
    // docId ranges still disjoint and covering the same ids
    val ranged = m1.shards.filter(_.minDocId >= 0).sortBy(_.minDocId)
    ranged.sliding(2).foreach {
      case Seq(a, b) => assert(b.minDocId > a.maxDocId,
        s"overlap between shards ${a.shard} and ${b.shard}")
      case _ => ()
    }
    assert(IndexMaintenance.verifyManifest(spark, root, deep = true).isEmpty)
    // identical results (docIds + bit-equal scores), unscoped and scoped
    queries.zip(before).foreach { case ((q, mo, k), expect) =>
      assert(SearchEngine.query(spark, root, q, mo, k) == expect,
        s"post-compaction '$q' [$mo]")
    }
    assert(SearchEngine.query(spark, root, "zzcompact", "OR", 10,
      convPrefix = Some("zz-mb-00")) == scopedBefore)
    // the scalar oracle over the live turns as the independent check
    assert(SearchEngine.query(spark, root, "needlemid w0000", "AND", 10) ==
      LiveOracle.topK(spark, root, corpus ++ batches.flatten, "needlemid w0000", "AND", 10))
    // layout stays aligned (one file per merged shard)
    assert(SearchEngine.alignedPostingsFor(spark, root, m1).isDefined,
      "compaction must preserve the one-file-per-shard layout")
    // pre-compaction snapshot still time-travel-queryable (grace)
    assert(SearchEngine.queryAt(spark, root, m0.snapshotId,
      "zzcompact", "OR", 20) == before(1))
    // IDEMPOTENT at fixed parameters: the merged fragment has no
    // ≥2-member group left to join, so a re-run does nothing
    assert(IndexMaintenance.compactShards(spark, root,
      maxDocsPerShard = 100000L, smallShardDocs = 100L).isEmpty,
      "re-running compaction with identical parameters must be a no-op")
    assert(IndexManifest.read(root).get.snapshotId == m1.snapshotId)
  }

  test("compaction is a no-op when shards already exceed the cap") {
    val corpus = TranscriptGen.corpus(seed = 42L, nConvs = 40)
    val root = SparkTestBase.tmpDir("graft-compact-noop")
    IndexBuilder.build(spark, spark.createDataset(corpus), root,
      shards = 4, waveSize = 4, maxChunkPostings = 64)
    val v0 = IndexManifest.read(root).get.snapshotId
    // cap below any single shard's range → no group of ≥2 fits
    assert(IndexMaintenance.compactShards(spark, root,
      maxDocsPerShard = 1L).isEmpty)
    assert(IndexManifest.read(root).get.snapshotId == v0,
      "a planning no-op must not commit")
  }
}
