package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCounter, SparkTestBase}
import graft.fixtures.TranscriptGen
import graft.index.{IndexBuilder, IndexManifest, IndexMaintenance}
import graft.model.Turn
import graft.oracle.Oracle

/** Spark jobs and tasks per query. Planning reads the snapshot-resident
  * dictionary (IndexSnapshot.dictionary), so once a generation is loaded a
  * query is exactly its executor's one job, a snippet query adds one
  * pruned doc lookup, and a query with nothing to search runs none. The
  * executor packs whole shard files into at most `defaultParallelism`
  * tasks, so the 8-shard fixture on `local[4]` scans in one wave. */
class JobCountSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val ts = new java.sql.Timestamp(1700000000000L)
  private lazy val corpus = TranscriptGen.corpus(seed = 61L, nConvs = 120)
  private lazy val root = {
    val r = SparkTestBase.tmpDir("graft-jobcount")
    IndexBuilder.build(spark, spark.createDataset(corpus), r,
      shards = 8, waveSize = 8, maxChunkPostings = 64, positions = true)
    r
  }

  private def jobs[A](body: => A): (A, graft.JobCount) = JobCounter.count(spark)(body)

  private def cores = spark.sparkContext.defaultParallelism

  test("a warm query of every mode is one job; all-absent MUST terms are none") {
    val oracle = new Oracle(corpus)
    SearchEngine.query(spark, root, "needlemid", "AND", 10) // loads the dictionary
    val modes: Seq[(String, () => Vector[graft.model.SearchHit], Vector[graft.model.SearchHit])] = Seq(
      ("AND", () => SearchEngine.query(spark, root, "needlemid w0000", "AND", 10),
        oracle.topK("needlemid w0000", "AND", 10)),
      ("OR", () => SearchEngine.query(spark, root, "needlemid w0001", "OR", 10),
        oracle.topK("needlemid w0001", "OR", 10)),
      ("QueryParser bool", () => QueryParser.search(spark, root, "+needlemid w0000 -w0001", 10),
        oracle.boolTopK("needlemid", "w0000", "w0001", k = 10)),
      ("phrase", () => SearchEngine.phraseTopK(spark, root, "stopish needlemid", 10),
        oracle.phraseTopK("stopish needlemid", 10)),
      ("NEAR", () => SearchEngine.nearTopK(spark, root, "needlemid w0000", 2, 10),
        oracle.nearTopK("needlemid w0000", 2, 10)),
      ("prefix", () => SearchEngine.prefixTopK(spark, root, "w000", 10),
        oracle.prefixTopK("w000", 10)),
      ("fuzzy", () => SearchEngine.fuzzyTopK(spark, root, "needlemd", 1, 10),
        oracle.fuzzyTopK("needlemd", 1, 10)),
      ("wildcard", () => SearchEngine.wildcardTopK(spark, root, "w00?3", 10),
        oracle.wildcardTopK("w00?3", 10)))
    modes.foreach { case (name, run, expected) =>
      val (hits, c) = jobs(run())
      assert(hits.nonEmpty && hits == expected, s"$name answer")
      assert(c.jobs == 1, s"warm $name query: $c")
      assert(c.tasks(0) <= cores, s"warm $name query packs its 8 shards: $c")
    }
    val (none, c) = jobs(SearchEngine.query(spark, root, "zzabsent qqnowhere", "AND", 10))
    assert(none.isEmpty)
    assert(c.jobs == 0, s"all-absent MUST terms: $c")
  }

  test("a positions-free rescan runs at most defaultParallelism tasks per stage") {
    val r = SparkTestBase.tmpDir("graft-jobcount-nopos")
    IndexBuilder.build(spark, spark.createDataset(corpus), r,
      shards = 8, waveSize = 8, maxChunkPostings = 64)
    assert(!IndexManifest.readCached(r).get.positions)
    val oracle = new Oracle(corpus)
    SearchEngine.query(spark, r, "needlemid", "AND", 10) // loads the dictionary
    Seq(
      ("phrase", () => SearchEngine.phraseTopK(spark, r, "stopish needlemid", 10),
        oracle.phraseTopK("stopish needlemid", 10)),
      // hot terms: candidates in all 8 shards, so the doc lookup reads them all
      ("NEAR", () => SearchEngine.nearTopK(spark, r, "roleuser w0000", 30, 10),
        oracle.nearTopK("roleuser w0000", 30, 10))).foreach { case (name, run, expected) =>
      val (hits, c) = jobs(run())
      assert(hits.nonEmpty && hits == expected, s"rescan $name answer")
      assert(c.stages.nonEmpty && c.stages.forall(_ <= cores), s"rescan $name stages: $c")
      // the candidate pass, the candidates' broadcast and the docs join;
      // the count and the shard list come back in the pass's accumulator
      assert(c.jobs == 4, s"rescan $name jobs: $c")
    }
  }

  test("a warm snippet query is two jobs; the lookup reads only the hits' shards") {
    SearchEngine.query(spark, root, "needlemid", "AND", 10)
    val (rows, c) = jobs(SearchEngine.queryWithSnippets(spark, root, "needlemid w0000", "AND", 10))
    assert(rows.nonEmpty)
    val m = IndexManifest.readCached(root).get
    val hitShards = rows.map(_._1).flatMap(d =>
      m.shards.find(e => e.minDocId <= d && d <= e.maxDocId).map(_.shard)).distinct
    assert(hitShards.size < m.shards.count(_.minDocId >= 0),
      s"the hits must leave some shard unread for the check to bite: $hitShards")
    assert(c.jobs == 2, s"snippet query: $c")
    assert(c.tasks(0) <= cores, s"snippet query search: $c")
    assert(c.tasks(1) <= hitShards.size, s"lookup tasks vs hit shards $hitShards: $c")
  }

  test("after an append the first query loads the new generation, the next is one job; compaction keeps it") {
    val r = SparkTestBase.tmpDir("graft-jobcount-maint")
    IndexBuilder.build(spark, spark.createDataset(corpus), r,
      shards = 4, waveSize = 4, maxChunkPostings = 64, positions = true)
    def ask() = SearchEngine.query(spark, r, "needlemid w0000", "AND", 10)
    ask()
    (1 to 2).foreach { i =>
      IndexMaintenance.appendConversations(spark, r, Seq(
        Turn(s"zz-jc-$i", 0, "user", s"needlemid w0000 zzjobcount $i", "", ts)))
    }
    val (first, c1) = jobs(ask())
    assert(first.exists(h => h.docId >= corpus.size), "the appended docs must answer")
    assert(c1.jobs <= 2, s"first query after an append: $c1")
    assert(jobs(ask())._2.jobs == 1, "second query after an append")
    val statsGen = IndexManifest.readCached(r).get.statsGen
    val absorbed = IndexMaintenance.compactShards(spark, r,
      maxDocsPerShard = 100000L, smallShardDocs = 100L)
    assert(absorbed.nonEmpty, "the two append shards must merge")
    assert(IndexManifest.readCached(r).get.statsGen == statsGen)
    val (after, c3) = jobs(ask())
    assert(after == first)
    assert(c3.jobs == 1, s"query after compaction: $c3")
  }
}
