package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.fixtures.TranscriptGen
import graft.oracle.Oracle
import graft.query.SearchEngine

/** docId integrity at a scale where range-boundary drift shows.
  *
  * The r01 assigner ran its counting and assignment passes as two
  * separate Dataset actions over `repartitionByRange`, and each action
  * re-sampled the range boundaries — beyond the sample size the two
  * passes could disagree, producing DUPLICATE and missing docIds near
  * shard boundaries (observed at 4.5M docs: the same docId held two
  * different documents in two shards, silently corrupting both query
  * paths). Small fixtures never caught it because the sample covers the
  * whole corpus. This spec builds ~135k docs — far beyond the ~200-keys-
  * per-partition sample — and pins the invariants that failed:
  *
  *  - docIds are dense: distinct == count == max+1 (no dup, no gap);
  *  - every (conv_id, turn_idx) key appears exactly once;
  *  - manifest shard ranges are disjoint and cover 0..N-1;
  *  - queries equal the scalar oracle's (they diverged under the bug);
  *  - the build is replay-deterministic: a second build from the same
  *    input into a fresh root yields byte-identical docId assignment.
  */
class DocIdIntegritySpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val nConvs = 30000L

  private def buildOne(): String = {
    val root = SparkTestBase.tmpDir("graft-docid-int")
    IndexBuilder.build(spark,
      TranscriptGen.dataset(spark, seed = 9L, nConvs = nConvs, partitions = 32),
      root, shards = 8, waveSize = 8)
    root
  }

  private lazy val root = buildOne()

  test("docIds dense and unique at 135k docs; keys unique") {
    val d = IndexBuilder.loadDocs(spark, root)
    val agg = d.agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.countDistinct($"docId"),
      org.apache.spark.sql.functions.max($"docId")).head()
    val (n, distinct, maxId) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    assert(distinct == n, s"duplicate docIds: $distinct distinct of $n rows")
    assert(maxId == n - 1, s"docId gaps: max=$maxId n=$n")
    val dupKeys = d.groupBy($"conv_id", $"turn_idx")
      .count().filter($"count" > 1).count()
    assert(dupKeys == 0L)
  }

  test("manifest shard ranges disjoint and covering") {
    val m = IndexManifest.read(root).get
    val ranged = m.shards.filter(_.minDocId >= 0).sortBy(_.minDocId)
    assert(ranged.head.minDocId == 0L)
    assert(ranged.last.maxDocId == m.nDocs - 1)
    ranged.sliding(2).foreach {
      case Seq(a, b) => assert(b.minDocId == a.maxDocId + 1,
        s"shards ${a.shard}/${b.shard} ranges not contiguous")
      case _ => ()
    }
  }

  test("queries rank-identical to the oracle at this scale") {
    // the same turns the build's `dataset` generates, conv by conv
    val oracle = new Oracle(TranscriptGen.corpus(seed = 9L, nConvs = nConvs.toInt))
    Seq(("needlemid w0000", "AND", 10), ("needlemid", "OR", 10),
        ("w0001 w0002", "AND", 10)).foreach { case (q, m, k) =>
      val wand = SearchEngine.query(spark, root, q, m, k)
      assert(wand == oracle.topK(q, m, k), s"engine vs oracle on '$q' [$m]")
      assert(wand.nonEmpty)
    }
  }

  test("shuffle-key steering: repartition slot == predicted pid, all tasks 1:1") {
    // DocIdAssigner steers each range bucket to exactly one shuffle task
    // by inverting Spark's HashPartitioning (pmod(Murmur3Hash(seed=42), n))
    // driver-side. This pins the internal-hash assumption: if a Spark
    // upgrade changes the partitioning function, this fails loudly instead
    // of silently regressing the assigner back to ~1/e empty tasks.
    import org.apache.spark.sql.functions._
    Seq(3, 8, 32, 100).foreach { n =>
      val keys = DocIdAssigner.steeringKeys(n)
      assert(keys.distinct.length == n, s"steering keys not distinct for n=$n")
      val rows = spark.range(n.toLong)
        .select($"id".cast("int").as("pid"))
        .withColumn("pkey", udf((pid: Int) => keys(pid)).apply($"pid"))
        .repartition(n, $"pkey")
        .withColumn("part", spark_partition_id())
        .collect()
        .map(r => r.getInt(0) -> r.getInt(2))
      rows.foreach { case (pid, part) =>
        assert(part == pid,
          s"pid $pid landed in task $part (n=$n) — steering inversion broken")
      }
    }
  }

  test("assignment is replay-deterministic across independent builds") {
    val root2 = buildOne()
    val a = IndexBuilder.loadDocs(spark, root)
      .select($"docId", $"conv_id", $"turn_idx")
    val b = IndexBuilder.loadDocs(spark, root2)
      .select($"docId", $"conv_id", $"turn_idx")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "two builds from identical input assigned different docIds")
  }
}
