package graft.engine

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.fixtures.TranscriptGen
import graft.index.IndexBuilder
import graft.oracle.Oracle
import graft.query.SearchEngine

/** Rank-identity across RANDOM corpora (SURVEY.md §5.2.4 property:
  * engine == oracle on corpora the fixtures never shaped) —
  * catches anything overfit to the seed-42 fixture corpus. */
class RandomCorporaSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private val queries = Seq(
    ("w0000 w0001", "AND", 10), ("w0002 w0003 w0004", "AND", 10),
    ("needlemid w0005", "OR", 15), ("w0000", "OR", 50),
    ("roleuser roletool", "AND", 25), ("stopish w0001", "AND", 10))

  test("stemmed build: rank-identical to a stemmed oracle on a random corpus") {
    val corpus = TranscriptGen.corpus(seed = 404L, nConvs = 120)
    val oracle = new Oracle(corpus, graft.analysis.Analyzer.StemVersion)
    val root = SparkTestBase.tmpDir("graft-rand-stem")
    IndexBuilder.build(spark,
      spark.createDataset(corpus)(
        org.apache.spark.sql.Encoders.product[graft.model.Turn]),
      root, shards = 5, waveSize = 3, maxChunkPostings = 37, stem = true)
    queries.foreach { case (q, m, k) =>
      val expected = oracle.topK(q, m, k)
      assert(SearchEngine.query(spark, root, q, m, k) == expected,
        s"stemmed wand '$q' [$m]")
    }
    // scoped query on the stemmed index also uses the stemmed analyzer
    val pre = corpus.head.conv_id.take(10)
    assert(SearchEngine.query(spark, root, "w0000", "OR", 10,
      convPrefix = Some(pre)) ==
      oracle.topK("w0000", "OR", 10, convPrefix = Some(pre)))
  }

  Seq(101L, 202L, 303L).foreach { seed =>
    test(s"seed $seed: compressed + naive paths rank-identical to oracle") {
      val corpus = TranscriptGen.corpus(seed = seed, nConvs = 120)
      val oracle = new Oracle(corpus)
      val root = SparkTestBase.tmpDir(s"graft-rand$seed")
      IndexBuilder.build(spark,
        spark.createDataset(corpus)(
          org.apache.spark.sql.Encoders.product[graft.model.Turn]),
        root, shards = 5, waveSize = 3, maxChunkPostings = 37)
      queries.foreach { case (q, m, k) =>
        val expected = oracle.topK(q, m, k)
        assert(SearchEngine.query(spark, root, q, m, k) == expected,
          s"wand '$q' [$m] seed=$seed")
      }
    }
  }
}
