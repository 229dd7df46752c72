package graft.analysis

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.index.{IndexBuilder, IndexManifest}
import graft.model.Turn
import graft.oracle.Oracle
import graft.query.{SearchEngine, Snippets}

/** C6 morphology (VERDICT r01 item 8): the deterministic rule-based
  * stemmer must conflate the reference's inflection classes far enough to
  * reproduce its multi-lemma snippet golden natively
  * (GenerateSnippetActionTest.java:20-36), and a stemmed index must
  * retrieve inflected forms end-to-end with the analyzer version pinned
  * in the manifest. */
class StemmerSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("russian inflection classes conflate (Snowball semantics)") {
    assert(Seq("лошадь", "лошади", "лошадях", "лошадей")
      .map(Stemmer.stem).distinct.size == 1)
    assert(Seq("дикий", "дикой", "дикие").map(Stemmer.stem).distinct.size == 1)
    // participles of a different lemma must NOT conflate with the adjective
    assert(Stemmer.stem("одичавшие") != Stemmer.stem("дикий"))
    assert(Stemmer.stem("водились") != Stemmer.stem("лошадь"))
    // derivational: ость
    assert(Stemmer.stem("скорость") == Stemmer.stem("скорости"))
  }

  test("english inflection classes conflate (light rules)") {
    assert(Seq("merge", "merged", "merging").map(Stemmer.stem).distinct.size == 1)
    assert(Seq("run", "running", "runs").map(Stemmer.stem).distinct.size == 1)
    assert(Seq("study", "studies").map(Stemmer.stem).distinct.size == 1)
    assert(Seq("table", "tables").map(Stemmer.stem).distinct.size == 1)
    assert(Stemmer.stem("merge") != Stemmer.stem("merit"))
  }

  test("stemmer is total and deterministic on arbitrary tokens") {
    val inputs = Seq("", "a", "ab", "б", "ёж", "x1y2", "123", "mixedабв",
      "ы", "ьь", "иии", "nnn", "её", "ПРИВЕТ".toLowerCase)
    inputs.foreach { t =>
      val a = Stemmer.stem(t)
      val b = Stemmer.stem(t)
      assert(a == b)
      assert(a != null)
    }
  }

  test("reference multi-lemma snippet golden reproduces natively (ru morphology)") {
    // GenerateSnippetActionTest.java:20-36 — query lemmas {лошадь, дикий}
    // must bold the inflected surfaces лошади/лошадях/лошадей/дикой/дикие.
    val expected = "Домашняя <b>лошадь</b> - одомашненный потомок <b>дикой</b> <b>лошади</b>. Используется " +
      "человеком... времени. Наука о <b>лошадях</b> — иппология. В Европе <b>дикие</b> или одичавшие " +
      "<b>лошади</b> — тарпаны — водились... табун одичавших <b>лошадей</b> обитает в Ростовском... "
    val pageContent =
      """Домашняя лошадь - одомашненный потомок дикой лошади.
        |Используется человеком вплоть до настоящего времени. Наука о лошадях — иппология.
        |В Европе дикие или одичавшие лошади — тарпаны — водились ещё в первой половине
        |прошлого столетия. В России табун одичавших лошадей обитает в Ростовском заповеднике.""".stripMargin
    val got = Snippets.snippet(pageContent,
      Set("лошадь", "дикий").map(Stemmer.stem), normalize = Stemmer.stem)
    assert(got == expected)
  }

  test("stemmed index end-to-end: query lemma retrieves inflected docs") {
    val ts = new java.sql.Timestamp(1700000000000L)
    val turns = Seq(
      Turn("conv-a", 0, "user", "домашняя лошадь пасется в поле", "", ts),
      Turn("conv-a", 1, "user", "наука о лошадях называется иппология", "", ts),
      Turn("conv-b", 0, "user", "табун диких лошадей у реки", "", ts),
      Turn("conv-b", 1, "user", "merged branches need review", "", ts),
      Turn("conv-c", 0, "user", "merging the same branch twice", "", ts),
      Turn("conv-c", 1, "user", "совсем другой текст про корабли", "", ts))
    val root = SparkTestBase.tmpDir("graft-stem-idx")
    val built = IndexBuilder.build(spark, turns.toDS(), root,
      shards = 2, waveSize = 2, stem = true)
    assert(built.manifest.analyzerVersion == Analyzer.StemVersion)

    // query lemma "лошадь" must retrieve every inflected form
    val hits = SearchEngine.query(spark, root, "лошадь", "OR", 10)
    assert(hits.map(_.docId).toSet.size == 3, s"got $hits")
    // english: "merge" matches merged/merging
    val merges = SearchEngine.query(spark, root, "merge", "OR", 10)
    assert(merges.size == 2)
    // rank-identical (bit-equal scores) to a stemmed scalar oracle
    assert(hits == new Oracle(turns, Analyzer.StemVersion)
      .topK("лошадь", "OR", 10))
    // snippets bold the inflected surfaces
    val snip = SearchEngine.queryWithSnippets(spark, root, "лошадь", "OR", 3)
    assert(snip.nonEmpty)
    assert(snip.exists(_._3.contains("<b>лошадях</b>")) ||
      snip.exists(_._3.contains("<b>лошадей</b>")) ||
      snip.exists(_._3.contains("<b>лошадь</b>")), snip.map(_._3))

    // an UNSTEMMED index over the same corpus does NOT conflate — the
    // behavior is the version pinned in the manifest, not a global
    val root2 = SparkTestBase.tmpDir("graft-nostem-idx")
    IndexBuilder.build(spark, turns.toDS(), root2, shards = 2, waveSize = 2)
    assert(IndexManifest.read(root2).get.analyzerVersion == Analyzer.Version)
    val exact = SearchEngine.query(spark, root2, "лошадь", "OR", 10)
    assert(exact.map(_.docId).toSet.size == 1)
  }
}
