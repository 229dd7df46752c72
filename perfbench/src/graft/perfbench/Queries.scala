package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.analysis.Analyzer
import graft.model.{SearchHit, Turn}
import graft.oracle.Oracle
import graft.query.{QueryParser, SearchEngine}

/** One query of the benchmark's stream: how the engine runs it (through
  * the public function the `Query` main calls for that mode) and how the
  * scalar [[Oracle]] answers it. `cls` is the per-layer class it counts
  * under: and, or, bool, phrase, near, expand or snippets. */
sealed trait Query {
  def cls: String
  def label: String
  def run(spark: SparkSession, root: String): Vector[SearchHit]
  def expect(o: Oracle): Vector[SearchHit]
}

object Query {
  final case class Terms(text: String, mode: String, k: Int) extends Query {
    def cls: String = mode.toLowerCase
    def label: String = s"$mode k=$k: $text"
    def run(spark: SparkSession, root: String): Vector[SearchHit] =
      SearchEngine.query(spark, root, text, mode, k)
    def expect(o: Oracle): Vector[SearchHit] = o.topK(text, mode, k)
  }

  /** Lucene query string `+must should -not`, through [[QueryParser.search]]. */
  final case class Bool(must: String, should: String, not: String, k: Int) extends Query {
    def cls = "bool"
    def text: String = (must.split(' ').filter(_.nonEmpty).map("+" + _) ++
      should.split(' ').filter(_.nonEmpty) ++
      not.split(' ').filter(_.nonEmpty).map("-" + _)).mkString(" ")
    def label: String = s"BOOL k=$k: $text"
    def run(spark: SparkSession, root: String): Vector[SearchHit] =
      QueryParser.search(spark, root, text, k)
    def expect(o: Oracle): Vector[SearchHit] = o.boolTopK(must, should, not, 0, k)
  }

  final case class Phrase(text: String, k: Int) extends Query {
    def cls = "phrase"
    def label: String = s"PHRASE k=$k: $text"
    def run(spark: SparkSession, root: String): Vector[SearchHit] =
      SearchEngine.phraseTopK(spark, root, text, k)
    def expect(o: Oracle): Vector[SearchHit] = o.phraseTopK(text, k)
  }

  final case class Near(text: String, slop: Int, k: Int) extends Query {
    def cls = "near"
    def label: String = s"NEAR/$slop k=$k: $text"
    def run(spark: SparkSession, root: String): Vector[SearchHit] =
      SearchEngine.nearTopK(spark, root, text, slop, k)
    def expect(o: Oracle): Vector[SearchHit] = o.nearTopK(text, slop, k)
  }

  final case class Prefix(prefix: String, k: Int) extends Query {
    def cls = "expand"
    def label: String = s"PREFIX k=$k: $prefix"
    def run(spark: SparkSession, root: String): Vector[SearchHit] =
      SearchEngine.prefixTopK(spark, root, prefix, k)
    def expect(o: Oracle): Vector[SearchHit] = o.prefixTopK(prefix, k)
  }

  final case class Fuzzy(term: String, edits: Int, prefixLen: Int, k: Int) extends Query {
    def cls = "expand"
    def label: String = s"FUZZY~$edits/$prefixLen k=$k: $term"
    def run(spark: SparkSession, root: String): Vector[SearchHit] =
      SearchEngine.fuzzyTopK(spark, root, term, edits, k, prefixLen)
    def expect(o: Oracle): Vector[SearchHit] = o.fuzzyTopK(term, edits, k, prefixLen)
  }

  final case class Wildcard(pattern: String, k: Int) extends Query {
    def cls = "expand"
    def label: String = s"WILDCARD k=$k: $pattern"
    def run(spark: SparkSession, root: String): Vector[SearchHit] =
      SearchEngine.wildcardTopK(spark, root, pattern, k)
    def expect(o: Oracle): Vector[SearchHit] = o.wildcardTopK(pattern, k)
  }

  /** AND with snippets (the `/api/search` response shape); the ranked
    * part is checked, the snippet text only for being present. */
  final case class Snippets(text: String, k: Int) extends Query {
    def cls = "snippets"
    def label: String = s"SNIPPETS k=$k: $text"
    def run(spark: SparkSession, root: String): Vector[SearchHit] =
      SearchEngine.queryWithSnippets(spark, root, text, "AND", k).map { r =>
        require(r._3 != null && r._3.nonEmpty, s"empty snippet for doc ${r._1}")
        SearchHit(r._1, r._2)
      }.toVector
    def expect(o: Oracle): Vector[SearchHit] = o.topK(text, "AND", k)
  }

  val Classes: Seq[String] = Seq("and", "or", "bool", "phrase", "near", "expand", "snippets")
}

/** Seeded query streams over a `TranscriptGen` corpus. Terms are drawn by
  * Zipf rank band of the generator's vocabulary (w0000 is the most
  * frequent word): hot = ranks 0-9, head = 0-49, mid = 100-999,
  * rare = 1000-4999. Phrase and NEAR bodies are cut from a random turn of
  * the corpus, so they match at least that turn.
  *
  * The class shares are chosen, not measured: the repository holds no
  * query log. They lean on the shape the reference's `/api/search`
  * serves (AND over the query's terms, with snippets) and keep one slot
  * for each other executor so that each is exercised. */
object QueryGen {
  /** Length of the read mix's class cycle. */
  val Cycle = 16
}

final class QueryGen(seed: Long, corpus: IndexedSeq[Turn]) {
  private val rng = new Random(seed * 7919L + 17L)

  private def word(lo: Int, hi: Int): String = f"w${lo + rng.nextInt(hi - lo + 1)}%04d"
  private def hot = word(0, 9)
  private def head = word(0, 49)
  private def mid = word(100, 999)
  private def rare = word(1000, 4999)

  private def tokensOfRandomTurn(minLen: Int): Vector[String] = {
    var toks = Vector.empty[String]
    while (toks.length < minLen)
      toks = Analyzer.tokens(corpus(rng.nextInt(corpus.length)).text)
    toks
  }

  def phrase(): Query = {
    val t = tokensOfRandomTurn(4)
    val i = 1 + rng.nextInt(t.length - 2) // skip the role token
    Query.Phrase(s"${t(i)} ${t(i + 1)}", 10)
  }

  def near(): Query = {
    val t = tokensOfRandomTurn(6)
    val d = 1 + rng.nextInt(3)
    val i = 1 + rng.nextInt(t.length - 1 - d)
    Query.Near(s"${t(i)} ${t(i + d)}", d, 10)
  }

  /** The read mix: one 16-slot cycle fixes the class shares, and what each
    * share is there to exercise:
    *  - AND with snippets 6/16 (rare+mid, mid+mid, mid+head, rare+head,
    *    mid+hot, hot+hot): the reference's response shape, so the largest
    *    share; the ranked intersection plus the snippet fetch.
    *  - AND 3/16 (rare+mid, mid+mid, hot+hot): the ranked intersection
    *    alone, so the snippet cost can be told apart.
    *  - OR 1/16 (2-4 head terms, k 10/50/100): the WAND union over long lists.
    *  - Lucene boolean `+must should -not` 1/16: the query parser and the
    *    boolean executor.
    *  - phrase 1/16 and NEAR 1/16: the positional walk.
    *  - PREFIX, FUZZY (1 edit, prefix 3) and WILDCARD 1/16 each: the
    *    dictionary expansions. */
  def mix(n: Int): Vector[Query] = Vector.tabulate(n) { i =>
    (i % QueryGen.Cycle) match {
      case 0 => Query.Snippets(s"$rare $mid", 10)
      case 1 => Query.Snippets(s"$mid $mid", 10)
      case 2 => Query.Snippets(s"$mid $head", 10)
      case 3 => Query.Snippets(s"$rare $head", 10)
      case 4 => Query.Snippets(s"$mid $hot", 10)
      case 5 => Query.Snippets(s"$hot $hot", 10)
      case 6 => Query.Terms(s"$rare $mid", "AND", 10)
      case 7 => Query.Terms(s"$mid $mid", "AND", 10)
      case 8 => Query.Terms(s"$hot $hot", "AND", 10)
      case 9 =>
        val terms = Seq.fill(2 + rng.nextInt(3))(head).distinct
        Query.Terms(terms.mkString(" "), "OR", Seq(10, 50, 100)(rng.nextInt(3)))
      case 10 => Query.Bool(mid, s"$head $head", mid, 10)
      case 11 => phrase()
      case 12 => near()
      case 13 => Query.Prefix(f"w${rng.nextInt(500)}%03d", 10)
      case 14 => Query.Fuzzy(mid, 1, 3, 10)
      case _ =>
        if (rng.nextBoolean()) Query.Wildcard(s"w0${rng.nextInt(10)}?${rng.nextInt(10)}", 10)
        else Query.Wildcard(f"w${rng.nextInt(50)}%02d*", 10)
    }
  }

  /** The selective reads of the write workload, one per slot of a round
    * (see `Ingest.Round`): AND with snippets, AND, phrase, AND with
    * snippets, boolean, AND. */
  def selective(n: Int): Vector[Query] = Vector.tabulate(n) { i =>
    (i % 6) match {
      case 0 => Query.Snippets(s"$rare $mid", 10)
      case 1 => Query.Terms(s"$rare $mid", "AND", 10)
      case 2 => phrase()
      case 3 => Query.Snippets(s"$mid $mid", 10)
      case 4 => Query.Bool(mid, head, mid, 10)
      case _ => Query.Terms(s"$mid $mid", "AND", 10)
    }
  }
}
