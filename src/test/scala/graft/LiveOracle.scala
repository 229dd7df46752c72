package graft

import org.apache.spark.sql.SparkSession

import graft.index.IndexBuilder
import graft.model.{SearchHit, Turn}
import graft.oracle.Oracle

/** The scalar [[Oracle]]'s top-k in an index's OWN docIds, for an index
  * that went through appends, deletes or replaces: its docIds are no
  * longer the dense (conv_id, turn_idx) ranks the Oracle numbers by, so
  * the Oracle ranks every hit over the live turns, each hit maps to the
  * engine's docId by key through the docs table, and the list re-sorts
  * by (score desc, docId asc) before the cut. Scores are untouched, so an
  * engine answer must still equal this bit for bit. */
object LiveOracle {

  /** `live`: the index's current turns, which the spec tracks through
    * its maintenance ops; the docs table must hold exactly their keys. */
  def topK(spark: SparkSession, root: String, live: Iterable[Turn],
           query: String, mode: String, k: Int): Vector[SearchHit] = {
    val docIdOf = IndexBuilder.loadDocs(spark, root)
      .select("conv_id", "turn_idx", "docId").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val keys = live.map(t => (t.conv_id, t.turn_idx)).toSet
    require(keys == docIdOf.keySet && keys.size == live.size,
      s"docs table holds ${docIdOf.size} keys, the spec tracks ${live.size} turns")
    val oracle = new Oracle(live.toSeq)
    oracle.topK(query, mode, live.size).map { h =>
      val t = oracle.docs(h.docId.toInt)
      SearchHit(docIdOf((t.conv_id, t.turn_idx)), h.score)
    }.sortBy(h => (-h.score, h.docId)).take(k)
  }
}
