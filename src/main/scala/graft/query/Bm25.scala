package graft.query

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** BM25 scoring (north rule: k1 = 1.2, b = 0.75), replacing the reference's
  * sum-tf relevance (SearchServiceImpl.java:202-245 — kept as
  * [[SearchEngine.queryRefCompat]]).
  *
  * idf uses the non-negative Robertson/Lucene form:
  *   idf(df) = ln( (N - df + 0.5) / (df + 0.5) + 1 )
  * term score:
  *   idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
  *
  * The scalar and the Column forms MUST be kept in lockstep: the scalar is
  * the oracle + WAND executor path, the Column form the gate family's
  * per-doc Catalyst pass (graft.entry.EntryQueries); rank-identity tests
  * compare them transitively (SURVEY.md §7.8.1).
  * Both compute in Double with the identical operation order, so results
  * are bit-equal.
  */
object Bm25 extends Serializable {
  val K1 = 1.2
  val B = 0.75

  /** Scalar form — oracle + posting-cursor executors.
    * StrictMath.log, NOT Math.log: Catalyst's Log expression evaluates
    * via StrictMath (platform-stable), and Math.log may use an intrinsic
    * that differs in the last ULP — which would break scalar↔column
    * bit-equality (caught by RandomCorporaSpec). */
  def idf(df: Long, nDocs: Long): Double =
    java.lang.StrictMath.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)

  def score(tf: Int, df: Long, dl: Int, nDocs: Long, avgdl: Double): Double =
    idf(df, nDocs) * tf * (K1 + 1.0) /
      (tf + K1 * (1.0 - B + B * dl / avgdl))

  /** Upper bound of a term's score given its max tf and the minimum
    * possible dl (dl >= tf, and the norm term is increasing in dl, so
    * dl = tf... conservatively dl = 1 is a valid bound but looser;
    * a doc containing the term tf times has dl >= tf). Used for WAND. */
  def upperBound(maxTf: Int, df: Long, nDocs: Long, avgdl: Double): Double =
    score(maxTf, df, math.max(1, maxTf), nDocs, avgdl)

  /** Column form — same operation order as [[score]] (pure builtins,
    * whole-stage-codegen'd; SURVEY.md §2.8 U5: no UDF needed). */
  def scoreCol(tf: Column, df: Column, dl: Column, nDocs: Long, avgdl: Double): Column =
    log((lit(nDocs.toDouble) - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0)) *
      tf * lit(K1 + 1.0) /
      (tf + lit(K1) * (lit(1.0 - B) + lit(B) * dl / lit(avgdl)))
}
