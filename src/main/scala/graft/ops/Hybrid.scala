package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.query.OracleEngine

/** Hybrid keyword + semantic retrieval — the reference's own stated
  * roadmap item (`SEMANTIC_SEARCH_IMPROVEMENTS.md`: combine BM25
  * keyword scores with embedding similarity; unimplemented there).
  *
  * Contract (deterministic, oracle-replayable):
  *   1. BM25 top-N over (id, text) — either the exhaustive oracle
  *      ([[bm25TopN]], the test twin) or, in serving, the WAND index
  *      via `api.SearchEngine.retrieveMapped` (rank-and-score-identical
  *      by EngineParitySpec; SparkEntry's q_hybrid_fusion wires that
  *      path);
  *   2. cosine top-N against a probe vector over (id, vec) — either
  *      brute-force ([[cosineTopN]], a collect of
  *      `Similarity.cosineTopK`) or the persisted-IVF probe path
  *      (Similarity.ivfTopKPruned) for the at-scale serving stack;
  *   3. full-outer join of the two TOP LISTS (fusion happens over the
  *      retrieved lists, never the corpora — the standard serving
  *      shape: each side's top-N is collected to the fusion node, the
  *      way any hybrid serving layer merges ranker outputs);
  *   4. min-max normalize each side over its own list
  *      (max == min → 1.0; missing from a list → 0.0);
  *   5. fused = alpha·bm25_norm + (1-alpha)·cos_norm, top-k by
  *      (fused desc, id asc).
  *
  * [[fuse]] is the ONE copy of steps 3-5: every retriever pairing
  * (oracle+brute, WAND+brute, WAND+IVF) funnels its two bounded lists
  * through it, so the normalization/tie contract exists exactly once.
  */
object Hybrid {

  /** Oracle-backed BM25 top-N list (score desc, id asc) over an
    * arbitrary (id, text) relation — a per-query corpus scan by
    * design: the ground-truth twin for the index-backed serving path,
    * never the serving plan itself. The scores come from
    * [[OracleEngine.scoreAllKeyed]] (the ONE copy of the
    * bit-exactness-critical BM25 pipeline; the transcript corpus calls
    * it keyed (conv_id, turn_idx), this one by id).
    */
  def bm25TopN(
      docs: DataFrame, id: Column, text: Column, queryText: String,
      n: Int, statsKey: Option[String] = None): Array[(Long, Double)] =
    OracleEngine.scoreAllKeyed(
      docs.select(id.as("id"), text.as("doc_text")),
      Seq("id"), col("doc_text"), queryText, statsKey = statsKey)
      .select(col("id"), col("score"))
      .orderBy(desc("score"), asc("id")).limit(n)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))

  /** Brute-force cosine top-N list (cos desc, id asc) against one
    * probe vector: [[Similarity.cosineTopK]], collected — the
    * exactness baseline for the semantic side.
    */
  def cosineTopN(
      emb: DataFrame, embId: Column, vec: Column,
      probeId: Long, n: Int): Array[(Long, Double)] =
    Similarity.cosineTopK(emb, embId, vec, probeId, n)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))

  /** Steps 3-5 of the contract over two already-retrieved bounded
    * lists: full-outer merge, per-side min-max normalization, α-fusion,
    * top-k by (fused desc, id asc). The lists are driver-resident by
    * construction (each is a retriever's top-N — the fusion node's
    * input in any serving topology), so the fusion arithmetic itself
    * runs ON THE DRIVER over ≤ 2N rows — spinning up a Spark job to
    * full-outer-join two ≤N-row local relations would pay fixed
    * planning/scheduling cost for no distributed work (same principle
    * as the IVF probe routing). Missing-from-a-list → 0.0; a
    * degenerate one-value list normalizes to 1.0; the result returns
    * as a local-relation DataFrame for downstream composition.
    */
  def fuse(
      spark: SparkSession,
      bmRows: Seq[(Long, Double)], vRows: Seq[(Long, Double)],
      alpha: Double, k: Int): DataFrame = {
    import spark.implicits._
    val (bMin, bMax) =
      if (bmRows.isEmpty) (0.0, 0.0)
      else (bmRows.map(_._2).min, bmRows.map(_._2).max)
    val (cMin, cMax) =
      if (vRows.isEmpty) (0.0, 0.0)
      else (vRows.map(_._2).min, vRows.map(_._2).max)
    // same op order as the DuckDB twin: (s - mn) / (mx - mn)
    def norm(s: Option[Double], mn: Double, mx: Double): Double = s match {
      case None => 0.0
      case Some(v) => if (mx > mn) (v - mn) / (mx - mn) else 1.0
    }
    val bm = bmRows.toMap
    val cs = vRows.toMap
    val ids = (bmRows.map(_._1) ++ vRows.map(_._1)).distinct
    // (fused desc, id asc) with Spark's NaN-as-largest placement, so a
    // NaN that leaks in from a degenerate semantic score ranks exactly
    // where the Column orderBy(desc) formulation would put it (first)
    val byFusedDescIdAsc: Ordering[(Long, Double, Double, Double)] =
      Ordering.by[(Long, Double, Double, Double), Double](_._4)(
        Ordering.Double.TotalOrdering.reverse).orElseBy(_._1)
    ids.map { id =>
        val bn = norm(bm.get(id), bMin, bMax)
        val cn = norm(cs.get(id), cMin, cMax)
        (id, bn, cn, alpha * bn + (1.0 - alpha) * cn)
      }
      .sorted(byFusedDescIdAsc)
      .take(k)
      .toDF("id", "bm25_norm", "cos_norm", "fused")
  }

  /** Oracle-backed hybrid top-k (exhaustive BM25 + brute cosine): the
    * deterministic ground-truth pairing. Serving swaps either side for
    * its index-backed equivalent and funnels through the same [[fuse]].
    *
    * @param docs   (id, text) corpus for the keyword side
    * @param emb    (id, vec) corpus for the semantic side
    * @param probeId id of the query vector within `emb`
    * @return (id, bm25_norm, cos_norm, fused) top-k rows
    */
  def hybridTopK(
      docs: DataFrame, id: Column, text: Column,
      emb: DataFrame, embId: Column, vec: Column,
      queryText: String, probeId: Long,
      alpha: Double, n: Int, k: Int,
      statsKey: Option[String] = None): DataFrame =
    fuse(docs.sparkSession,
      bm25TopN(docs, id, text, queryText, n, statsKey),
      cosineTopN(emb, embId, vec, probeId, n),
      alpha, k)
}
