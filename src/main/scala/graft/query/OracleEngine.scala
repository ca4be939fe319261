package graft.query

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Turn
import graft.tokenize.Tokenizer

/** Exhaustive DataFrame BM25 path (SURVEY §2.4 Q2 "oracle path"):
  * score-all via tokenize → explode → join query terms →
  * groupBy(doc).sum → TakeOrderedAndProject top-k. Fully
  * Catalyst-optimized (hash aggs, broadcast of the tiny query-term
  * side, whole-stage codegen), the role the reference's exhaustive
  * `IndexFlatIP` scan plays (`src/vector_index.py:78`).
  *
  * Per-doc scores fold per-term contributions in lexicographic term
  * order (array_sort + aggregate) so results are bit-reproducible and
  * comparable across engines (SURVEY §7.5).
  */
object OracleEngine {

  /** Above this many distinct query terms the per-term
    * `array_remove` tf arithmetic (O(dl·|q|) per doc) loses to the
    * explode + map-side-combined groupBy (O(dl) per doc, one
    * exchange); both branches produce identical rows (pinned by the
    * long-query parity test in EngineParitySpec).
    */
  private[graft] val ArrayTfMaxTerms = 16

  /** idf column mirroring [[Bm25.idf]]. */
  def idfCol(numDocs: Long, df: Column): Column =
    log((lit(numDocs.toDouble) - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))

  /** (numDocs, avgdl) memo keyed on caller-supplied corpus identity:
    * the stats pass is a full tokenize of the corpus, and every
    * oracle query over the same input recomputed it before scoring —
    * two corpus tokenizes per query. The indexed path reads these
    * from stats.json; this is the oracle path's equivalent artifact.
    * Callers that mutate a corpus under the same key must not pass a
    * key (default None = always recompute).
    */
  private val statsCache =
    new scala.collection.concurrent.TrieMap[String, (Long, Double)]

  /** Exhaustive scoring WITHOUT the top-k sort: every matching doc's
    * exact BM25 score. For callers that need the full score relation
    * (rank diagnosis, score statistics) — branching this instead of
    * sorting the whole corpus keeps the global sort out of plans that
    * never needed it.
    *
    * @return (conv_id, turn_idx, score, n_match), unordered
    */
  def scoreAll(
      spark: SparkSession,
      turns: Dataset[Turn],
      queryText: String,
      conjunctive: Boolean = false,
      minScore: Double = 0.0,
      statsKey: Option[String] = None): DataFrame =
    scoreAllKeyed(
      turns.select(col("conv_id"), col("turn_idx"), col("text")),
      Seq("conv_id", "turn_idx"), col("text"),
      queryText, conjunctive, minScore, statsKey)

  /** [[scoreAll]] over ANY (key..., text) relation — the transcript
    * corpus is keyed (conv_id, turn_idx), the documents table by
    * doc_id (Hybrid's keyword side). ONE copy of the
    * bit-exactness-critical BM25 pipeline (tokenize → tf/df → idf →
    * lexicographic fold) serves every caller; key column names must
    * not collide with {tk, dl, tc, term, tf, df, contrib, score,
    * n_match}.
    *
    * @return key columns + (score, n_match), unordered
    */
  def scoreAllKeyed(
      docs: DataFrame,
      keys: Seq[String],
      text: Column,
      queryText: String,
      conjunctive: Boolean = false,
      minScore: Double = 0.0,
      statsKey: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qTerms = Tokenizer.tokenize(queryText).distinct.sorted.toSeq
    val keyCols = keys.map(col)
    if (qTerms.isEmpty)
      return docs
        .select(keyCols :+ lit(0.0).as("score") :+ lit(0L).as("n_match"): _*)
        .limit(0)

    val toks = docs.select(keyCols :+ Tokenizer.tokensCol(text).as("tk"): _*)
      .withColumn("dl", size($"tk"))

    def computeStats(): (Long, Double) = {
      val statRow = toks.agg(count(lit(1)), sum($"dl")).collect()(0)
      val nd = statRow.getLong(0)
      val totalTokens = if (statRow.isNullAt(1)) 0L else statRow.getLong(1)
      (nd, if (nd == 0) 0.0 else totalTokens.toDouble / nd)
    }
    val (n, avgdl) = statsKey match {
      case Some(k) => statsCache.getOrElseUpdate(k, computeStats())
      case None => computeStats()
    }

    // Per-(doc, query-term) tf. Two formulations, same rows:
    //
    // Short queries (the serving/gate shape): tf(t) = size(tk) -
    // size(array_remove(tk, t)) per term, exploded from a LITERAL
    // struct array. Zero shuffle (no groupBy — the arithmetic is
    // per-row), and the Generate child is a fixed-size literal array,
    // so InferFiltersFromGenerate's `size(child) > 0` guard constant-
    // folds away instead of duplicating the tokenize expression into
    // a pushed-down Filter (the 2x-tokenize-per-row trap the old
    // explode($"tk") shape paid on every corpus scan). Cost is
    // O(dl·|q|) comparisons per doc, so long queries fall back to the
    // explode + map-side-combined groupBy, which stays O(dl) per doc.
    val tfRaw =
      if (qTerms.length <= ArrayTfMaxTerms) {
        val perTerm = array(qTerms.map(t =>
          struct(lit(t).as("term"),
            ($"dl" - size(array_remove($"tk", lit(t)))).as("tf"))): _*)
        toks
          .select(keyCols :+ $"dl" :+ explode(perTerm).as("tc"): _*)
          .select(keyCols :+ $"dl" :+ $"tc.term".as("term") :+
            $"tc.tf".as("tf"): _*)
          .filter($"tf" > 0)
      } else {
        toks
          .select(keyCols :+ $"dl" :+ explode($"tk").as("term"): _*)
          .groupBy(keyCols :+ $"dl" :+ $"term": _*)
          .agg(count(lit(1)).cast("int").as("tf"))
          .filter($"term".isin(qTerms: _*))
      }
    // df is a pure function of tf (count of docs per term), so derive
    // it from a lazily materialized tf instead of re-deriving the tf
    // subplan — which re-tokenized the WHOLE corpus a second time per
    // query. tf is term-filtered and per-(doc, matched-term), i.e.
    // ~dl-fold smaller than the exploded token relation whose
    // materialization measured slower than recompute (the VM
    // page-fault trap — see OPTIMIZATION_r06.md heavy-hitters note);
    // at sf0.1 it is tens of MB, and at any scale it is never larger
    // than what the scoring join must process anyway. Lazy: the first
    // action materializes it; dfT and the scoring branch then share
    // the blocks.
    //
    // Lifetime: the checkpointed blocks (MEMORY_AND_DISK on the
    // executors) stay until the driver garbage-collects this RDD and
    // ContextCleaner drops them, so a long session of oracle queries
    // holds each query's small tf until then. A local checkpoint is
    // not fault-tolerant: if an executor holding blocks is lost before
    // the consuming actions finish, they fail instead of recomputing —
    // sound in local mode (this oracle's use), not on a cluster that
    // loses executors.
    val tf = tfRaw.localCheckpoint(false)

    val dfT = tf.groupBy($"term").agg(count(lit(1)).as("df"))

    val contrib = tf
      .join(broadcast(dfT), "term")
      .withColumn("contrib",
        idfCol(n, $"df") *
          ($"tf" * lit(Bm25.K1 + 1.0) /
            ($"tf" + lit(Bm25.K1) *
              (lit(1.0 - Bm25.B) + lit(Bm25.B) * $"dl" / lit(avgdl)))))

    val scored = contrib
      .groupBy(keyCols: _*)
      .agg(
        aggregate(
          array_sort(collect_list(struct($"term", $"contrib"))),
          lit(0.0),
          (acc, x) => acc + x.getField("contrib")).as("score"),
        count(lit(1)).as("n_match"))

    (if (conjunctive) scored.filter($"n_match" === qTerms.length) else scored)
      .filter($"score" >= lit(minScore))
  }

  /** @return (conv_id, turn_idx, score, n_match) top-k rows */
  def topK(
      spark: SparkSession,
      turns: Dataset[Turn],
      queryText: String,
      k: Int,
      conjunctive: Boolean = false,
      minScore: Double = 0.0,
      statsKey: Option[String] = None): DataFrame =
    scoreAll(spark, turns, queryText, conjunctive, minScore, statsKey)
      .orderBy(desc("score"), asc("conv_id"), asc("turn_idx"))
      .limit(k)
      .select(col("conv_id"), col("turn_idx"), col("score"))
}
