package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.tokenize.Tokenizer

/** Secondary re-ranking pass (SURVEY §2.4 Q7) — the engine analog of
  * the reference's cross-encoder rerank (`src/reranker.py:32-117`).
  * The reference's ML model is unavailable offline, so per SURVEY the
  * second signal is a deterministic term-PROXIMITY bonus: candidates
  * whose text contains adjacent query-term pairs score higher.
  *
  * Reference semantics ported exactly:
  *  - reorders WITHOUT filtering (`src/reranker.py:111-115`)
  *  - stable two-key sort: (round(rerank_score, 3) desc, original
  *    score desc) (`src/reranker.py:99-109`), doc key as final tie
  *
  * rerank_score = score + 0.1 * min(adjacent_pairs, 5)
  *
  * Two forms, kept equal: the column form ([[apply]]) for DataFrame
  * callers, and the plain-Scala form ([[rerankScore]]) the serving
  * path runs over its bounded candidate rows.
  */
object Rerank {

  val PairBonus = 0.1
  val MaxPairs = 5

  /** Count of adjacent token positions where BOTH tokens are query
    * terms — pure column math over the tokenized text (codegen).
    */
  def adjacentPairCount(text: Column, qTerms: Seq[String]): Column = {
    val tk = Tokenizer.tokensCol(text)
    // isin, not array_contains(<literal array>): see Tokenizer.tokensCol
    val terms = qTerms.distinct.sorted
    size(filter(
      zip_with(tk, slice(tk, lit(2), greatest(size(tk) - 1, lit(1))), (a, b) =>
        a.isin(terms: _*) && b.isin(terms: _*)),
      x => x))
  }

  /** Plain-Scala twin of the column form over a [[Tokenizer.tokenize]]
    * token array: positions i where tokens i and i+1 are both terms.
    */
  def adjacentPairCount(tokens: Array[String], terms: Set[String]): Int =
    (0 until tokens.length - 1).count(i => terms(tokens(i)) && terms(tokens(i + 1)))

  /** One candidate's rerank_score, as [[apply]] computes it. A null
    * text has no pair count: `size` of its null token array is null
    * under ANSI, which `least` skips (bonus for [[MaxPairs]]), and -1
    * under `legacySizeOfNull`.
    */
  def rerankScore(score: Double, text: String, terms: Set[String],
      legacySizeOfNull: Boolean): Double = {
    val pairs =
      if (text == null) { if (legacySizeOfNull) -1 else MaxPairs }
      else math.min(adjacentPairCount(Tokenizer.tokenize(text), terms), MaxPairs)
    score + PairBonus * pairs.toDouble
  }

  /** Apply the proximity rerank to a candidate frame with columns
    * (score, text, doc_id, ...): adds rerank_score and re-sorts.
    */
  def apply(candidates: DataFrame, queryText: String): DataFrame = {
    val qTerms = Tokenizer.tokenize(queryText).distinct.sorted.toSeq
    if (qTerms.isEmpty) return candidates
    candidates
      .withColumn("rerank_score",
        col("score") + lit(PairBonus) *
          least(adjacentPairCount(col("text"), qTerms), lit(MaxPairs)).cast("double"))
      .orderBy(round(col("rerank_score"), 3).desc, col("score").desc, col("doc_id").asc)
  }
}
