package graft.query

import graft.index.SegmentIO.{DictEntry, IndexStats, PostingBlock}

/** The shard-search kernel: BM25 top-k of one query over one shard's
  * posting blocks and dl pages, and the merge of per-shard top-k lists
  * into the global one. Both serving paths run it — [[LocalIndex]] over
  * its resident blocks, [[graft.api.SearchEngine]]'s fan-out tasks over
  * the blocks each task reads from its own shard directory — so the two
  * rank identically by construction. Plays the part of the reference's
  * bounded top-k search (`src/vector_index.py:115-147`).
  */
object ShardSearch {

  /** A query term present in the dictionary, with its idf and its WAND
    * score upper bound.
    */
  final case class Term(term: String, idf: Double, bound: Double)

  /** One query as every shard runs it: its present terms in
    * lexicographic order (the score fold order), plus the segment
    * constants the scorer and the dl lookup need. This is all a fan-out
    * task receives besides its shard id.
    */
  final case class Query(
      terms: Array[Term],
      avgdl: Double,
      docsPerShard: Long,
      pageSize: Int,
      k: Int,
      minScore: Double,
      conjunctive: Boolean)

  /** A dictionary entry's (idf, WAND upper bound) under `stats`. */
  def weights(d: DictEntry, stats: IndexStats): (Double, Double) = {
    val idf = Bm25.idf(stats.numDocs, d.df)
    (idf, Bm25.boundScore(idf, d.max_tf, d.min_dl, stats.avgdl))
  }

  /** The shard-level query of `qTerms` (tokenized, distinct, sorted),
    * or None when no shard can match: no term is in the dictionary, or
    * an AND query has a term that is not. `weights(t)` is t's
    * (idf, bound), None for a term the dictionary lacks.
    */
  def query(
      qTerms: Array[String],
      weights: String => Option[(Double, Double)],
      stats: IndexStats,
      k: Int,
      minScore: Double,
      conjunctive: Boolean): Option[Query] = {
    val present = qTerms.flatMap(t => weights(t).map { case (idf, b) => Term(t, idf, b) })
    if (present.isEmpty || (conjunctive && present.length < qTerms.length)) None
    else Some(Query(present, stats.avgdl, stats.docsPerShard, stats.normsPageSize, k,
      minScore, conjunctive))
  }

  /** Top-k of `q` over one shard, (score desc, doc_id asc).
    *
    * @param blocks  the shard's posting blocks of a term, None when the
    *                shard holds none
    * @param dlPages the shard's decoded dl pages, indexed by page
    */
  def topK(
      q: Query,
      shard: Int,
      blocks: String => Option[Array[PostingBlock]],
      dlPages: Array[Array[Int]]): Array[(Long, Double)] = {
    val cursors = q.terms.flatMap(t =>
      blocks(t.term).map(new Wand.TermCursor(t.term, t.idf, t.bound, _, q.avgdl)))
    // an AND match lives in one doc, so this shard needs every term
    if (cursors.isEmpty || dlPages.isEmpty || (q.conjunctive && cursors.length < q.terms.length))
      Array.empty
    else {
      // two-level dl lookup: page = (doc - shardBase) / pageSize, then
      // in-page offset — no array scales with shard size, and no Long
      // difference is narrowed to Int before the page division
      val shardBase = shard.toLong * q.docsPerShard
      val dl = (d: Long) => {
        val rel = d - shardBase
        dlPages((rel / q.pageSize).toInt)((rel % q.pageSize).toInt)
      }
      if (q.conjunctive) Wand.topKConjunctive(cursors, dl, q.avgdl, q.k, q.minScore)
      else Wand.topKDisjunctive(cursors, dl, q.avgdl, q.k, q.minScore)
    }
  }

  /** Spark's order of doubles: -0.0 equals 0.0, NaN is the largest. */
  private[graft] def compareScores(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  private val byScoreDesc: Ordering[(Long, Double)] = (a, b) => {
    val c = compareScores(b._2, a._2)
    if (c != 0) c else java.lang.Long.compare(a._1, b._1)
  }

  /** The global top-k of per-shard hit lists: score descending in
    * Spark's double order, then doc_id ascending, then the first k —
    * what `orderBy(desc("score"), asc("doc_id")).limit(k)` returns over
    * their union.
    */
  def merge(perShard: Iterable[Array[(Long, Double)]], k: Int): Array[(Long, Double)] =
    perShard.iterator.flatten.toArray.sorted(byScoreDesc).take(k)
}
