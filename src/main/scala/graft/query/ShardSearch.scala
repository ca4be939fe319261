package graft.query

import graft.index.SegmentIO
import graft.index.SegmentIO.{IndexStats, PostingBlock}
import graft.tokenize.Tokenizer

/** The shard-search kernel: a query's plan (its weighted terms and the
  * shards it routes to), BM25 top-k of one query over one shard's
  * posting blocks and dl pages, and the merge of per-shard top-k lists
  * into the global one. Both serving paths take one [[snapshot]], run
  * one [[plan]] and search each routed shard of `SegmentIO`'s one
  * resident cache with [[searchResident]] — [[LocalIndex]] in a loop on
  * the calling thread, [[graft.api.SearchEngine]] across Spark tasks —
  * so the two route and rank identically by construction. Plays the
  * part of the reference's bounded top-k search
  * (`src/vector_index.py:115-147`).
  */
object ShardSearch {

  /** A query term present in the dictionary, with its idf and its WAND
    * score upper bound.
    */
  final case class Term(term: String, idf: Double, bound: Double)

  /** One query as every shard runs it: its present terms in
    * lexicographic order (the score fold order), plus the segment
    * constants the scorer and the dl lookup need. This is all a fan-out
    * task receives besides its shards and the [[Snapshot]].
    */
  final case class Query(
      terms: Array[Term],
      avgdl: Double,
      docsPerShard: Long,
      pageSize: Int,
      k: Int,
      minScore: Double,
      conjunctive: Boolean)

  /** A segment as one query reads it: the mutation generation that
    * keys every resident lookup the query makes, and that generation's
    * stats.
    */
  final case class Snapshot(dir: String, gen: Long, stats: IndexStats)

  /** `dir` as of its current generation: one generation read and one
    * resident stats lookup ([[SegmentIO.residentStats]]). Every in-place
    * mutation (append, recovery, compaction) bumps the generation, so a
    * query after it plans with the new stats, dictionary and routing
    * lists and searches the new shards, and no query mixes two
    * generations' data.
    */
  def snapshot(dir: String): Snapshot = {
    val g = SegmentIO.generation(dir)
    Snapshot(dir, g, SegmentIO.residentStats(dir, g))
  }

  /** The plan of `queryText` under `s`: its shard-level query (the
    * present terms, tokenized, distinct and sorted, with their idf and
    * WAND bound from the resident dictionary) and the shards it routes
    * to ([[route]]). None when no shard can match: no indexable term, no
    * term in the dictionary, or an AND query with a term it lacks.
    */
  def plan(
      s: Snapshot,
      queryText: String,
      k: Int,
      minScore: Double,
      conjunctive: Boolean): Option[(Query, Array[Int])] = {
    val qTerms = Tokenizer.tokenize(queryText).distinct.sorted
    if (qTerms.isEmpty) return None
    val dict = SegmentIO.residentDict(s.dir, s.gen)
    val present = qTerms.flatMap(t => dict.get(t).map { d =>
      val idf = Bm25.idf(s.stats.numDocs, d.df)
      Term(t, idf, Bm25.boundScore(idf, d.max_tf, d.min_dl, s.stats.avgdl))
    })
    if (present.isEmpty || (conjunctive && present.length < qTerms.length)) None
    else {
      val q = Query(present, s.stats.avgdl, s.stats.docsPerShard, s.stats.normsPageSize, k,
        minScore, conjunctive)
      Some(q -> route(q, s.stats.numShards)(dict(_).shards))
    }
  }

  /** The shards `q` must visit, ascending, from the dictionary's
    * per-term shard lists (`shardsOf`): OR queries visit the union of
    * their terms' shards, AND queries only the intersection (a
    * conjunctive match lives in one doc, hence one shard holding every
    * term) — a rare-term query on a 10⁴-shard corpus visits a handful
    * of shards, not 10⁴. An EMPTY list is the dense-term sentinel ("all
    * shards", IndexBuilder.DenseRoutingFraction): it expands to the full
    * range `0 until numShards` — a superset of the true set, so union
    * and intersection routing both stay sound (an extra shard just
    * yields no cursors for that term).
    */
  def route(q: Query, numShards: Int)(shardsOf: String => Seq[Int]): Array[Int] = {
    val allShards: Seq[Int] = 0 until numShards
    val routes = q.terms.map { t =>
      val s = shardsOf(t.term)
      if (s.isEmpty) allShards else s
    }
    if (q.conjunctive) routes.map(_.toSet).reduce(_ intersect _).toArray.sorted
    else routes.flatten.distinct.sorted
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

  /** Top-k of `q` over shard `shard` of the resident copy under `s`
    * ([[SegmentIO.residentShard]], filled on first use from the shard's
    * own postings/shard=N and norms/shard=N dirs).
    */
  def searchResident(q: Query, s: Snapshot, shard: Int): Array[(Long, Double)] = {
    val r = SegmentIO.residentShard(s.dir, s.gen, shard)
    topK(q, shard, r.postings.get, r.dlPages)
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
