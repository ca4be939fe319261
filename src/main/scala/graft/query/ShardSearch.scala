package graft.query

import org.apache.spark.TaskContext

import graft.index.SegmentIO
import graft.index.SegmentIO.{IndexStats, ResidentShard}
import graft.tokenize.Tokenizer

/** The shard-search kernel: a query's plan (its weighted terms and the
  * shards it routes to), BM25 top-k of one query over a run of shards
  * into one bounded heap ([[searchShards]]), and the merge of such
  * top-k lists into the global one. Both serving paths take one
  * [[snapshot]], run one [[plan]] and search the routed shards of
  * `SegmentIO`'s one resident cache with [[searchShards]] —
  * [[LocalIndex]] all of them in one call on the calling thread,
  * [[graft.api.SearchEngine]] one contiguous ascending slice per Spark
  * task, then [[merge]] — so the two route and rank identically by
  * construction. Plays the part of the reference's bounded top-k search
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

  /** Top-k of `q` over `shards` of the resident copy under `s`
    * ([[SegmentIO.residentShard]], filled on first use from each
    * shard's own postings/shard=N and norms/shard=N dirs): at most k
    * hits, (score desc, doc_id asc).
    *
    * The shards are searched in ascending order into ONE bounded heap,
    * so the k-th best score the earlier shards reached prunes the later
    * shards' blocks and pivots from their first doc. This is exact:
    * doc_id = shard × docsPerShard + offset, so docs reach the heap in
    * ascending doc_id and an equal-score later doc never displaces an
    * earlier one — the result equals [[merge]] of each shard's own
    * top-k. A list that is not strictly ascending is sorted (and
    * de-duplicated) first; splitting one heap's shards across threads
    * or reordering them would break the tie rule.
    */
  def searchShards(q: Query, s: Snapshot, shards: Array[Int]): Array[(Long, Double)] =
    searchIn(q, shards)(SegmentIO.residentShard(s.dir, s.gen, _))

  /** A search's fan-out task: [[searchShards]] over the task's slice of
    * the routed shards, returning the slice with its top-k. A named class,
    * not a lambda, so Spark's closure cleaner returns at once instead of
    * parsing a class file per search; it carries only `q` and `s`.
    */
  final class Task(q: Query, s: Snapshot)
      extends ((TaskContext, Iterator[Int]) => Task.Result) with Serializable {
    def apply(ctx: TaskContext, slice: Iterator[Int]): Task.Result = {
      val shards = slice.toArray
      shards -> searchShards(q, s, shards)
    }
  }

  object Task {
    /** A task's shards, ascending, and their top-k. */
    type Result = (Array[Int], Array[(Long, Double)])
  }

  /** [[searchShards]] over the shards `shardOf` returns. */
  private[graft] def searchIn(q: Query, shards: Array[Int])(
      shardOf: Int => ResidentShard): Array[(Long, Double)] = {
    val topk = new Wand.TopK(q.k)
    val ascending = (1 until shards.length).forall(i => shards(i - 1) < shards(i))
    if (q.k > 0) (if (ascending) shards else shards.distinct.sorted).foreach { shard =>
      val r = shardOf(shard)
      val cursors = q.terms.flatMap(t => r.postings.get(t.term).map(
        new Wand.TermCursor(t.term, t.idf, t.bound, _, q.avgdl)))
      // an AND match lives in one doc, so this shard needs every term
      if (cursors.nonEmpty && r.dlPages.nonEmpty &&
          !(q.conjunctive && cursors.length < q.terms.length)) {
        // two-level dl lookup: page = (doc - shardBase) / pageSize, then
        // in-page offset — no array scales with shard size, and no Long
        // difference is narrowed to Int before the page division
        val shardBase = shard.toLong * q.docsPerShard
        val dlPages = r.dlPages
        val dl = (d: Long) => {
          val rel = d - shardBase
          dlPages((rel / q.pageSize).toInt)((rel % q.pageSize).toInt)
        }
        if (q.conjunctive) Wand.conjunctive(cursors, dl, q.avgdl, topk, q.minScore)
        else Wand.disjunctive(cursors, dl, q.avgdl, topk, q.minScore)
      }
    }
    topk.result()
  }

  /** Spark's order of doubles: -0.0 equals 0.0, NaN is the largest. */
  private[graft] def compareScores(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  private val byScoreDesc: Ordering[(Long, Double)] = (a, b) => {
    val c = compareScores(b._2, a._2)
    if (c != 0) c else java.lang.Long.compare(a._1, b._1)
  }

  /** The global top-k of hit lists (one per fan-out task): score descending in
    * Spark's double order, then doc_id ascending, then the first k —
    * what `orderBy(desc("score"), asc("doc_id")).limit(k)` returns over
    * their union.
    */
  def merge(perShard: Iterable[Array[(Long, Double)]], k: Int): Array[(Long, Double)] =
    perShard.iterator.flatten.toArray.sorted(byScoreDesc).take(k)
}
