package graft.query

import org.apache.spark.sql.SparkSession

import graft.index.SegmentIO
import graft.index.SegmentIO.{DictEntry, PostingBlock}

/** In-process serving of a segment: the analog of the reference
  * keeping its FAISS index + id map resident in the Flask process
  * (`src/search_engine.py:48-70` lazy init, reused across requests).
  *
  * It keeps no copy of its own: it reads the one resident cache
  * [[graft.api.SearchEngine]] reads too (`SegmentIO`'s, keyed by
  * segment generation), so construction loads nothing and runs no Spark
  * job, and a query after an append, recovery or compaction answers from
  * the new generation. `spark` is not used; it keeps the constructor the
  * same as SearchEngine's. Each query takes one [[ShardSearch.snapshot]],
  * runs [[ShardSearch.plan]] and searches all its routed shards, in
  * ascending order into one top-k heap, with [[ShardSearch.searchShards]]
  * on the calling thread — the kernel each of the distributed path's
  * fan-out tasks runs over its slice of the shards; this class is
  * tested rank-identical to the distributed path and to the exact
  * oracle.
  *
  * Memory bound: the segment counts against the resident cache's one
  * byte cap (1/8 of max heap), and a fill that would pass it clears the
  * whole cache. Postings stay COMPRESSED there (delta+varbyte blocks,
  * ~1.5 bytes/posting) and decode on demand during traversal.
  */
class LocalIndex(spark: SparkSession, dir: String) {

  def stats: SegmentIO.IndexStats = ShardSearch.snapshot(dir).stats

  def dict: Map[String, DictEntry] = SegmentIO.residentDict(dir, SegmentIO.generation(dir))

  /** shard -> page-indexed decoded dl arrays, for every shard with
    * norms (two-level lookup: page = (doc - shardBase) / pageSize, then
    * in-page offset).
    */
  def norms: Map[Int, Array[Array[Int]]] = {
    val s = ShardSearch.snapshot(dir)
    (0 until s.stats.numShards).map(sh => sh -> SegmentIO.residentShard(dir, s.gen, sh).dlPages)
      .filter(_._2.nonEmpty).toMap
  }

  /** shard -> `term`'s blocks (block_id-sorted), compressed at rest */
  def postings(term: String): Map[Int, Array[PostingBlock]] = {
    val s = ShardSearch.snapshot(dir)
    (0 until s.stats.numShards).flatMap(sh =>
      SegmentIO.residentShard(dir, s.gen, sh).postings.get(term).map(sh -> _)).toMap
  }

  /** BM25 top-k, identical semantics to the distributed retrieve: the
    * same plan and the same [[ShardSearch.searchShards]] kernel, here
    * over every routed shard in one call. k may exceed the number of
    * matches (every match is returned; the heap grows on demand).
    */
  def retrieve(
      queryText: String,
      k: Int,
      minScore: Double = 0.0,
      conjunctive: Boolean = false): Array[(Long, Double)] = {
    val s = ShardSearch.snapshot(dir)
    ShardSearch.plan(s, queryText, k, minScore, conjunctive).fold(Array.empty[(Long, Double)]) {
      // shards run one after another on the calling thread, into one
      // heap: a shard's WAND takes a few µs, and the k-th best score of
      // the shards before it prunes its blocks from the start, where a
      // thread-pool fan-out would make the call wait for its slowest
      // pool thread and swing with host load
      case (q, routed) => ShardSearch.searchShards(q, s, routed)
    }
  }
}
