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
  * runs [[ShardSearch.plan]] and searches the routed shards in turn on
  * the calling thread with the kernel the distributed path's fan-out
  * tasks run, then [[ShardSearch.merge]]s them; this class is tested
  * rank-identical to the distributed path and to the exact oracle.
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
    * same plan, the same [[ShardSearch]] kernel per routed shard, the
    * same merge.
    */
  def retrieve(
      queryText: String,
      k: Int,
      minScore: Double = 0.0,
      conjunctive: Boolean = false): Array[(Long, Double)] = {
    val s = ShardSearch.snapshot(dir)
    ShardSearch.plan(s, queryText, k, minScore, conjunctive).fold(Array.empty[(Long, Double)]) {
      // shards run one after another on the calling thread: a shard's
      // WAND takes tens of µs, so a thread-pool fan-out saves ~0.2 ms
      // of a sub-ms call but makes it wait for the slowest pool
      // thread, and under CPU contention that wait swings the call's
      // latency from run to run
      case (q, routed) => ShardSearch.merge(routed.map(ShardSearch.searchResident(q, s, _)), k)
    }
  }
}
