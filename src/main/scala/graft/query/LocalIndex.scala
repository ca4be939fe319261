package graft.query

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.index.{SegmentIO, Varbyte}
import graft.index.SegmentIO.{DictEntry, PostingBlock}
import graft.tokenize.Tokenizer

/** In-memory serving copy of a segment: the analog of the reference
  * keeping its FAISS index + id map resident in the Flask process
  * (`src/search_engine.py:48-70` lazy init, reused across requests).
  *
  * On a cluster each serving node holds its shard subset in RAM
  * (Lucene/ES model); in this sandbox one JVM holds all shards. Each
  * shard is searched by the same [[ShardSearch]] kernel the
  * distributed path's fan-out tasks run
  * ([[graft.api.SearchEngine.retrieve]]), here fed the resident blocks
  * and dl pages, and the per-shard lists go through the same
  * [[ShardSearch.merge]]; this class is tested rank-identical to the
  * distributed path and to the exact oracle.
  *
  * Memory bound: postings are kept COMPRESSED (delta+varbyte blocks,
  * ~1.5 bytes/posting); blocks decode on demand during traversal.
  */
class LocalIndex(spark: SparkSession, dir: String) {

  val stats: SegmentIO.IndexStats = SegmentIO.readStats(dir)

  val dict: Map[String, DictEntry] =
    SegmentIO.readDict(spark, dir).collect().map(d => d.term -> d).toMap

  /** shard -> page-indexed decoded dl arrays (two-level lookup:
    * page = (doc - shardBase) / pageSize, then in-page offset).
    */
  val norms: Map[Int, Array[Array[Int]]] =
    SegmentIO.readNorms(spark, dir).collect()
      .groupBy(_.shard)
      .map { case (s, rows) =>
        val arrs = new Array[Array[Int]](rows.map(_.page).max + 1)
        rows.foreach(p => arrs(p.page) = Varbyte.decodeInts(p.dl_bytes, p.n))
        s -> arrs
      }

  /** term -> shard -> blocks (block_id-sorted), compressed at rest */
  val postings: Map[String, Map[Int, Array[PostingBlock]]] =
    SegmentIO.readPostings(spark, dir).collect()
      .groupBy(_.term)
      .map { case (t, bs) =>
        t -> bs.groupBy(_.shard).map { case (s, b) => s -> b.sortBy(_.block_id) }
      }

  private val shardIds: Array[Int] = norms.keys.toArray.sorted

  /** BM25 top-k, identical semantics to the distributed retrieve: the
    * same [[ShardSearch]] kernel over every shard, the same merge.
    */
  def retrieve(
      queryText: String,
      k: Int,
      minScore: Double = 0.0,
      conjunctive: Boolean = false): Array[(Long, Double)] =
    ShardSearch.query(Tokenizer.tokenize(queryText).distinct.sorted,
        dict.get(_).map(ShardSearch.weights(_, stats)), stats, k, minScore, conjunctive)
      .fold(Array.empty[(Long, Double)]) { q =>
        // shards traverse in parallel (the in-JVM analog of per-executor
        // shard fan-out); per-shard results are deterministic, and the
        // merge re-sorts, so parallelism cannot affect output
        ShardSearch.merge(shardIds.par.map { shard =>
          ShardSearch.topK(q, shard, postings(_).get(shard), norms(shard))
        }.seq, k)
      }
}
