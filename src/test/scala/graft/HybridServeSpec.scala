package graft

import org.apache.spark.sql.functions._

import graft.api.SearchEngine
import graft.index.IndexBuilder
import graft.ops.{Corpus, Hybrid}

/** Index-backed hybrid serving guard: q_hybrid_fusion's keyword side
  * swapped from the exhaustive per-query corpus scan to the routed
  * WAND index. That swap is only sound if the engine over the
  * documents corpus is bit-identical — ids AND unrounded scores, in
  * (score desc, doc_id asc) order — to the oracle list it replaced,
  * which this spec asserts for disjunctive top-N at several N
  * (including tie-heavy small-N truncation boundaries).
  */
class HybridServeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val idxDir: String = {
    val dir = tempDir("hybrid-docs-idx")
    IndexBuilder.build(spark, Corpus.documentsAsTurns(spark, sfDir), dir,
      IndexBuilder.Config(blockSize = 32, numShards = 4, numPartitions = 4))
    dir
  }
  private lazy val eng = new SearchEngine(spark, idxDir)

  /** The library serving retriever (SearchEngine.retrieveMapped —
    * the exact path SparkEntry.docsBm25TopN serves through): routed
    * WAND top-N collected to the driver, then a direct doc-store read
    * of the hit shards mapping internal→original ids.
    */
  private def engineTopN(q: String, n: Int): Seq[(Long, Double)] =
    eng.retrieveMapped(q, n, Corpus.docIdFromConv).toSeq

  test("engine-backed documents BM25 top-N is bit-identical to the oracle list") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    for {
      q <- Seq("spark window vector merge", "data table row", "slow query filter")
      n <- Seq(5, 50)
    } {
      val oracle = Hybrid.bm25TopN(docs, col("doc_id"), col("text"), q, n).toSeq
      val engine = engineTopN(q, n)
      assert(engine == oracle, s"engine/oracle divergence for '$q' at n=$n")
    }
  }

  test("fused output is unchanged by the keyword-retriever swap") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = "spark window vector merge"
    val vRows = Hybrid.cosineTopN(emb, col("vec_id"), col("embedding"), 7L, 50)
    val viaOracle = Hybrid.fuse(spark,
      Hybrid.bm25TopN(docs, col("doc_id"), col("text"), q, 50),
      vRows, 0.6, 20).collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val viaEngine = Hybrid.fuse(spark,
      engineTopN(q, 50), vRows, 0.6, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(viaEngine.toSeq == viaOracle.toSeq)
  }
}
