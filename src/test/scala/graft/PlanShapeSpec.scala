package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.KmvSketch
import graft.ops.{AsofJoin, Dedup, Hashing, HeavyHitters, Pack, RangeJoin, Similarity}

/** Plan-shape tripwires for the gate's scale-critical operators: each
  * test asserts, on the physical plan, the property the operator's
  * cost at corpus scale depends on, so a rewrite that keeps results
  * but loses the shape fails here. Inputs are test-sized; the shapes
  * do not depend on input size.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def count(regex: String, plan: String): Int = regex.r.findAllMatchIn(plan).size

  private lazy val docs: DataFrame = {
    import spark.implicits._
    (0L until 5000L)
      .map(i => (i, s"w${i % 997} w${(i * 31) % 997} w${(i * 7) % 97}",
        if (i % 5 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
  }

  /** (k, ts, kind, eid) events: kind "p" rows are the as-of left side
    * and the range join's intervals, kind "c" rows the rest.
    */
  private lazy val events: DataFrame = {
    import spark.implicits._
    (0L until 20000L)
      .map(i => (i % 50, i * 7 % 10000, if (i % 3 == 0) "p" else "c", i))
      .toDF("k", "sec", "kind", "eid")
      .withColumn("ts", timestamp_seconds(col("sec")))
  }

  test("kmv sketch aggregates map-side: partial + final ObjectHashAggregate") {
    val kmv = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .select(col("lang"), Hashing.hash32(col("term")).as("h"))
      .groupBy("lang").agg(KmvSketch.mins(col("h"), 64).as("m"))
    val p = plan(kmv)
    assert(count("ObjectHashAggregate", p) >= 2 && p.contains("partial_kmv_sketch"),
      s"kmv_sketch must run as partial (map-side) + final ObjectHashAggregate:\n$p")
    assert(kmv.collect().forall(_.getSeq[Long](1).size == 64), "sketches at capacity")
  }

  test("heavy hitters: the sketch pass aggregates (stratum, bucket) map-side before its exchange") {
    val terms = docs.select(col("lang"), explode(split(col("text"), " ")).as("term"))
    val hh = HeavyHitters.sketchTopK(terms, col("lang"), col("term"),
      buckets = 64, support = 10L, k = 5)
    val p = plan(hh)
    // the exchange keyed by (stratum, bucket) must sit directly on a
    // partial count over the same keys: at most `buckets` rows per
    // stratum per map task cross the wire
    val partialBeforeExchange =
      ("""Exchange hashpartitioning\(stratum#\d+, bucket#\d+L?, \d+\)[^\n]*\n""" +
        """[^\n]*HashAggregate\(keys=\[stratum#\d+, bucket#\d+L?\], functions=\[partial_count""").r
    assert(partialBeforeExchange.findFirstIn(p).isDefined,
      s"the (stratum, bucket) sketch must partial-aggregate before its exchange:\n$p")
    assert(hh.count() > 0)
  }

  test("pack: two windows, the corpus-sized one chunk-keyed, offsets joined by broadcast") {
    val packed = Pack.packSequences(docs, col("doc_id"),
      length(col("text")).cast("long"), budget = 512, chunkSize = 512)
    val p = plan(packed)
    assert(count("""\bWindow\b""", p) == 2,
      s"expected exactly 2 window operators (per-chunk + offsets):\n$p")
    assert(p.contains("windowspecdefinition(chunk"),
      s"the corpus-sized window must be partitioned by chunk:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"offsets must join back by broadcast:\n$p")
    assert(Pack.binSummary(packed).count() > 0)
  }

  test("ivf pruned probe: one lists scan with a cid IN partition filter, probes broadcast") {
    import spark.implicits._
    val dir = tempDir("graft-planshape-ivf")
    val emb = (0L until 200L)
      .map(i => (i, Array.tabulate(8)(d => math.sin(i * 13 + d * 5).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    Similarity.ivfWrite(emb, col("vec_id"), col("embedding"), stride = 25L, dir)
    val probes = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("pid"), col("embedding").as("pvec"))
    val pruned = Similarity.ivfTopKPruned(spark, dir, probes, nProbe = 2, k = 5)
    val p = plan(pruned)
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters:") && l.contains("cid") && l.contains("IN")),
      s"ivfTopKPruned must push a static cid IN (...) PartitionFilter into the lists scan:\n$p")
    assert(count("FileScan parquet", p) == 1,
      s"ivfTopKPruned must read ONLY the lists relation (centroids come from the in-memory cache):\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probe lists must join by broadcast:\n$p")
    assert(pruned.count() > 0)
  }

  test("asof join plans join-free: a union-scan with a window, no Join node") {
    val asof = AsofJoin.asofJoin(
      events.filter(col("kind") === "p").select(col("k"), col("ts"), col("eid").as("pid")),
      events.filter(col("kind") === "c")
        .select(col("k"), col("ts").as("cts"), col("eid").as("cid2"))
        .groupBy("k", "cts").agg(min("cid2").as("cid2")),
      Seq("k"), "ts", "cts")
    val p = plan(asof)
    assert(count("Join", p) == 0,
      s"asofJoin must plan as a join-free union-scan; a Join node means the " +
        s"pair-exploding formulation crept back in:\n$p")
    assert(count("Window", p) >= 1)
    assert(asof.count() > 0)
  }

  test("range join plans as an equi-join on (key, bucket), never a nested loop or cartesian") {
    val pts = events.filter(col("kind") === "c")
      .select(col("k"), col("ts").as("pt"), col("eid"))
    val ivs = events.filter(col("kind") === "p")
      .select(col("k"), col("ts").as("ws"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("we"), col("eid").as("iid"))
    val rj = RangeJoin.pointInInterval(
      pts, ivs, Seq("k"), "pt", "ws", "we", bucketWidthSec = 1800L)
    val p = plan(rj)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      s"pointInInterval must not plan a nested-loop or cartesian join:\n$p")
    assert(Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin").exists(p.contains),
      s"pointInInterval must plan as an equi-join on (key, bucket):\n$p")
    assert(rj.count() > 0)
  }

  test("minhash dedup plans one scan, no join, at most 3 exchanges") {
    val mh = Dedup.minhashDedup(docs, col("doc_id"), col("text"),
      shingleSize = 2, numHashes = 16, bands = 4, tau = 0.2)
    val p = plan(mh)
    assert(count("LocalTableScan", p) + count("FileScan", p) == 1,
      s"minhashDedup must tokenize the corpus ONCE (carry-through plan):\n$p")
    assert(count("Join", p) == 0,
      s"minhashDedup must be join-free (grouped double-explode + pair-local " +
        s"array_intersect); a Join node means the three-pass formulation returned:\n$p")
    assert(count("ShuffleExchange", p) + count(" Exchange", p) <= 3,
      s"minhashDedup must shuffle at most 3 times (sig groupBy, bucket groupBy, " +
        s"pair distinct):\n$p")
    mh.collect()
  }
}
