package graft.tools

import org.apache.spark.sql.functions._

import graft.Bench.{freshDir, session}
import graft.functions.KmvSketch
import graft.gen.TranscriptGen
import graft.ops.{Hashing, Pack, Sampling, TextOps}
import graft.tokenize.Tokenizer

/** Throughput probe for the training-pipeline ops at TRANSCRIPT-CORPUS
  * scale (the driver's `documents` fixture is only 500–5,000 rows —
  * three orders smaller than the bench corpus these ops are built
  * for). Stages the same deterministic corpus Bench uses, then times
  * each op end-to-end at the given core counts:
  *
  *  - kmv: distinct-term sketch per role (full tokenize + explode —
  *    tens of millions of token rows through the partial aggregate)
  *  - split/mixture: corpus-wide deterministic assignment rollups
  *  - fingerprint: content-fingerprint dedup groupBy
  *  - pack: token counting + two-level prefix sum + bin rollup
  *
  * Usage: runMain graft.tools.PipelineScaleProbe [convs] [coresCsv]
  * (cores default to this host's available processors)
  */
object PipelineScaleProbe {
  def main(args: Array[String]): Unit = {
    val convs = if (args.length > 0) args(0).toLong else 100000L
    val host = Runtime.getRuntime.availableProcessors
    val coresList =
      if (args.length > 1) args(1).split(",").map(_.toInt) else Array(host)

    val corpusPath = freshDir("psp-corpus")
    val s0 = session(host)
    TranscriptGen.corpus(s0, convs).write.mode("overwrite").parquet(corpusPath)
    val n = s0.read.parquet(corpusPath).count()
    println(s"[psp] corpus staged: $n turns")
    s0.stop()

    coresList.foreach { cores =>
      val s = session(cores)
      // dense integral turn id: conv number × 100 + turn_idx (convs are
      // "c%08d", turns < 100) — keeps Pack's chunk count tiny
      def turns = s.read.parquet(corpusPath)
        .withColumn("id",
          substring(col("conv_id"), 2, 10).cast("long") * 100 + col("turn_idx"))

      def time[T](op: String)(body: => T): Unit = {
        val t0 = System.nanoTime()
        val r = body
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[psp] cores=$cores op=$op time=$t%.2f s thru=${n / t}%.0f turns/s ($r)")
      }

      // untimed warm-up: JIT + codegen + page pools for the heaviest
      // plan shape, so the first timed op isn't charged for them
      turns.limit(100000)
        .select(col("role"), explode(Tokenizer.tokensCol(col("text"))).as("term"))
        .select(col("role"), Hashing.hash32(col("term")).as("h"))
        .groupBy("role").agg(KmvSketch.mins(col("h"), 256)).collect()

      time("kmv_distinct_terms") {
        turns
          .select(col("role"), explode(Tokenizer.tokensCol(col("text"))).as("term"))
          .select(col("role"), Hashing.hash32(col("term")).as("h"))
          .groupBy("role")
          .agg(KmvSketch.mins(col("h"), 256).as("m"), count(lit(1)).as("toks"))
          .select(col("role"), round(KmvSketch.estimate(col("m"), 256), 0).as("est"),
            col("toks"))
          .collect().map(r => s"${r.getString(0)}:${r.getDouble(1).toLong}")
          .mkString(",")
      }
      // same sketch with the PRODUCTION hash: xxhash64 (whole-stage
      // codegen, no md5 string round-trip) folded to [0, 2^32) so the
      // estimator arithmetic is unchanged. The md5-based hash32 exists
      // for engine-portable oracle replay; a deployment free of that
      // constraint runs this plan.
      time("kmv_distinct_terms_xxhash") {
        turns
          .select(col("role"), explode(Tokenizer.tokensCol(col("text"))).as("term"))
          .select(col("role"), pmod(xxhash64(col("term")), lit(1L << 32)).as("h"))
          .groupBy("role")
          .agg(KmvSketch.mins(col("h"), 256).as("m"))
          .select(col("role"), round(KmvSketch.estimate(col("m"), 256), 0).as("est"))
          .collect().map(r => s"${r.getString(0)}:${r.getDouble(1).toLong}")
          .mkString(",")
      }
      time("train_split") {
        turns.groupBy(Sampling.splitAssign(col("id"), 9000, 500).as("split"))
          .count().collect()
          .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(",")
      }
      time("mixture_by_role") {
        turns.filter(Sampling.mixtureSample(col("id"), col("role"),
            Map("user" -> 2500, "assistant" -> 10000, "tool" -> 5000)))
          .count()
      }
      time("fingerprint_dedup") {
        turns.select(TextOps.fingerprint(col("text")).as("fp"), col("id"))
          .groupBy("fp").agg(count(lit(1)).as("c"), min(col("id")).as("keep"))
          .filter(col("c") > 1).count()
      }
      time("pack_sequences") {
        Pack.binSummary(Pack.packSequences(turns, col("id"),
          TextOps.wsTokenCount(col("text")), budget = 2048)).count()
      }
      // r5 join ops at bench-corpus scale (r5 VERDICT ask #6): the
      // gate fixtures are 500-5,000 events — these rows time the
      // union-scan as-of and the bucketed range join over the full
      // transcript corpus (per-conv keys, user turns as the interval/
      // left side, assistant turns as the point/right side)
      time("asof_join") {
        val purchases = turns.filter(col("role") === "user")
          .select(col("conv_id").as("k"), col("ts"), col("id").as("pid"))
        val clicks = turns.filter(col("role") === "assistant")
          .select(col("conv_id").as("k"), col("ts").as("cts"), col("id").as("cid"))
        graft.ops.AsofJoin.asofJoin(purchases, clicks, Seq("k"), "ts", "cts")
          .count()
      }
      time("range_join") {
        val pts = turns.filter(col("role") === "assistant")
          .select(col("conv_id").as("k"), col("ts").as("pt"), col("id").as("cid"))
        val ivs = turns.filter(col("role") === "user")
          .select(col("conv_id").as("k"),
            (col("ts") - expr("INTERVAL 1 HOUR")).as("ws"),
            col("ts").as("we"), col("id").as("pid"))
        graft.ops.RangeJoin.pointInInterval(
          pts, ivs, Seq("k"), "pt", "ws", "we", bucketWidthSec = 3600L).count()
      }
      // the Pack scaladoc's production shape: token counts come from a
      // materialized table (16 bytes/row), so the double consumption
      // of the (id, n) projection stops re-tokenizing — this times the
      // prefix-sum operator itself (materialization is untimed)
      val countsPath = freshDir(s"psp-counts-$cores")
      turns.select(col("id"), TextOps.wsTokenCount(col("text")).as("n"))
        .write.mode("overwrite").parquet(countsPath)
      time("pack_over_materialized_counts") {
        Pack.binSummary(Pack.packSequences(s.read.parquet(countsPath),
          col("id"), col("n"), budget = 2048)).count()
      }
      s.stop()
    }
  }
}
