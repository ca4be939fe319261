package graft.tools

import graft.gen.TranscriptGen
import graft.index.IndexBuilder
import graft.model.Turn

/** spark-submit index-build stage (north rule: "all stages run via
  * spark-submit"). Input is either a transcripts parquet table with
  * the input_hint schema, or `gen:<numConvs>` for the deterministic
  * synthetic corpus.
  *
  * Usage: IndexBuildJob <gen:N | transcripts.parquet> <indexDir>
  *          [numShards] [blockSize] [salts]
  */
object IndexBuildJob {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: IndexBuildJob <gen:N|parquetPath> <indexDir> [numShards] [blockSize] [salts]")
    val input = args(0)
    val dir = args(1)
    val numShards = if (args.length > 2) args(2).toInt else 32
    val blockSize = if (args.length > 3) args(3).toInt else 128
    val salts = if (args.length > 4) args(4).toInt else 1
    val spark = CliSession("graft-index-build")
    import spark.implicits._
    val turns =
      if (input.startsWith("gen:")) TranscriptGen.corpus(spark, input.drop(4).toLong)
      else spark.read.parquet(input).as[Turn]
    val t0 = System.nanoTime()
    val stats = IndexBuilder.build(spark, turns, dir,
      IndexBuilder.Config(blockSize = blockSize, numShards = numShards,
        numPartitions = CliSession.cpus.toInt, salts = salts))
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[index-build] docs=${stats.numDocs} avgdl=${stats.avgdl}%.3f " +
      f"tokens=${stats.totalTokens} shards=${stats.numShards} " +
      f"time=$sec%.2fs throughput=${stats.numDocs / sec}%.0f turns/sec")
    spark.stop()
  }
}
