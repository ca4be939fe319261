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
  *          [numShards] [blockSize]
  */
object IndexBuildJob {
  val Usage = "usage: IndexBuildJob <gen:N|parquetPath> <indexDir> [numShards] [blockSize]"

  /** (input, indexDir, numShards, blockSize); a wrong argument count,
    * a `gen:` count that is not a number or a shard count or block
    * size that is not a positive int fails with
    * `IllegalArgumentException` carrying [[Usage]].
    */
  def parse(args: Array[String]): (String, String, Int, Int) = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(s"$why\n$Usage")
    if (args.length < 2 || args.length > 4) fail(s"expected 2 to 4 arguments, got ${args.length}")
    if (args(0).startsWith("gen:") && args(0).drop(4).toLongOption.isEmpty)
      fail(s"not a conversation count: ${args(0)}")
    def positive(i: Int, name: String, default: Int): Int =
      if (args.length <= i) default
      else args(i).toIntOption.filter(_ > 0)
        .getOrElse(fail(s"$name: not a positive int: ${args(i)}"))
    (args(0), args(1), positive(2, "numShards", 32), positive(3, "blockSize", 128))
  }

  def main(args: Array[String]): Unit = {
    val (input, dir, numShards, blockSize) =
      try parse(args)
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        sys.exit(2)
      }
    val spark = CliSession("graft-index-build")
    import spark.implicits._
    val turns =
      if (input.startsWith("gen:")) TranscriptGen.corpus(spark, input.drop(4).toLong)
      else spark.read.parquet(input).as[Turn]
    val t0 = System.nanoTime()
    val stats = IndexBuilder.build(spark, turns, dir,
      IndexBuilder.Config(blockSize = blockSize, numShards = numShards,
        numPartitions = CliSession.cpus.toInt))
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[index-build] docs=${stats.numDocs} avgdl=${stats.avgdl}%.3f " +
      f"tokens=${stats.totalTokens} shards=${stats.numShards} " +
      f"time=$sec%.2fs throughput=${stats.numDocs / sec}%.0f turns/sec")
    spark.stop()
  }
}
