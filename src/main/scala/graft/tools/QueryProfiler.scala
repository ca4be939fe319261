package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Optimization-round measurement harness (guide §1): per-query
  * cold/warm wall time, Spark job/stage counts during the cold run,
  * and `.explain("formatted")` dumped to a file — the evidence the
  * plan-diff claims in OPTIMIZATION_r*.md are checked against.
  *
  * Usage: runMain graft.tools.QueryProfiler <sfDir> <planOutDir> <query>...
  *        ("all" = every SparkEntry query). Runs in Bench's query
  * session (local[SPARK_GRAFT_CPUS], AQE on, zstd, shm dirs) so
  * numbers are comparable to the driver bench's per-query map.
  * SPARK_GRAFT_CPUS defaults to this host's available processors.
  */
object QueryProfiler {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val planDir = args(1)
    val names =
      if (args.length > 2 && args(2) != "all") args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Bench.session(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors))

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    })

    new java.io.File(planDir).mkdirs()
    graft.SparkEntry.warmQueryIndex(spark, sfDir)

    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      spark.sparkContext.setJobDescription(n)
      jobs.set(0); stages.set(0)
      val t0 = System.nanoTime()
      val c = fn(spark, sfDir).count()
      val cold = (System.nanoTime() - t0) / 1e9
      val (j1, s1) = (jobs.get(), stages.get())
      val t1 = System.nanoTime()
      fn(spark, sfDir).count()
      val warm = (System.nanoTime() - t1) / 1e9
      // plan AFTER execution so lazily-built fixture caches are warm
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val pw = new java.io.PrintWriter(s"$planDir/$n.txt")
      try pw.write(plan) finally pw.close()
      val nEx = "Exchange".r.findAllIn(plan).length
      println(f"[qp] $n%-28s cold=$cold%7.3f s warm=$warm%7.3f s " +
        f"jobs=$j1%3d stages=$s1%3d exchanges=$nEx%2d rows=$c")
    }
    spark.stop()
  }
}
