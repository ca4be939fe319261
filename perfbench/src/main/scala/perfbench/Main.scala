package perfbench

/** What a workload measured: end-to-end metrics, per-layer metrics
  * (filled on traced runs) and a human-readable breakdown.
  */
final case class Report(
    e2e: Map[String, Double],
    layers: Map[String, Double],
    detail: Map[String, Double])

/** Runs one workload and prints one JSON line; the launcher (run.py)
  * turns it into the reported result.
  *
  * Usage: Main --workload ingest|serve|gate --seed N --seconds S
  *   --trace 0|1 --scratch DIR --data DIR --trace-out FILE
  */
object Main {
  val Workloads: Map[String, Env => Report] =
    Map("ingest" -> Ingest.run, "serve" -> Serve.run, "gate" -> Gate.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = Workloads.getOrElse(opts("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    BuildLog.install()
    val tracer = new Tracer(opts("trace") == "1")
    val env = new Env(opts("seed").toLong, opts("seconds").toDouble, tracer,
      opts("scratch"), opts("data"))
    val t0 = System.nanoTime()
    val report = workload(env)
    val runS = (System.nanoTime() - t0) / 1e9
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        tracer.write(opts("trace-out"))
        val spans = tracer.all.length
        report.layers ++ Map(
          "trace.spans" -> spans.toDouble,
          "trace.overhead_share" -> spans * tracer.costPerSpanNs() / 1e9 / runS)
      }
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    val failures = env.ops.failureMessages
    failures.foreach(f => System.err.println(s"[perfbench] failure: $f"))
    println(s"""{"correct":${failures.isEmpty},"attempted":${env.ops.attempted},""" +
      s""""failed":${env.ops.failed},"e2e":${obj(report.e2e)},"layers":${obj(layers)},""" +
      s""""detail":${obj(report.detail)}}""")
    System.out.flush()
    sys.exit(0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}
