package perfbench

import java.io.{File, PrintWriter}

import graft.SparkEntry

/** Writes what the golden replay (record_goldens.py) compares: each gate
  * query's Spark output as parquet, its DuckDB twin's SQL (`<name>.sql`), and its
  * digest.
  *
  * Usage: GateDump --data DIR --out DIR --scratch DIR
  */
object GateDump {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val env = new Env(0L, 0.0, new Tracer(false), opts("scratch"), opts("data"))
    val spark = env.session(Gate.Cores, aqe = true)
    val sfDir = s"${opts("data")}/${Gate.Tables}"
    val out = opts("out")
    new File(out).mkdirs()
    val oracle = SparkEntry.oracleSql
    val digests = new PrintWriter(s"$out/digests.tsv")
    try Gate.Names.sorted.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.parquet(s"$out/$name")
      digests.println(s"$name\t${Digest.of(df)}")
      val sql = new PrintWriter(s"$out/$name.sql")
      try sql.print(oracle(name)) finally sql.close()
    } finally digests.close()
    spark.stop()
    sys.exit(0)
  }
}
