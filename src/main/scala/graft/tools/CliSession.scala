package graft.tools

import org.apache.spark.sql.SparkSession

/** The session the spark-submit mains (`IndexBuildJob`, `SearchCli`)
  * run under: master `SPARK_MASTER`, else local[SPARK_GRAFT_CPUS]
  * (default 4), one shuffle partition per core, UTC, no UI.
  */
private[tools] object CliSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def apply(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
