package perfbench

import java.io.{File, OutputStream, PrintStream}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload gets: its arguments, a private scratch dir
  * (inside the checkout, removed by the launcher when the run ends)
  * and the shared instruments.
  */
final class Env(
    val seed: Long,
    val seconds: Double,
    val tracer: Tracer,
    val scratch: String,
    val dataDir: String) {

  val counters = new SparkCounters
  val ops = new OpLog

  /** A local Spark session whose every file lands in the scratch dir. */
  def session(cores: Int, aqe: Boolean): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(counters)
    s
  }

  def timedS[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** The `[build] <stage>: <s>s` lines IndexBuilder prints to stderr,
  * captured in-process while still passed through.
  */
object BuildLog {
  private val Line = """\[build\] ([\w.]+): ([0-9.]+)s""".r
  private val stages = mutable.LinkedHashMap[String, Double]()

  private def onLine(l: String): Unit = l.trim match {
    case Line(stage, s) => stages.synchronized(stages(stage) = s.toDouble)
    case _ =>
  }

  /** Runs `body` and returns the stage seconds it printed. */
  def capture[A](body: => A): (A, Map[String, Double]) = {
    stages.synchronized(stages.clear())
    val r = body
    (r, stages.synchronized(stages.toMap))
  }

  def install(): Unit = {
    val orig = System.err
    System.setErr(new PrintStream(new OutputStream {
      private val buf = new java.io.ByteArrayOutputStream()
      override def write(b: Int): Unit = synchronized {
        orig.write(b)
        if (b == '\n') { onLine(buf.toString(StandardCharsets.UTF_8)); buf.reset() }
        else buf.write(b)
      }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = synchronized {
        var i = off
        while (i < off + len) { write(b(i).toInt); i += 1 }
      }
      override def flush(): Unit = orig.flush()
    }, true))
  }
}

object Files {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }

  /** Total bytes of the regular files under `path`. */
  def bytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.isFile) f.length
      else 0L
    walk(new File(path))
  }

  /** Data files under `path` (Spark's checksum and marker files
    * excluded), as path -> (size, mtime).
    */
  def dataFiles(path: String): Map[String, (Long, Long)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
      else Seq(f)
    walk(new File(path))
      .filter(f => f.isFile && !f.getName.endsWith(".crc") && !f.getName.startsWith("_"))
      .map(f => f.getPath -> (f.length, f.lastModified)).toMap
  }
}
