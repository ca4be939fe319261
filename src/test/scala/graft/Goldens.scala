package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** Golden rows for driver queries at sf0.001, one TSV per query under
  * `src/test/resources/goldens/sf0.001/<query>.tsv`: a header of
  * column names, then one line per row, lines sorted, so a compare is
  * insensitive to row order. Doubles are written at 6 dp (half-up),
  * nulls as `\N`.
  *
  * Record with `sbt "Test/runMain graft.Goldens <sfDir> <outDir>"`,
  * and commit only the queries whose Spark output the DuckDB replay
  * (`runMain graft.Verify` plus the verify skill's script) reports OK.
  */
object Goldens {

  /** The queries EntrySpec pins; `entry` is [[SparkEntry.entry]]. */
  val Names: Seq[String] = Seq("entry", "q_bm25_topk", "q_bm25_topk_large", "q_bm25_and",
    "q_bm25_minscore", "q_bm25_filtered", "q_bm25_boosted", "q_comparison_export",
    "q_entity_resolution", "q_hybrid_fusion")

  private def field(v: Any): String = v match {
    case null => "\\N"
    case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
    case x => x.toString
  }

  /** A result as golden lines: the header, then its sorted rows. */
  def lines(df: DataFrame, rows: Array[Row]): Seq[String] =
    df.columns.mkString("\t") +: rows.map(_.toSeq.map(field).mkString("\t")).sorted.toSeq

  /** The recorded lines of `name`, read from the test classpath. */
  def read(name: String): Seq[String] = {
    val in = getClass.getResourceAsStream(s"/goldens/sf0.001/$name.tsv")
    require(in != null, s"no golden for $name")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkSpec.session
    Files.createDirectories(Paths.get(outDir))
    Names.foreach { name =>
      val df =
        if (name == "entry") SparkEntry.entry(spark) else SparkEntry.queries(name)(spark, sfDir)
      Files.write(Paths.get(s"$outDir/$name.tsv"),
        lines(df, df.collect()).asJava, StandardCharsets.UTF_8)
    }
    spark.stop()
  }
}
