package graft.tools

import graft.api.SearchEngine
import graft.model.QuerySpec

/** spark-submit query runner — the engine analog of the reference's
  * smoke entry point (`src/search_engine.py:609-636`).
  *
  * Usage: SearchCli <indexDir> <query...> [--k N] [--min-score S]
  *          [--and] [--boost t1,t2] [--penalize t1,t2] [--role r]
  */
object SearchCli {
  val Usage = "usage: SearchCli <indexDir> <query...> [--k N] [--min-score S] " +
    "[--and] [--boost t1,t2] [--penalize t1,t2] [--role r]"

  /** The index dir and the query spec; a flag without its value or a
    * malformed number fails with `IllegalArgumentException` carrying
    * [[Usage]].
    */
  def parse(args: Array[String]): (String, QuerySpec) = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(s"$why\n$Usage")
    if (args.isEmpty) fail("missing <indexDir>")
    var spec = QuerySpec("")
    val queryWords = scala.collection.mutable.ArrayBuffer[String]()
    var i = 1
    def value(): String = {
      if (i + 1 >= args.length) fail(s"${args(i)} needs a value")
      i += 1
      args(i)
    }
    def terms() = value().split(",").toSeq
    while (i < args.length) {
      args(i) match {
        case "--k" =>
          val v = value()
          spec = spec.copy(topK = v.toIntOption.getOrElse(fail(s"--k: not an int: $v")))
        case "--min-score" =>
          val v = value()
          spec = spec.copy(minScore =
            v.toDoubleOption.getOrElse(fail(s"--min-score: not a number: $v")))
        case "--and" => spec = spec.copy(conjunctive = true)
        case "--boost" => spec = spec.copy(boostTerms = terms())
        case "--penalize" => spec = spec.copy(penalizeTerms = terms())
        case "--role" => spec = spec.copy(roles = terms())
        case w => queryWords += w
      }
      i += 1
    }
    (args(0), spec.copy(text = queryWords.mkString(" ")))
  }

  def main(args: Array[String]): Unit = {
    val (dir, spec) =
      try parse(args)
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        sys.exit(2)
      }
    val spark = CliSession("graft-search")
    val resp = new SearchEngine(spark, dir).search(spec)
    println(s"query: '${resp.query}'  hits: ${resp.totalResults}  " +
      f"time: ${resp.searchTimeMs}%.1f ms")
    resp.hits.zipWithIndex.foreach { case (h, rank) =>
      println(f"${rank + 1}%3d. ${h.score}%9.4f  doc=${h.doc_id}%-8d " +
        s"${h.conv_id}/${h.turn_idx}  role=${h.role}")
    }
    spark.stop()
  }
}
