package graft

import scala.util.Try

/** Driver-contract smoke: entry() must return rows on sf0.001, and
  * every query must have a matching oracle and run to completion. The
  * queries in [[Goldens.Names]] must also return their recorded rows.
  */
class EntrySpec extends SparkSpec {

  /** Where `rows` differ from the golden of `name`, a message naming
    * the lines missing from and added to the result.
    */
  private def goldenDiff(name: String, got: Seq[String]): Option[String] = {
    val want = Goldens.read(name)
    if (got == want) None
    else Some(s"$name differs from its golden: missing ${want.diff(got).mkString("[", " | ", "]")}, " +
      s"unexpected ${got.diff(want).mkString("[", " | ", "]")}")
  }

  test("entry returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.nonEmpty)
    goldenDiff("entry", Goldens.lines(df, rows)).foreach(fail(_))
  }

  test("every query has an oracle and runs at sf0.001") {
    val qs = SparkEntry.queries
    val sqls = SparkEntry.oracleSql
    assert(qs.keySet == sqls.keySet,
      s"missing oracles: ${qs.keySet.diff(sqls.keySet)}; orphan oracles: ${sqls.keySet.diff(qs.keySet)}")
    val failed = qs.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, "/root/testdata/sf0.001")
      assert(df.columns.nonEmpty, s"$name returned no columns")
      Try(df.collect()).fold(e => Some(s"$name: $e"),
        rows => if (Goldens.Names.contains(name)) goldenDiff(name, Goldens.lines(df, rows)) else None)
    }
    assert(failed.isEmpty, s"${failed.size} queries threw or differ from their goldens:\n${failed.mkString("\n")}")
  }
}
