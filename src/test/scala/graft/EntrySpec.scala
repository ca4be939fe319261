package graft

import scala.util.Try

/** Driver-contract smoke: entry() must return rows on sf0.001, and
  * every query must have a matching oracle and run to completion.
  */
class EntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle and runs at sf0.001") {
    val qs = SparkEntry.queries
    val sqls = SparkEntry.oracleSql
    assert(qs.keySet == sqls.keySet,
      s"missing oracles: ${qs.keySet.diff(sqls.keySet)}; orphan oracles: ${sqls.keySet.diff(qs.keySet)}")
    val failed = qs.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, "/root/testdata/sf0.001")
      assert(df.columns.nonEmpty, s"$name returned no columns")
      Try(df.collect()).failed.toOption.map(e => s"$name: $e")
    }
    assert(failed.isEmpty, s"${failed.size} queries threw:\n${failed.mkString("\n")}")
  }
}
