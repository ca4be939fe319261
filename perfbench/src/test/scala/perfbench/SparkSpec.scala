package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen

class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("the digest ignores row order but not rows or values") {
    import spark.implicits._
    val rows = Seq((1, "a", 0.1234564, Seq(1.0, 2.5)), (2, "b", 2.0, Seq(0.1)),
      (3, null, -1.5, Nil), (3, null, -1.5, Nil))
    val df = rows.toDF("k", "s", "x", "arr")
    val d = Digest.of(df)
    assert(Digest.of(rows.reverse.toDF("k", "s", "x", "arr").repartition(3)) == d)
    assert(Digest.of(df.orderBy($"x".desc)) == d)
    // equal at the oracle's 6 dp
    assert(Digest.of(df.withColumn("x", $"x" + 1e-9)) == d)
    assert(Digest.of(df.withColumn("x", $"x" + 1e-4)) != d)
    assert(Digest.of(df.dropDuplicates()) != d)
    assert(Digest.of(df.withColumn("s", $"k".cast("string"))) != d)
  }

  test("the same seed gives the same corpus and op list") {
    def corpus(seed: Long) =
      Ingest.convRange(spark, seed, 1000L, 1010L).collect().toSeq
    assert(corpus(7L) == corpus(7L))
    assert(corpus(7L) != corpus(8L))
    assert(TranscriptGen.corpus(spark, 20L, 7L).collect().toSeq ==
      TranscriptGen.corpus(spark, 20L, 7L).repartition(3).collect().sortBy(t =>
        (t.conv_id, t.turn_idx)).toSeq)
    assert(Serve.opList(7L, 600) == Serve.opList(7L, 600))
    assert(Serve.opList(7L, 600) != Serve.opList(8L, 600))
    assert(Ingest.probeFor(7L, 1) == Ingest.probeFor(7L, 1))
    assert(Ingest.probeFor(7L, 0)._1 != Ingest.probeFor(7L, 1)._1)
  }

  test("every block of search ops holds the stated mix, without the warm-up queries") {
    val list = Serve.opList(7L, 2000)
    val ops = list.search
    assert(ops.length == 2000 / Serve.LocalPerSearch / Serve.SearchBlock.length * Serve.SearchBlock.length)
    val warm = Serve.WarmSearch.map(_.text).toSet
    val refs = ops.zip(list.searchKinds).collect { case (s, "reference") => s.text }
    assert(refs.nonEmpty && !refs.exists(warm.contains))
    list.searchKinds.grouped(Serve.SearchBlock.length).foreach(kinds =>
      assert(kinds.sorted == Serve.SearchBlock.sorted))
    ops.grouped(Serve.SearchBlock.length).foreach { block =>
      val filtered = block.count(s => s.roles.nonEmpty || s.tools.nonEmpty || s.tsAfter.nonEmpty)
      assert(filtered == Serve.SearchBlock.count(_ == "filter"))
      assert(block.count(_.rerank) == Serve.SearchBlock.count(_ == "rerank"))
      assert(block.count(_.boostTerms.nonEmpty) == Serve.SearchBlock.count(_ == "boost"))
    }
    assert(ops.take(Serve.SearchBlock.length) != Serve.opList(8L, 2000).search.take(Serve.SearchBlock.length))
  }
}
