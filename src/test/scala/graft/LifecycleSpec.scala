package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.api.SearchEngine
import graft.gen.TranscriptGen
import graft.index.IndexBuilder
import graft.model.QuerySpec

/** Full search-lifecycle semantics (SURVEY §3.1 staging contract):
  * over-fetch → residual filters → truncate → round → boost →
  * match stats — the ordering the reference implements across
  * src/search_engine.py:141-360 and app.py:148-261.
  */
class LifecycleSpec extends SparkSpec {

  val NumConvs = 150

  lazy val indexDir: String = {
    val dir = tempDir("graft-lifecycle")
    IndexBuilder.build(spark, TranscriptGen.corpus(spark, NumConvs), dir,
      IndexBuilder.Config(blockSize = 16, numShards = 4, numPartitions = 8))
    dir
  }
  lazy val engine = new SearchEngine(spark, indexDir)

  test("boost formula: exact diminishing-returns values (reference :420-444)") {
    val rows = Seq(
      (1L, 1.0, "contains boostone only"),
      (2L, 1.0, "contains boostone and boosttwo here"),
      (3L, 1.0, "boostone boosttwo boostthree all present"),
      (4L, 1.0, "boostone boosttwo boostthree boostfour present"),
      (5L, 1.0, "none of them"))
    val boosted = rows.map { case (id, score, text) =>
      id -> SearchEngine.keywordScore(score, text,
        Seq("boostone", "boosttwo", "boostthree", "boostfour"), Nil, 0.15, 0.15)
    }.toMap
    assert(math.abs(boosted(1L) - (1.0 + 0.15 * 1 * 1.0)) < 1e-12)
    assert(math.abs(boosted(2L) - (1.0 + 0.15 * 2 * 0.7)) < 1e-12)
    assert(math.abs(boosted(3L) - (1.0 + 0.15 * 3 * 0.49)) < 1e-12)
    assert(math.abs(boosted(4L) - (1.0 + 0.15 * 3 * math.pow(0.7, 3))) < 1e-12)
    assert(boosted(5L) == 1.0)
  }

  test("penalty mirrors boost with subtraction") {
    val r = SearchEngine.keywordScore(1.0, "bad worse", Nil, Seq("bad", "worse"), 0.15, 0.1)
    assert(math.abs(r - (1.0 - 0.1 * 2 * 0.7)) < 1e-12)
  }

  test("role filter: every hit satisfies it; over-fetch recovers k") {
    val plain = engine.search(QuerySpec("t00000 t00001", topK = 10))
    val filtered = engine.search(QuerySpec("t00000 t00001", topK = 10,
      roles = Seq("user")))
    assert(filtered.hits.forall(_.role == "user"))
    assert(plain.hits.size == 10)
    // hot terms: over-fetch (50 candidates) comfortably refills k=10
    assert(filtered.hits.size == 10)
    // the user-role docs of the global top-10 are the globally best
    // user candidates — all of them must appear in the filtered top-10
    // (display order may interleave at rounded-score ties)
    val userTop = plain.hits.filter(_.role == "user").map(_.doc_id).toSet
    assert(userTop.subsetOf(filtered.hits.map(_.doc_id).toSet))
  }

  test("timestamp range filter") {
    val cut = Timestamp.from(java.time.Instant.parse("2026-01-03T00:00:00Z"))
    val resp = engine.search(QuerySpec("t00000", topK = 20, tsAfter = Some(cut)))
    assert(resp.hits.nonEmpty && resp.hits.forall(!_.ts.before(cut)))
    val resp2 = engine.search(QuerySpec("t00000", topK = 20, tsBefore = Some(cut)))
    assert(resp2.hits.nonEmpty && resp2.hits.forall(!_.ts.after(cut)))
  }

  test("validation mode overrides k and min-score (config.py:282-287)") {
    val resp = engine.search(QuerySpec("t00000", topK = 3, minScore = 5.0,
      validationMode = true))
    // k forced to 5000, tau to 0: far more than 3 results come back
    assert(resp.totalResults > 3)
    assert(resp.hits.exists(_.score < 5.0))
  }

  test("match statistics arithmetic (reference :324-339)") {
    val top = engine.search(QuerySpec("needle3alpha needle3beta", topK = 5))
    val hitKeys = top.hits.map(h => (h.conv_id, h.turn_idx))
    val included = Seq(hitKeys.head, ("c99999999", 0), ("c99999998", 1))
    val resp = engine.search(QuerySpec("needle3alpha needle3beta", topK = 5,
      includeKeys = included))
    val st = resp.stats.get
    assert(st.matched == 1 && st.missed == 2 && st.totalIncluded == 3)
    assert(st.newCandidates == resp.hits.size - 1)
    assert(st.recall == 0.3333)
    assert(resp.hits.count(_.is_match) == 1)
  }

  test("proximity rerank: adjacent query-term pairs lift candidates (Q7)") {
    import spark.implicits._
    val df = Seq(
      (1L, 1.0, "alpha far beta apart words alpha something beta"),
      (2L, 1.0, "alpha beta adjacent here and alpha beta again"),
      (3L, 1.0, "no terms at all present here"))
      .toDF("doc_id", "score", "text")
    val rr = graft.query.Rerank(df, "alpha beta")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("rerank_score")))
    // doc 2 has 2 adjacent pairs -> +0.2; doc 1 has none adjacent
    assert(rr.head._1 == 2L && math.abs(rr.head._2 - 1.2) < 1e-12)
    assert(rr.find(_._1 == 1L).get._2 == 1.0)
    assert(rr.find(_._1 == 3L).get._2 == 1.0)
    // search(): rerank reorders without filtering, same doc set
    val plain = engine.search(graft.model.QuerySpec("t00000 t00001", topK = 10))
    val rer = engine.search(graft.model.QuerySpec("t00000 t00001", topK = 10,
      rerank = true))
    assert(rer.hits.size == plain.hits.size)
  }

  test("export: CSV frame shape + NaN sanitization (S11/F7)") {
    import spark.implicits._
    val resp = engine.search(graft.model.QuerySpec("needle2alpha", topK = 5,
      includeKeys = Seq((graft.gen.TranscriptGen.convId(2L), 0))))
    val frame = graft.export.Exporter.responseFrame(spark, resp)
    assert(frame.columns.toSeq == Seq("rank", "conv_id", "turn_idx", "role",
      "tool", "ts", "score", "screening_decision"))
    assert(frame.filter($"screening_decision" === "Included").count() == 1)
    val dirty = Seq((1L, Double.NaN), (2L, Double.PositiveInfinity), (3L, 1.5))
      .toDF("id", "v")
    val clean = graft.export.Exporter.sanitize(dirty).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(clean.toSeq == Seq((1L, None), (2L, None), (3L, Some(1.5))))
    val out = tempDir("graft-csv")
    graft.export.Exporter.writeCsv(frame, s"$out/results")
    val back = spark.read.option("header", "true").csv(s"$out/results")
    assert(back.count() == resp.hits.size)
  }

  test("scores in responses are rounded to 4 dp (output contract F6)") {
    val resp = engine.search(QuerySpec("t00010 t00020", topK = 10))
    resp.hits.foreach { h =>
      assert(h.score == engine.round4(h.score), s"unrounded score ${h.score}")
    }
  }

  test("boosted search re-sorts within the truncated set only") {
    val base = engine.search(QuerySpec("t00005 t00006", topK = 10))
    val boosted = engine.search(QuerySpec("t00005 t00006", topK = 10,
      boostTerms = Seq("t00000")))
    // same doc set (boost happens after truncation), order may differ
    assert(base.hits.map(_.doc_id).toSet == boosted.hits.map(_.doc_id).toSet)
    // boosted scores = base rounded + 0.15 where the term occurs
    val baseMap = base.hits.map(h => h.doc_id -> h.score).toMap
    boosted.hits.foreach { h =>
      val delta = h.score - baseMap(h.doc_id)
      assert(math.abs(delta) < 1e-9 || math.abs(delta - 0.15) < 1e-9)
    }
  }
}
