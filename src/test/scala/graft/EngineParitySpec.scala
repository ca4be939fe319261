package graft

import graft.api.SearchEngine
import graft.gen.{QuerySet, TranscriptGen}
import graft.index.IndexBuilder
import graft.query.{LocalOracle, OracleEngine}

/** THE correctness gate (SURVEY §5.1): the optimized engine
  * (compressed postings + block-max WAND / intersection) must be
  * rank-identical — identical doc-id sequences AND bit-identical
  * scores — to the single-threaded exact-BM25 oracle, across the
  * full reference query set. The analog of the reference's
  * exact-FAISS ground truth (`src/vector_index.py:78`).
  */
class EngineParitySpec extends SparkSpec {

  val NumConvs = 300

  lazy val corpusLocal: IndexedSeq[graft.model.Turn] =
    TranscriptGen.localCorpus(NumConvs)
  lazy val oracle: LocalOracle.Corpus = LocalOracle.buildCorpus(corpusLocal)

  lazy val indexDir: String = {
    val dir = tempDir("graft-index")
    val turns = TranscriptGen.corpus(spark, NumConvs)
    // small blocks so multi-block skipping paths are exercised
    IndexBuilder.build(spark, turns, dir,
      IndexBuilder.Config(blockSize = 16, numShards = 8, numPartitions = 8))
    dir
  }
  lazy val engine = new SearchEngine(spark, indexDir)

  test("rank identity survives incremental append (avgdl shift included)") {
    import org.apache.spark.sql.functions.col
    // build over the first 200 convs, append the remaining 100 — the
    // appended index must answer queries exactly like the oracle over
    // the UNION corpus (avgdl changed by the append, so this exercises
    // the query-time-derived BM25 bounds end-to-end)
    val dir = tempDir("graft-index-appended")
    val all = TranscriptGen.corpus(spark, NumConvs)
    import spark.implicits._
    IndexBuilder.build(spark, all.filter(col("conv_id") < "c00000200").as[graft.model.Turn],
      dir, IndexBuilder.Config(blockSize = 16, numPartitions = 8,
        docsPerShard = Some(500), normsPageSize = 128))
    // open the engine BEFORE the append and query it once, so its
    // stats snapshot + dictionary cache (idf, score bounds, shard
    // routing lists) are populated against the pre-append segment —
    // the append below must invalidate them (generation bump), or the
    // live engine would keep stale avgdl/df and never route to the
    // appended shards
    val appended = new SearchEngine(spark, dir)
    appended.retrieve(QuerySet.referenceQueries.head.text, 10).collect()
    // a LocalIndex opened and queried before the append is live too: it
    // reads the same generation-keyed resident segment
    val local = new graft.query.LocalIndex(spark, dir)
    local.retrieve(QuerySet.referenceQueries.head.text, 10)
    // and warm every shard with a dense query, so the boundary shard
    // the append re-encodes is resident on the executors when it lands
    val dense = "t00000 t00001"
    assert(appended.routedShards(dense).length == appended.stats.numShards)
    appended.retrieve(dense, 10).collect()
    IndexBuilder.appendBuild(spark,
      all.filter(col("conv_id") >= "c00000200").as[graft.model.Turn], dir,
      numPartitions = 8)
    for (q <- QuerySet.referenceQueries.take(10)) {
      val expected = LocalOracle
        .topK(oracle, q.text, q.k, q.conjunctive, q.minScore)
        .map { case (d, s) => (d.docId, s) }
      val got = appended.retrieve(q.text, q.k, q.minScore, q.conjunctive)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toIndexedSeq
      assert(got == expected, s"[${q.id}] appended-index mismatch")
      assert(local.retrieve(q.text, q.k, q.minScore, q.conjunctive).toIndexedSeq == expected,
        s"[${q.id}] appended-index LocalIndex mismatch")
    }
  }

  test("generated corpus is parallelism-invariant") {
    val viaSpark = TranscriptGen.corpus(spark, 50).collect()
      .sortBy(t => (t.conv_id, t.turn_idx))
    val local = TranscriptGen.localCorpus(50)
    assert(viaSpark.toSeq == local)
  }

  test("index stats match oracle corpus stats") {
    val stats = graft.index.SegmentIO.readStats(indexDir)
    assert(stats.numDocs == oracle.numDocs)
    assert(stats.avgdl == oracle.avgdl)
  }

  test("rank identity: engine WAND == exact BM25 oracle, full query set") {
    for (q <- QuerySet.referenceQueries) {
      val expected = LocalOracle
        .topK(oracle, q.text, q.k, q.conjunctive, q.minScore)
        .map { case (d, s) => (d.docId, s) }
      val got = engine
        .retrieve(q.text, q.k, q.minScore, q.conjunctive)
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
        .toIndexedSeq
      assert(got.map(_._1) == expected.map(_._1),
        s"[${q.id}] doc-id sequence mismatch")
      got.zip(expected).foreach { case ((gd, gs), (ed, es)) =>
        assert(gs == es, s"[${q.id}] score mismatch at doc $gd/$ed: $gs != $es")
      }
    }
  }

  test("DataFrame oracle path agrees with local oracle (keys + ~score)") {
    val turns = TranscriptGen.corpus(spark, NumConvs)
    for (q <- QuerySet.referenceQueries.take(12)) {
      val expected = LocalOracle.topK(oracle, q.text, q.k, q.conjunctive, q.minScore)
      val got = OracleEngine
        .topK(spark, turns, q.text, q.k, q.conjunctive, q.minScore)
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
      assert(got.map(x => (x._1, x._2)).toSeq ==
        expected.map { case (d, _) => (d.convId, d.turnIdx) },
        s"[${q.id}] DF-oracle key mismatch")
      got.zip(expected).foreach { case ((_, _, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-9, s"[${q.id}] DF-oracle score drift")
      }
    }
  }

  test("DataFrame oracle long query (> ArrayTfMaxTerms) matches local oracle") {
    // > 16 distinct terms forces scoreAllKeyed's explode + groupBy tf
    // branch (the array_remove arithmetic only serves short queries);
    // both branches must rank and score identically to the pure-Scala
    // oracle
    val turns = TranscriptGen.corpus(spark, NumConvs)
    val text = (0 until 20).map(i => TranscriptGen.termOf(i * 37)).mkString(" ")
    assert(graft.tokenize.Tokenizer.tokenize(text).distinct.length >
      OracleEngine.ArrayTfMaxTerms)
    val expected = LocalOracle.topK(oracle, text, 25, conjunctive = false, 0.0)
    val got = OracleEngine.topK(spark, turns, text, 25)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    assert(got.map(x => (x._1, x._2)).toSeq ==
      expected.map { case (d, _) => (d.convId, d.turnIdx) },
      "long-query DF-oracle key mismatch")
    got.zip(expected).foreach { case ((_, _, gs), (_, es)) =>
      assert(math.abs(gs - es) < 1e-9, "long-query DF-oracle score drift")
    }
  }

  test("rank identity: in-RAM LocalIndex == exact BM25 oracle, full query set") {
    val li = new graft.query.LocalIndex(spark, indexDir)
    for (q <- QuerySet.referenceQueries) {
      val expected = LocalOracle
        .topK(oracle, q.text, q.k, q.conjunctive, q.minScore)
        .map { case (d, s) => (d.docId, s) }
      val got = li.retrieve(q.text, q.k, q.minScore, q.conjunctive).toIndexedSeq
      assert(got == expected, s"[${q.id}] LocalIndex mismatch")
    }
  }

  test("zero-hit and stopword-only queries return empty") {
    assert(engine.retrieve("zzznotaterm", 10).count() == 0)
    assert(engine.retrieve("the of and", 10).count() == 0)
    assert(engine.retrieve("", 10).count() == 0)
  }

  test("needle regression: each planted needle ranks #1 for its query") {
    // the reference's expected-paper-in-top-10 fixture
    // (SEMANTIC_SEARCH_IMPROVEMENTS.md:5-10), made exact
    for (i <- 0 until TranscriptGen.NumNeedles) {
      val hits = engine.retrieve(s"needle${i}alpha needle${i}beta", 10).collect()
      assert(hits.nonEmpty, s"needle$i not found")
      val top = hits.head.getLong(0)
      val doc = oracle.docs(top.toInt)
      assert(doc.convId == TranscriptGen.convId(i.toLong) && doc.turnIdx == 0,
        s"needle$i top hit is not the planted turn")
    }
  }
}
