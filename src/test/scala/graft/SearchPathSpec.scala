package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.api.SearchEngine
import graft.gen.TranscriptGen
import graft.index.{IndexBuilder, SegmentIO}
import graft.index.SegmentIO.IndexedTurn
import graft.model.{MatchStats, QuerySpec, SearchHit}
import graft.ops.Corpus
import graft.query.{Rerank, ShardSearch}
import graft.tokenize.Tokenizer
import graft.tools.{IndexBuildJob, SearchCli}

/** The one-job search path against the DataFrame pipeline it replaced.
  * `SearchEngine.search` fetches its hits' doc-store rows with direct
  * parquet reads and runs filters, rerank, truncation, rounding and
  * boost as plain Scala; the reference below is the former pipeline
  * (docs join → filters → `Rerank` column form → limit → `round` →
  * column boost → sort), and every result must equal it exactly:
  * hits, order, scores and match statistics.
  */
class SearchPathSpec extends SparkSpec {
  import spark.implicits._

  // LifecycleSpec's index
  lazy val indexDir: String = {
    val dir = tempDir("graft-searchpath")
    IndexBuilder.build(spark, TranscriptGen.corpus(spark, 150), dir,
      IndexBuilder.Config(blockSize = 16, numShards = 4, numPartitions = 8))
    dir
  }
  lazy val engine = new SearchEngine(spark, indexDir)

  // ---- the former DataFrame pipeline, kept here as the reference ----

  /** Column-form keyword boost/penalize, as `search` applied it. */
  def columnKeywordRanking(df: DataFrame, spec: QuerySpec): DataFrame = {
    val bTerms = spec.boostTerms.map(_.toLowerCase.trim).filter(_.nonEmpty)
    val pTerms = spec.penalizeTerms.map(_.toLowerCase.trim).filter(_.nonEmpty)
    if (bTerms.isEmpty && pTerms.isEmpty) return df
    def matchCount(terms: Seq[String]) =
      size(filter(array(terms.map(lit): _*), t => contains(lower(col("text")), t)))
    def adjustment(terms: Seq[String], w: Double) =
      if (terms.isEmpty) lit(0.0)
      else {
        val m = matchCount(terms)
        when(m > 0,
          lit(w) * least(m, lit(3)).cast("double") *
            pow(lit(0.7), greatest(m - 1, lit(0)).cast("double")))
          .otherwise(lit(0.0))
      }
    df.withColumn("score",
      col("score") + adjustment(bTerms, spec.boostWeight) -
        adjustment(pTerms, spec.penaltyWeight))
  }

  /** Post-retrieval over a docs relation and (doc_id, exact score) hits. */
  def referenceRank(docs: DataFrame, hits: Seq[(Long, Double)], spec: QuerySpec,
      k: Int): Seq[SearchHit] = {
    var joined = docs.join(broadcast(hits.toDF("doc_id", "score")), "doc_id")
    spec.tsAfter.foreach(a => joined = joined.filter($"ts" >= lit(a)))
    spec.tsBefore.foreach(b => joined = joined.filter($"ts" <= lit(b)))
    if (spec.roles.nonEmpty)
      joined = joined.filter(lower($"role").isin(spec.roles.map(_.toLowerCase): _*))
    if (spec.tools.nonEmpty)
      joined = joined.filter(lower($"tool").isin(spec.tools.map(_.toLowerCase): _*))
    val ordered =
      if (spec.rerank) Rerank(joined, spec.text)
      else joined.orderBy(desc("score"), asc("doc_id"))
    val truncated = ordered.limit(k).withColumn("score", round($"score", 4))
    val boosted = columnKeywordRanking(truncated, spec)
    val includeSet = spec.includeKeys.toSet
    val finalSort =
      if (spec.rerank && spec.boostTerms.isEmpty && spec.penalizeTerms.isEmpty)
        Seq(round($"rerank_score", 3).desc, $"score".desc, $"doc_id".asc)
      else Seq(desc("score"), asc("doc_id"))
    boosted.orderBy(finalSort: _*)
      .select("doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "score")
      .collect()
      .map { r =>
        SearchHit(r.getLong(0), r.getString(1), r.getInt(2), r.getString(3),
          r.getString(4), r.getTimestamp(5), r.getDouble(6),
          includeSet.contains((r.getString(1), r.getInt(2))))
      }.toSeq
  }

  /** The whole former `search` over the engine's index. */
  def referenceSearch(spec: QuerySpec): (Seq[SearchHit], Option[MatchStats]) = {
    val k = if (spec.validationMode) 5000 else spec.topK
    val minScore = if (spec.validationMode) 0.0 else spec.minScore
    val residual = spec.tsAfter.nonEmpty || spec.tsBefore.nonEmpty ||
      spec.roles.nonEmpty || spec.tools.nonEmpty
    val kPrime = math.min(
      if (residual || spec.rerank) k * engine.OverFetchFactor else k, engine.MaxTopK)
    val hits = engine.retrieve(spec.text, kPrime, if (spec.rerank) 0.0 else minScore,
      spec.conjunctive).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rows = referenceRank(SegmentIO.readDocs(spark, indexDir).toDF(), hits, spec, k)
    val includeSet = spec.includeKeys.toSet
    val stats =
      if (includeSet.isEmpty) None
      else {
        val found = rows.map(h => (h.conv_id, h.turn_idx)).toSet
        val matched = (found intersect includeSet).size
        val recall = spark.range(1)
          .select(round(lit(matched.toDouble / includeSet.size), 4)).head().getDouble(0)
        Some(MatchStats(matched, (includeSet diff found).size, (found diff includeSet).size,
          includeSet.size, recall))
      }
    (rows, stats)
  }

  // ---- rounding ----

  test("roundHalfUp rounds like Spark's round(): valueOf ties, not the binary expansion") {
    def sparkRound(x: Double, scale: Int) =
      spark.range(1).select(round(lit(x), scale)).head().getDouble(0)
    assert(SearchEngine.roundHalfUp(0.33335, 4) == 0.3334) // binary expansion: 0.3333
    assert(SearchEngine.roundHalfUp(0.12345, 4) == 0.1235)
    assert(engine.round4(0.33335) == 0.3334)
    for ((x, s) <- Seq((0.33335, 4), (0.12345, 4), (1.0005, 3), (2.675, 2), (-0.33335, 4),
        (1.23456789, 4), (12345.67895, 4))) {
      assert(SearchEngine.roundHalfUp(x, s) == sparkRound(x, s), s"round($x, $s)")
    }
  }

  // ---- direct reads == Spark reads ----

  private val plantedDocs: Seq[IndexedTurn] = {
    def ts(sec: Long) = new Timestamp(TranscriptGen.BaseEpochMs + sec * 1000L)
    Seq(
      IndexedTurn(0L, "c0", 0, "User", "alpha beta gamma", "Bash", ts(10), 3, 0),
      IndexedTurn(1L, "c0", 1, null, "alpha beta", "grep", ts(20), 2, 0),
      IndexedTurn(2L, "c0", 2, "ASSISTANT", "beta alpha beta alpha", null, ts(30), 4, 0),
      IndexedTurn(3L, "c1", 0, "user", "İSTANBUL alpha ΟΔΟΣ beta", "read", null, 3, 0),
      IndexedTurn(4L, "c1", 1, "System", null, "BASH", ts(50), 0, 0),
      IndexedTurn(5L, "c1", 2, "assistant", "alpha the beta gamma İstanbul", "Read", ts(60), 4, 0),
      IndexedTurn(6L, "c2", 0, "tool", "gamma delta σοφός ΣΟΦΟΣ", "web", ts(70), 2, 0),
      // U+A7C0 (Unicode 14): Spark's ICU `lower` maps it, the JVM's does not
      IndexedTurn(7L, "c2", 1, "USER", "delta alpha \uA7C0", "", ts(80), 2, 0),
      IndexedTurn(8L, "c2", 2, "user", "alpha beta alpha beta alpha beta", "bash", ts(90), 6, 0),
      IndexedTurn(9L, "c2", 3, "Tool", "beta", "GREP", ts(100), 1, 0))
  }

  /** A docs table of the planted rows, written under each `ts` layout
    * Spark can write.
    */
  private def writePlanted(tsType: String): String = {
    val dir = tempDir(s"graft-planted-$tsType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", tsType)
    try plantedDocs.toDS().drop("shard").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/docs/shard=0")
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    dir
  }

  test("readShardDocs == Spark's docs read: every ts layout, nulls, non-ASCII, text projection") {
    for (tsType <- Seq("INT96", "TIMESTAMP_MICROS", "TIMESTAMP_MILLIS")) {
      val dir = writePlanted(tsType)
      val ids = Seq(0L, 2L, 3L, 4L, 9L, 42L)
      val spark0 = SegmentIO.readDocs(spark, dir).collect()
        .filter(d => ids.contains(d.doc_id)).sortBy(_.doc_id).toSeq
      val direct = SegmentIO.readShardDocs(dir, 0, ids).sortBy(_.doc_id).toSeq
      assert(direct == spark0, tsType)
      val noText = SegmentIO.readShardDocs(dir, 0, ids, withText = false).sortBy(_.doc_id).toSeq
      assert(noText == spark0.map(_.copy(text = null)), tsType)
      assert(SegmentIO.readShardDocs(dir, 1, ids).isEmpty)
      // the resident rows are the whole shard, decoded the same way
      val g = SegmentIO.generation(dir)
      assert(SegmentIO.residentDocs(dir, g, 0) ==
        SegmentIO.readDocs(spark, dir).collect().map(d => d.doc_id -> d).toMap, tsType)
      assert(SegmentIO.residentDocs(dir, g, 1).isEmpty)
    }
  }

  test("resident docs and dictionary == Spark's reads over a built index") {
    val all = SegmentIO.readDocs(spark, indexDir).collect()
    val g = SegmentIO.generation(indexDir)
    for ((shard, rows) <- all.groupBy(_.shard)) {
      assert(SegmentIO.residentDocs(indexDir, g, shard) == rows.map(d => d.doc_id -> d).toMap)
      // the direct doc_id-set read appendBuild keeps
      val ids = rows.map(_.doc_id).filter(_ % 7 == 3)
      assert(SegmentIO.readShardDocs(indexDir, shard, ids).sortBy(_.doc_id).toSeq ==
        rows.filter(d => ids.contains(d.doc_id)).sortBy(_.doc_id).toSeq)
    }
    assert(all.map(_.shard).distinct.length == engine.stats.numShards)
    val dictSpark = SegmentIO.readDict(spark, indexDir).collect()
    assert(SegmentIO.residentDict(indexDir, g) == dictSpark.map(d => d.term -> d).toMap)
    assert(Seq("needle3alpha", "t00000", "t00003", "t00777")
      .forall(SegmentIO.residentDict(indexDir, g).contains))
  }

  // ---- plain-Scala rerank / boost == their column forms ----

  test("Rerank pair count: Scala form == column form (0/1/2 tokens, repeats, nulls)") {
    val texts = Seq("", "alpha", "alpha beta", "beta gamma", "alpha alpha alpha",
      "beta alpha beta alpha", "alpha the beta", "ALPHA-beta_alpha", "İstanbul alpha beta",
      "alpha beta alpha beta alpha beta alpha beta", null)
    val terms = Seq("alpha", "beta")
    val col0 = texts.toDF("text")
      .select($"text", Rerank.adjacentPairCount($"text", terms).as("n"))
      .collect()
    col0.filter(!_.isNullAt(0)).foreach { r =>
      val t = r.getString(0)
      assert(Rerank.adjacentPairCount(Tokenizer.tokenize(t), terms.toSet) == r.getInt(1), t)
    }
    val legacy = SearchEngine.semantics(spark).legacySizeOfNull
    val scored = Rerank(texts.zipWithIndex.map { case (t, i) => (i.toLong, 1.0 + i, t) }
      .toDF("doc_id", "score", "text"), "alpha beta")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("rerank_score")).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(Rerank.rerankScore(1.0 + i, t, terms.toSet, legacy) == scored(i.toLong), s"$t")
    }
  }

  // ---- post-retrieval: planted rows ----

  test("plain-Scala post-retrieval == DataFrame pipeline on planted rows") {
    val docsDf = plantedDocs.toDF()
    // 4-dp half-up ties (0.33335, 0.33345); a 3-dp rerank-key tie
    // (docs 6 and 9: no adjacent pair, 1.0005 and 1.0008 both key
    // 1.001); equal scores broken by doc_id (3 and 4)
    val hits = Seq(0L -> 0.33335, 1L -> 1.0005, 2L -> 1.0008, 3L -> 2.5, 4L -> 2.5,
      5L -> 0.9, 6L -> 1.0005, 7L -> 0.33345, 8L -> 1.0005, 9L -> 1.0008)
    val at = (sec: Long) => new Timestamp(TranscriptGen.BaseEpochMs + sec * 1000L)
    val base = QuerySpec("alpha beta")
    val specs = Seq(
      base,
      base.copy(topK = 3),
      base.copy(roles = Seq("user", "Assistant")),
      base.copy(tools = Seq("BASH", "read")),
      base.copy(roles = Seq("USER"), tools = Seq("bash")),
      base.copy(tsAfter = Some(at(30)), tsBefore = Some(at(90))),
      base.copy(tsAfter = Some(at(55))),
      base.copy(rerank = true),
      base.copy(rerank = true, topK = 4),
      base.copy(boostTerms = Seq("İSTANBUL", "ΟΔΟΣ", "gamma")),
      base.copy(boostTerms = Seq("σοφος", "ΣΟΦΟΣ"), penalizeTerms = Seq("delta")),
      base.copy(boostTerms = Seq("\uA7C1")),
      base.copy(penalizeTerms = Seq("beta", " alpha ", ""), penaltyWeight = 0.3),
      base.copy(boostTerms = Seq("  "), rerank = true),
      base.copy(rerank = true, boostTerms = Seq("gamma"), penalizeTerms = Seq("alpha")),
      base.copy(roles = Seq("tool"), topK = 50),
      base.copy(roles = Seq("user"), rerank = true, boostTerms = Seq("beta"), topK = 20),
      base.copy(includeKeys = Seq(("c0", 0), ("c2", 1))))
    val sem = SearchEngine.semantics(spark)
    val byId = plantedDocs.map(d => d.doc_id -> d).toMap
    for (spec <- specs) {
      val expected = referenceRank(docsDf, hits, spec, spec.topK)
      val got = SearchEngine.rank(spec, spec.topK,
        hits.map { case (d, s) => byId(d) -> s }.toArray, sem).toSeq
      assert(got == expected, s"$spec")
    }
  }

  // ---- post-retrieval: engine-level grid ----

  test("search == former DataFrame pipeline over every spec kind") {
    val at = (h: Long) => new Timestamp(TranscriptGen.BaseEpochMs + h * 3600000L)
    val hot = "t00000 t00001"
    val top = engine.search(QuerySpec("needle3alpha needle3beta", topK = 5)).hits
    val specs = Seq(
      QuerySpec(hot),
      QuerySpec("t00005 t00006 t00010", topK = 25),
      QuerySpec("t00000 t00002", conjunctive = true, topK = 15),
      QuerySpec("t00003 t00004", minScore = 2.0, topK = 40),
      QuerySpec(hot, roles = Seq("User")),
      QuerySpec(hot, tools = Seq("BASH", "grep"), topK = 20),
      QuerySpec(hot, tsAfter = Some(at(40))),
      QuerySpec(hot, tsBefore = Some(at(100)), tsAfter = Some(at(20))),
      QuerySpec(hot, rerank = true),
      QuerySpec("t00000 t00001 t00002", rerank = true, topK = 30),
      QuerySpec("t00005 t00006", boostTerms = Seq("t00000")),
      QuerySpec("t00005 t00006", penalizeTerms = Seq("T00001", "t00002")),
      QuerySpec(hot, boostTerms = Seq("t00003", "t00004"), penalizeTerms = Seq("t00002")),
      QuerySpec(hot, rerank = true, boostTerms = Seq("t00007"), roles = Seq("assistant")),
      QuerySpec("needle3alpha needle3beta", topK = 5,
        includeKeys = Seq((top.head.conv_id, top.head.turn_idx), ("c99999999", 0))),
      QuerySpec("t00000", topK = 3, minScore = 5.0, validationMode = true),
      QuerySpec("nosuchterm"),
      QuerySpec("the and of"))
    for (spec <- specs) {
      val resp = engine.search(spec)
      val (hits, stats) = referenceSearch(spec)
      assert(resp.hits == hits, s"$spec")
      assert(resp.totalResults == hits.length)
      assert(resp.stats == stats, s"$spec")
    }
  }

  test("retrieveMapped == the column-form id mapping over the doc store") {
    for ((q, k) <- Seq(("t00000 t00001", 10), ("t00005 needle3alpha", 40), ("nosuchterm", 5))) {
      val hits = engine.retrieve(q, k)
      val expected = SegmentIO.readDocs(spark, indexDir).join(broadcast(hits), "doc_id")
        .select(Corpus.docIdFromConv($"conv_id").as("id"), $"score")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy { case (id, s) => (-s, id) }
      assert(engine.retrieveMapped(q, k, Corpus.docIdFromConv).toSeq == expected.toSeq, q)
    }
  }

  test("ShardSearch.merge == orderBy(desc score, asc doc_id).limit(k) of the same rows") {
    // per-shard lists as the kernel emits them; equal scores across
    // shards (2.0 in all three, 1.0 in two), and 0.0 against -0.0
    val perShard = Seq(
      Array(10L -> 2.0, 12L -> 1.5, 13L -> 1.0, 30L -> 0.0),
      Array(3L -> 2.0, 5L -> 1.5, 7L -> 0.5, 25L -> -0.0),
      Array(20L -> 2.5, 11L -> 2.0, 21L -> 1.0))
    val rows = perShard.flatten
    for (k <- Seq(0, 1, 2, 3, 5, rows.length, rows.length + 7)) {
      val expected = rows.toDF("doc_id", "score").orderBy(desc("score"), asc("doc_id")).limit(k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = ShardSearch.merge(perShard, k).toSeq
      assert(got == expected, s"k=$k")
      assert(got.map(_._1) == expected.map(_._1), s"k=$k")
      assert(got.length == math.min(k, rows.length))
    }
    assert(ShardSearch.merge(perShard, 3).toSeq == Seq(20L -> 2.5, 3L -> 2.0, 10L -> 2.0))
    assert(ShardSearch.merge(perShard, rows.length).takeRight(2).map(_._1).toSeq == Seq(25L, 30L))
  }

  test("retrieve keeps its schema (non-null doc_id bigint, score double), empty or not") {
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false)))
    for (q <- Seq("t00000 t00001", "nosuchterm", "the and of", "")) {
      val df = engine.retrieve(q, 10)
      assert(df.schema == schema, q)
      assert(df.collect().nonEmpty == (q == "t00000 t00001"), q)
    }
    assert(engine.retrieve("t00000 nosuchterm", 10, conjunctive = true).schema == schema)
  }

  test("SearchCli.parse: full flag set; a flag without its value or a bad --k fails with usage") {
    val (dir, spec) = SearchCli.parse(Array("idx", "alpha", "--k", "5", "--min-score",
      "0.5", "--and", "beta", "--boost", "x,y", "--penalize", "z", "--role", "user,tool"))
    assert(dir == "idx")
    assert(spec == QuerySpec("alpha beta", topK = 5, minScore = 0.5, conjunctive = true,
      roles = Seq("user", "tool"), boostTerms = Seq("x", "y"), penalizeTerms = Seq("z")))
    assert(SearchCli.parse(Array("idx", "q")) == ("idx", QuerySpec("q")))
    for (bad <- Seq(Array("idx", "foo", "--k"), Array("idx", "foo", "--k", "x"),
        Array("idx", "foo", "--role"), Array[String]())) {
      val e = intercept[IllegalArgumentException](SearchCli.parse(bad))
      assert(e.getMessage.contains(SearchCli.Usage), bad.mkString(" "))
    }
  }

  test("IndexBuildJob.parse: defaults and overrides; a wrong argument count or a bad number fails with usage") {
    assert(IndexBuildJob.parse(Array("gen:10", "idx")) == ("gen:10", "idx", 32, 128))
    assert(IndexBuildJob.parse(Array("t.parquet", "idx", "16", "64")) ==
      ("t.parquet", "idx", 16, 64))
    for (bad <- Seq(Array("gen:10"), Array("gen:10", "idx", "abc"),
        Array("gen:10", "idx", "16", "x"), Array("gen:10", "idx", "16", "64", "4"),
        Array("gen:10", "idx", "0"), Array("gen:x", "idx"))) {
      val e = intercept[IllegalArgumentException](IndexBuildJob.parse(bad))
      assert(e.getMessage.contains(IndexBuildJob.Usage), bad.mkString(" "))
    }
  }

  test("a search runs one Spark job: the WAND fan-out") {
    // 16 shards over defaultParallelism (4) cores, so a dense query
    // packs several shards into each task
    val dir = tempDir("graft-searchpath-wide")
    IndexBuilder.build(spark, TranscriptGen.corpus(spark, 150), dir,
      IndexBuilder.Config(blockSize = 16, numShards = 16, numPartitions = 8))
    val wide = new SearchEngine(spark, dir)
    val p = spark.sparkContext.defaultParallelism
    val jobTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val tasksRun = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobTasks.add(e.stageInfos.map(_.numTasks).sum)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasksRun.incrementAndGet()
    }
    val specs = Seq(
      QuerySpec("t00011 t00012 t00013", roles = Seq("user"), rerank = true,
        boostTerms = Seq("t00000")),
      QuerySpec("needle4alpha t00014", tools = Seq("bash"), tsAfter = Some(
        new Timestamp(TranscriptGen.BaseEpochMs)), penalizeTerms = Seq("t00001")),
      QuerySpec("needle5alpha needle5beta", conjunctive = true), // rare AND
      QuerySpec("needle3alpha needle11beta"), // rare OR
      QuerySpec("t00000 t00001")) // dense OR
    val routed = specs.map(s => wide.routedShards(s.text, s.conjunctive).toSeq)
    val Seq(rareAnd, rareOr, dense) = routed.takeRight(3).map(_.length)
    assert(rareAnd == 1 && rareOr < p && dense == wide.stats.numShards && dense > p)
    val tasks = routed.map(r => math.min(r.length, p))
    spark.sparkContext.addSparkListener(listener)
    val hits = try {
      val hits = specs.map(wide.search(_).hits.length)
      // listener events arrive asynchronously: wait for them to settle
      val deadline = System.currentTimeMillis() + 10000
      var last = -1
      while (System.currentTimeMillis() < deadline && tasksRun.get != last) {
        last = tasksRun.get
        Thread.sleep(500)
      }
      hits
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(hits.takeRight(3).forall(_ > 0))
    // events arrive in submission order: job i is search i's fan-out,
    // its routed shards packed into min(routed, P) tasks
    assert(jobTasks.asScala.toSeq == tasks)
    assert(tasksRun.get == tasks.sum)
    // the shards the tasks report visiting are exactly the routed
    // ones, each once
    for ((s, r) <- specs.zip(routed)) {
      val visited = wide.fanOut(s.text, 10, 0.0, s.conjunctive).flatMap(_._1)
      assert(visited.sorted.toSeq == r, s.text)
    }
  }

  test("SegmentIO resident shard: filled under generation g, re-read after invalidateDlCache") {
    val dir = tempDir("graft-resident")
    IndexBuilder.build(spark, TranscriptGen.corpus(spark, 20), dir,
      IndexBuilder.Config(blockSize = 16, numShards = 2, numPartitions = 2))
    val g = SegmentIO.generation(dir)
    val before = SegmentIO.residentShard(dir, g, 0)
    assert(SegmentIO.residentShard(dir, g, 0) eq before) // served resident
    // the resident copy is the shard's postings, block_id-sorted per
    // term, and its dl pages
    def content(bs: Iterable[SegmentIO.PostingBlock]) = bs.map(b => (b.term, b.block_id, b.n,
      b.first_doc, b.last_doc, b.doc_bytes.toSeq, b.tf_bytes.toSeq, b.block_max_tf,
      b.block_min_dl, b.sum_tf, b.shard)).toSet
    assert(content(before.postings.values.flatten) ==
      content(SegmentIO.readPostings(spark, dir).collect().filter(_.shard == 0)))
    assert(before.postings.values.forall(bs => bs.map(_.block_id).toSeq == bs.map(_.block_id).sorted.toSeq))
    assert(before.dlPages.flatten.length ==
      SegmentIO.readDocs(spark, dir).filter(col("shard") === 0).count())
    val terms = before.postings.keys.take(3).toArray
    assert(SegmentIO.readShardPostings(dir, 0, terms :+ "nosuchterm").toSeq ==
      terms.toSeq.flatMap(before.postings(_)))
    // rewrite shard 0 in place, as an append re-encodes its boundary
    // shard, then bump the generation as every mutation path does
    IndexBuilder.deleteRecursively(java.nio.file.Paths.get(SegmentIO.postingsPath(dir), "shard=0"))
    SegmentIO.invalidateDlCache(dir)
    val g1 = SegmentIO.generation(dir)
    assert(g1 == g + 1)
    val after = SegmentIO.residentShard(dir, g1, 0)
    assert(after.postings.isEmpty && after.dlPages.nonEmpty) // re-read, not served
    assert(SegmentIO.residentShard(dir, g1, 0) eq after)
    // a task planned under g that fills after the bump is not kept
    val late = SegmentIO.residentShard(dir, g, 0)
    assert(late.postings.isEmpty && !(late eq before))
    assert(!(SegmentIO.residentShard(dir, g, 0) eq late))
  }

  /** Local-filesystem read operations and bytes read so far, by every
    * thread of this JVM (the driver and the local executor's tasks).
    */
  private def localFsReads(): Long = {
    @annotation.nowarn("cat=deprecation")
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    all.filter(_.getScheme == "file")
      .map(st => st.getReadOps + st.getLargeReadOps + st.getBytesRead).sum
  }

  test("a warm search reads no file: dictionary, shards and doc store are resident") {
    val spec = QuerySpec("t00000 needle3alpha t00005", rerank = true, boostTerms = Seq("t00001"),
      roles = Seq("user", "assistant"))
    val first = engine.search(spec)
    assert(first.hits.nonEmpty)
    val before = localFsReads()
    val again = engine.search(spec)
    assert(localFsReads() == before, "the repeated search read local files")
    assert(again.hits == first.hits)
    // a LocalIndex loads nothing up front: constructing one runs no
    // Spark job (a marker job after it is the first the listener sees;
    // events arrive in submission order)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val li = try {
      val li = new graft.query.LocalIndex(spark, indexDir)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 10000
      while (jobs.get == 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      li
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 1, "constructing a LocalIndex ran a Spark job")
    // and a warm local query reads no file either
    val local = li.retrieve(spec.text, 10)
    assert(local.nonEmpty)
    val beforeLocal = localFsReads()
    assert(li.retrieve(spec.text, 10).toSeq == local.toSeq)
    assert(localFsReads() == beforeLocal, "the repeated LocalIndex query read local files")
    // the counter does see the reads a cold fill makes
    SegmentIO.readShardDocs(indexDir, 0, Seq(0L))
    assert(localFsReads() > before)
  }

  test("SegmentIO resident docs and dictionary: filled under generation g, re-read after appendBuild") {
    import spark.implicits._
    val dir = tempDir("graft-resident-docs")
    IndexBuilder.build(spark, TranscriptGen.corpus(spark, 20), dir,
      IndexBuilder.Config(blockSize = 16, numShards = 2, numPartitions = 2))
    val g = SegmentIO.generation(dir)
    val total0 = SegmentIO.residentTotalBytes
    val docs = SegmentIO.residentDocs(dir, g, 0)
    val dict = SegmentIO.residentDict(dir, g)
    // a second lookup under g is served resident, and the entries'
    // bytes count against the one resident cap
    assert(SegmentIO.residentDocs(dir, g, 0) eq docs)
    assert(SegmentIO.residentDict(dir, g) eq dict)
    assert(docs.nonEmpty && dict.nonEmpty)
    assert(SegmentIO.residentTotalBytes ==
      total0 + SegmentIO.docsBytes(docs) + SegmentIO.dictBytes(dict))

    // a live engine, warm under g, then an append of a turn whose term
    // exists only in the delta
    val live = new SearchEngine(spark, dir)
    assert(live.search(QuerySpec("t00000")).hits.nonEmpty)
    assert(live.search(QuerySpec("zebraquokka")).hits.isEmpty)
    val ts = Timestamp.valueOf("2030-01-01 00:00:00")
    val delta = Seq(graft.model.Turn("c99999999", 0, "Tool", "the zebraquokka was seen", "grep",
      ts)).toDS()
    val st = IndexBuilder.appendBuild(spark, delta, dir, numPartitions = 2)
    val g1 = SegmentIO.generation(dir)
    assert(g1 > g)
    val hits = live.search(QuerySpec("zebraquokka", roles = Seq("tool"))).hits
    assert(hits.map(h => (h.doc_id, h.conv_id, h.turn_idx, h.role, h.tool, h.ts)) ==
      Seq((st.numDocs - 1, "c99999999", 0, "Tool", "grep", ts)))
    assert(live.stats == st)
    // g's entries left the resident total with the mutation; what the
    // search filled under g1 is in it
    val hitShard = ((st.numDocs - 1) / st.docsPerShard).toInt
    assert(live.routedShards("zebraquokka").toSeq == Seq(hitShard))
    val totalG1 = SegmentIO.residentTotalBytes
    assert(totalG1 == total0 + SegmentIO.dictBytes(SegmentIO.residentDict(dir, g1)) +
      SegmentIO.docsBytes(SegmentIO.residentDocs(dir, g1, hitShard)) +
      SegmentIO.residentShard(dir, g1, hitShard).bytes)

    // a reader planned under g that fills after the bump is not kept
    val lateDocs = SegmentIO.residentDocs(dir, g, 0)
    val lateDict = SegmentIO.residentDict(dir, g)
    assert(!(lateDocs eq docs) && !(lateDict eq dict))
    assert(lateDict.contains("zebraquokka")) // read from the files as they are now
    assert(!(SegmentIO.residentDocs(dir, g, 0) eq lateDocs))
    assert(!(SegmentIO.residentDict(dir, g) eq lateDict))
    assert(SegmentIO.residentTotalBytes == totalG1)
  }
}
