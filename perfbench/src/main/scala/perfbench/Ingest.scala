package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.SearchEngine
import graft.gen.TranscriptGen
import graft.index.{IndexBuilder, SegmentIO}
import graft.model.{QuerySpec, Turn}
import graft.tokenize.Tokenizer

/** `ingest`: an index build at local[4] over a staged seeded corpus,
  * then appends whose follow-up searches must each find a new turn. The
  * index layers do nearly all the work; queries run only to prove each
  * append is searchable. Traced runs add a warm local[1] / local[4]
  * build pair for the scaling and per-stage numbers.
  */
object Ingest {
  val BaseConvs = 600L
  val DeltaConvs = 50L
  /** Appends a run times; their median (nearest rank) is the run's
    * `p50_ms`, so one append slowed by a burst of host load does not
    * set it.
    */
  val Appends = 2
  val Cores = 4
  val SetupReps = 3
  /** Builds run with AQE off, as in graft.Bench: fixed shuffle widths
    * leave it nothing to re-plan, only per-exchange fixed cost.
    */
  private def buildConfig(turns: Long, cores: Int) = IndexBuilder.Config(blockSize = 128,
    numShards = 32, docsPerShard = Some(math.max(1L, (turns + 31) / 32)),
    numPartitions = cores, cacheInput = false, postingsGroups = 2)

  private final case class Staged(dir: String, turns: Long, textBytes: Long,
      deltaTurns: Seq[Long], deltaBytes: Seq[Long]) {
    def base: String = s"$dir/base"
    def delta(i: Int): String = s"$dir/delta$i"
  }

  /** Conversation ids of delta `i`, right after the base and the deltas
    * before it.
    */
  private def deltaLo(i: Int): Long = BaseConvs + i * DeltaConvs

  private def read(spark: SparkSession, path: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(path).as[Turn]
  }

  /** Conversations [lo, hi) of the seeded corpus; ids past the base
    * range sort after every indexed key, so appends take the append
    * path, not compaction.
    */
  def convRange(spark: SparkSession, seed: Long, lo: Long, hi: Long): Dataset[Turn] = {
    import spark.implicits._
    spark.range(lo, hi).flatMap { c =>
      (0 until TranscriptGen.turnsPerConv(seed, c)).map(t => TranscriptGen.turnRow(seed, c, t))
    }
  }

  /** Writes the base corpus and the deltas as parquet; their turn and
    * text-byte counts come from the generator itself, independent of
    * anything Spark wrote or the index will report.
    */
  private def stage(spark: SparkSession, seed: Long, dir: String): Staged = {
    def sizes(lo: Long, hi: Long): (Long, Long) = {
      val turns = (lo until hi).flatMap(c =>
        (0 until TranscriptGen.turnsPerConv(seed, c)).map(t => TranscriptGen.text(seed, c, t)))
      (turns.length.toLong, turns.map(_.length.toLong).sum)
    }
    val (n, b) = sizes(0, BaseConvs)
    val deltas = (0 until Appends).map(i => sizes(deltaLo(i), deltaLo(i) + DeltaConvs))
    val st = Staged(dir, n, b, deltas.map(_._1), deltas.map(_._2))
    TranscriptGen.corpus(spark, BaseConvs, seed).write.mode("overwrite").parquet(st.base)
    (0 until Appends).foreach(i => convRange(spark, seed, deltaLo(i), deltaLo(i) + DeltaConvs)
      .write.mode("overwrite").parquet(st.delta(i)))
    st
  }

  /** The turn of delta `i` its follow-up search must find: the turn of
    * a seeded conversation of that delta with the most distinct terms,
    * queried by its three rarest terms (highest Zipf rank) as an AND
    * query.
    */
  def probeFor(seed: Long, i: Int): (String, Int, String) = {
    val conv = deltaLo(i) + java.lang.Math.floorMod(TranscriptGen.mix64(seed * 31 + i), DeltaConvs)
    val turns = 0 until TranscriptGen.turnsPerConv(seed, conv)
    val terms = turns.map(t => t -> Tokenizer.tokenize(TranscriptGen.text(seed, conv, t)).distinct)
    val (turn, ts) = terms.maxBy(_._2.length)
    (TranscriptGen.convId(conv), turn, ts.sorted.reverse.take(3).mkString(" "))
  }

  def run(env: Env): Report = {
    import env.{ops, tracer, counters}
    val dir = s"${env.scratch}/ingest"
    val spark = env.session(Cores, aqe = false)

    // ---- setup: stage the seeded corpus and its deltas, several times ----
    counters.phase("setup")
    val setups = (0 until SetupReps).map(rep =>
      env.timedS(stage(spark, env.seed, s"$dir/staged$rep")))
    setups.init.foreach(x => Files.rm(new java.io.File(x._1.dir)))
    val staged = setups.last._1

    // ---- timed: one build at local[4], then the appends ----
    val idx = s"$dir/idx"
    val first = timedBuild(env, spark, staged, Cores, idx, "build")
    val indexBytes = Seq("postings", "norms", "dictionary", "docs")
      .map(t => t -> Files.bytes(s"$idx/$t")).toMap
    val postingsCount =
      if (!tracer.enabled || first.isEmpty) 0L
      else SegmentIO.readDict(spark, idx).agg(sum(col("df"))).collect()(0).getLong(0)
    val appended = if (first.isEmpty) Nil else append(env, spark, idx, staged)
    spark.stop()

    // ---- traced only: the 1 -> 4 core scaling pair, both sides warm ----
    val pair = if (!tracer.enabled) Nil else Seq(1, Cores).map { cores =>
      val side = if (cores == 1) "c1" else "cN"
      val s = env.session(cores, aqe = false)
      val gc0 = Gc.totalMs()
      val r = timedBuild(env, s, staged, cores, s"$dir/pair-$side", s"pair.$side")
      val gcMs = Gc.totalMs() - gc0
      s.stop()
      (side, r, gcMs)
    }

    val thr = (ms: Double) => staged.turns / (ms / 1e3)
    val buildTurnsPerS = first.map(b => thr(b._1)).getOrElse(0.0)
    val nan = Double.NaN
    val done = appended.length == Appends
    def medianOf(f: Append => Double) = if (done) Stats.median(appended.map(f)) else nan
    val e2e = Map(
      "setup_s" -> Stats.median(setups.map(_._2)),
      "throughput_per_s" -> buildTurnsPerS,
      "p50_ms" -> medianOf(_.ms))
    val detail = Map(
      "build_turns_per_s" -> buildTurnsPerS,
      "append_turns_per_s" ->
        (if (done) staged.deltaTurns.sum / (appended.map(_.ms).sum / 1e3) else nan),
      "index_bytes_per_input_byte" -> indexBytes.values.sum / staged.textBytes.toDouble,
      "input_turns" -> staged.turns.toDouble)
    val layers = collection.mutable.Map[String, Double]()
    layers ++= Seq(
      "IndexBuilder.build_turns_per_s" -> detail("build_turns_per_s"),
      "IndexBuilder.append_turns_per_s" -> detail("append_turns_per_s"),
      "SegmentIO.index_bytes_per_input_byte" -> detail("index_bytes_per_input_byte"),
      "IndexBuilder.append_s" -> medianOf(_.appendS),
      "IndexBuilder.append_rewritten_bytes_per_input_byte" ->
        (if (done) appended.map(_.rewritten).sum / staged.deltaBytes.sum else nan),
      "spark.append_jobs" -> counters.totals("append").jobs.toDouble / Appends,
      "SearchEngine.first_search_after_append_ms" -> medianOf(a => a.ms - a.appendS * 1e3))
    indexBytes.foreach { case (t, b) => layers(s"SegmentIO.bytes.$t") = b.toDouble }
    if (postingsCount > 0)
      layers("SegmentIO.postings_bytes_per_posting") = indexBytes("postings").toDouble / postingsCount
    pair.foreach { case (side, r, gcMs) =>
      r.foreach { case (_, stages) =>
        Seq("docs", "postings", "dictionary", "norms").foreach(st =>
          stages.get(st).foreach(v => layers(s"IndexBuilder.${st}_s.$side") = v))
      }
      val a = counters.totals(s"pair.$side")
      layers(s"spark.build_jobs.$side") = a.jobs.toDouble
      layers(s"spark.build_tasks.$side") = a.tasks.toDouble
      layers(s"spark.build_shuffle_write_bytes.$side") = a.shuffleWriteBytes.toDouble
      layers(s"spark.build_spill_bytes.$side") = a.spillBytes.toDouble
      layers(s"spark.build_task_cpu_s.$side") = a.cpuNs / 1e9
      layers(s"spark.build_gc_ms.$side") = gcMs.toDouble
    }
    val pairMs = pair.flatMap { case (side, r, _) => r.map(side -> _._1) }.toMap
    if (pairMs.size == 2)
      layers("IndexBuilder.build_scaling_eff") = thr(pairMs("cN")) / thr(pairMs("c1")) / Cores
    Report(e2e, layers.toMap, detail)
  }

  /** One timed `IndexBuilder.build` of the staged corpus, as op and
    * counter phase `kind`.
    *
    * @return (build ms, `[build]` stage seconds), if the build succeeded
    */
  private def timedBuild(env: Env, spark: SparkSession, staged: Staged,
      cores: Int, idx: String, kind: String): Option[(Double, Map[String, Double])] = {
    import env.{ops, tracer, counters}
    tracer.newRequest()
    counters.phase(kind)
    val (built, stages) = BuildLog.capture {
      ops.op(kind)(tracer.span("IndexBuilder.build")(
        IndexBuilder.build(spark, read(spark, staged.base), idx,
          buildConfig(staged.turns, cores)))) { st =>
        Verify.that(st.numDocs == staged.turns,
          s"numDocs ${st.numDocs} != ${staged.turns} input turns")
      }
    }
    counters.phase("check")
    built.map(_ => (ops.latencies(kind).last, stages))
  }

  /** One append's figures: ms from the appendBuild call until its
    * follow-up search returned, the appendBuild's own seconds, and the
    * bytes of index files it wrote or rewrote (traced runs only).
    */
  private final case class Append(ms: Double, appendS: Double, rewritten: Double)

  /** The needle check, then the appends in order, each timed from its
    * appendBuild call until its follow-up search returns.
    *
    * @return the appends' figures, up to the first that failed
    */
  private def append(env: Env, spark: SparkSession, idx: String, staged: Staged): Seq[Append] = {
    import env.{ops, tracer, counters}
    val engine = new SearchEngine(spark, idx)
    locally {
      val i = java.lang.Math.floorMod(env.seed, TranscriptGen.NumNeedles.toLong).toInt
      ops.check("needle") {
        val hits = engine.search(QuerySpec(s"needle${i}alpha needle${i}beta", topK = 1)).hits
        Verify.that(hits.headOption.exists(h =>
          h.conv_id == TranscriptGen.convId(i.toLong) && h.turn_idx == 0),
          s"needle$i ranked ${hits.headOption.map(h => s"${h.conv_id}/${h.turn_idx}")} first")
      }
    }
    def one(i: Int): Option[Append] = {
      val (conv, turn, query) = probeFor(env.seed, i)
      val expected = staged.turns + staged.deltaTurns.take(i + 1).sum
      val before = if (tracer.enabled) Files.dataFiles(idx) else Map.empty[String, (Long, Long)]
      tracer.newRequest()
      counters.phase("append")
      var appendS = 0.0
      val res = ops.op("append")(tracer.span("request.append") {
        val (st, s) = env.timedS(tracer.span("IndexBuilder.appendBuild")(
          IndexBuilder.appendBuild(spark, read(spark, staged.delta(i)), idx, Cores)))
        appendS = s
        counters.phase("append.search")
        val resp = tracer.span("SearchEngine.search")(
          engine.search(QuerySpec(query, topK = 100, conjunctive = true)))
        (st, resp)
      }) { case (st, resp) =>
        Verify.that(st.numDocs == expected, s"append $i: numDocs ${st.numDocs} != $expected")
        Verify.that(resp.hits.exists(h => h.conv_id == conv && h.turn_idx == turn),
          s"append $i: search '$query' did not find delta turn $conv/$turn")
      }
      counters.phase("check")
      res.map { _ =>
        val rewritten =
          if (!tracer.enabled) 0.0
          else Files.dataFiles(idx).collect {
            case (p, v) if !before.get(p).contains(v) => v._1
          }.sum.toDouble
        Append(ops.latencies("append").last, appendS, rewritten)
      }
    }
    Iterator.range(0, Appends).map(one).takeWhile(_.nonEmpty).flatten.toSeq
  }
}
