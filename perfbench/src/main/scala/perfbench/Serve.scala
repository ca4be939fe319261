package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom


import graft.api.SearchEngine
import graft.gen.{QuerySet, TranscriptGen}
import graft.gen.QuerySet.Q
import graft.index.{IndexBuilder, SegmentIO, Varbyte}
import graft.model.{QuerySpec, SearchHit, SearchResponse}
import graft.query.{Bm25, LocalIndex, LocalOracle, Wand}
import graft.tokenize.Tokenizer

/** `serve`: one closed-loop client over a resident index, alternating
  * in-JVM `LocalIndex.retrieve` calls with distributed
  * `SearchEngine.search` calls. The query layers do all the work.
  */
object Serve {
  val Convs = 600L
  val Cores = 4
  val SetupReps = 3
  /** Search ops interleave with local ops 1 : LocalPerSearch. */
  val LocalPerSearch = 63
  val MinLocal = 1000
  /** Two blocks of [[SearchBlock]]. */
  val MinSearch = 16
  val WarmLocal = 500
  val LocalChecks = 4
  val OracleChecks = 3

  /** `searchKinds(i)` is the [[SearchBlock]] kind `search(i)` was drawn as. */
  final case class OpList(local: IndexedSeq[Q], search: IndexedSeq[QuerySpec],
      searchKinds: IndexedSeq[String])

  private val Roles = Seq(Seq("assistant"), Seq("user", "tool"), Seq("system"))
  private val Tools = Seq(Seq("bash"), Seq("grep", "read"), Seq("web", "write"))

  private def zipfTerms(r: SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(TranscriptGen.zipfTerm(r.nextDouble())).distinct

  private def genLocal(r: SplittableRandom): Q = {
    val terms = zipfTerms(r, 1 + r.nextInt(4))
    val conj = terms.length > 1 && r.nextDouble() < 0.25
    val u = r.nextDouble()
    val k = if (u < 0.8) 10 else if (u < 0.95) 100 else 1000
    val minScore = if (r.nextDouble() < 0.15) Seq(0.5, 1.0, 2.0)(r.nextInt(3)) else 0.0
    Q("generated", terms.mkString(" "), k, conj, minScore)
  }

  /** The reference queries the warm-up runs; the timed ops leave them out. */
  val WarmSearch: Seq[Q] = QuerySet.referenceQueries.take(2)

  /** The warm-up's search ops: the [[WarmSearch]] reference queries, then
    * one generated op of every other kind and filter, and an AND query,
    * so no timed op is the first of its kind (a first filter, rerank or
    * boost costs up to ~3x the steady latency while Spark plans and
    * compiles it).
    */
  def warmSearch(seed: Long): Seq[QuerySpec] = {
    val r = new SplittableRandom(seed ^ 0x3b3b)
    WarmSearch.map(toSpec) ++ (0 until 3).map(f => genSearch(r, "filter", Some(f))) ++
      Seq("rerank", "boost").map(genSearch(r, _)) :+
      QuerySpec(zipfTerms(r, 2).mkString(" "), conjunctive = true)
  }

  /** The kinds of search op, one entry per op of a block. Every
    * `SearchBlock.length` search ops hold exactly these shares, in a
    * seeded order, so each run's search median sees the same mix.
    */
  val SearchBlock: Seq[String] =
    Seq("reference", "reference", "plain", "plain", "filter", "filter", "rerank", "boost")

  private def toSpec(q: Q): QuerySpec =
    QuerySpec(q.text, topK = q.k, minScore = q.minScore, conjunctive = q.conjunctive)

  /** A search op of the given kind: a reference query (not one of the
    * warm-up ones), or a generated query, bare or with a role/tool/ts
    * filter, rerank, or boost/penalize terms.
    */
  private def genSearch(r: SplittableRandom, kind: String, filter: Option[Int] = None): QuerySpec = {
    val refs = QuerySet.referenceQueries.drop(WarmSearch.length)
    val spec = toSpec(if (kind == "reference") refs(r.nextInt(refs.length)) else genLocal(r))
    kind match {
      case "filter" => filter.getOrElse(r.nextInt(3)) match {
        case 0 => spec.copy(roles = Roles(r.nextInt(Roles.length)))
        case 1 => spec.copy(tools = Tools(r.nextInt(Tools.length)))
        case _ =>
          val from = TranscriptGen.BaseEpochMs + r.nextInt(Convs.toInt / 2) * 3600000L
          spec.copy(tsAfter = Some(new Timestamp(from)),
            tsBefore = Some(new Timestamp(from + Convs / 2 * 3600000L)))
      }
      case "rerank" => spec.copy(rerank = true)
      case "boost" => spec.copy(boostTerms = zipfTerms(r, 1 + r.nextInt(2)),
        penalizeTerms = if (r.nextBoolean()) zipfTerms(r, 1) else Nil)
      case _ => spec
    }
  }

  /** The seed's op list, long enough for any run: local ops are the 47
    * reference queries, then generated ones; search ops are blocks of
    * [[SearchBlock]], each shuffled by the seed.
    */
  def opList(seed: Long, nLocal: Int = 12000): OpList = {
    val r = new SplittableRandom(seed)
    val ref = QuerySet.referenceQueries
    val local = (ref ++ Seq.fill(nLocal - ref.length)(genLocal(r))).toIndexedSeq
    val blocks = math.max(1, nLocal / LocalPerSearch / SearchBlock.length)
    val search = Seq.fill(blocks)(shuffle(r, SearchBlock).map(k => k -> genSearch(r, k)))
      .flatten.toIndexedSeq
    OpList(local, search.map(_._2), search.map(_._1))
  }

  private def shuffle[A](r: SplittableRandom, xs: Seq[A]): Seq[A] = {
    val a = collection.mutable.ArrayBuffer.from(xs)
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def run(env: Env): Report = {
    import env.{ops, tracer, counters}
    val dir = s"${env.scratch}/serve"
    val spark = env.session(Cores, aqe = true)
    counters.phase("build")
    val idx = s"$dir/idx"
    IndexBuilder.build(spark, TranscriptGen.corpus(spark, Convs, env.seed), idx,
      IndexBuilder.Config(blockSize = 128, numShards = 32, numPartitions = Cores))

    // ---- setup: load the index for serving, several times ----
    counters.phase("setup")
    val setups = (0 until SetupReps).map { _ =>
      val t0 = System.nanoTime()
      val (local, loadS) = env.timedS(new LocalIndex(spark, idx))
      val engine = new SearchEngine(spark, idx)
      engine.stats
      (local, engine, (System.nanoTime() - t0) / 1e9, loadS)
    }
    val (li, eng, _, _) = setups.last

    // ---- warm-up: caches fill and the JIT settles before timing ----
    counters.phase("warmup")
    val list = opList(env.seed)
    val warmR = new SplittableRandom(env.seed ^ 0x3a3a)
    (0 until WarmLocal).foreach { _ =>
      val q = list.local(warmR.nextInt(list.local.length))
      li.retrieve(q.text, q.k, q.minScore, q.conjunctive)
    }
    val warmSpecs = warmSearch(env.seed)
    warmSpecs.foreach(eng.search)
    val seen = collection.mutable.Set[String]()
    warmSpecs.foreach(q => seen ++= Tokenizer.tokenize(q.text))

    val probe = new ServeProbe(env, idx, li, eng, seen)
    val gc0 = Gc.totalMs()
    val t0 = System.nanoTime()
    var nl = 0
    var ns = 0
    def elapsedS = (System.nanoTime() - t0) / 1e9
    while (elapsedS < env.seconds || nl < MinLocal || ns < MinSearch) {
      if ((nl + ns) % (LocalPerSearch + 1) == LocalPerSearch) {
        val spec = list.search(ns % list.search.length)
        tracer.newRequest()
        tracer.span("request.search") {
          counters.phase("search")
          ops.op("search")(tracer.span("SearchEngine.search")(eng.search(spec)))(
            resp => verifySearch(eng, li, env.seed, spec, resp))
          counters.phase("probe")
          probe.afterSearch(spec)
        }
        ns += 1
      } else {
        val q = list.local(nl % list.local.length)
        tracer.newRequest()
        tracer.span("request.local") {
          val res = ops.op("local")(tracer.span("LocalIndex.retrieve")(
            li.retrieve(q.text, q.k, q.minScore, q.conjunctive)))(_ => ())
          res.foreach(r => probe.afterLocal(q, r))
        }
        nl += 1
      }
    }
    val gcMs = Gc.totalMs() - gc0

    // ---- untimed checks: local == distributed, and == the exact oracle ----
    // (LocalOracle: the repo's single-threaded exact BM25, the reference
    // the engine's rank-identity tests use; OracleEngine.topK, its
    // DataFrame twin, costs seconds per query here)
    counters.phase("check")
    val r = new SplittableRandom(env.seed ^ 0x5eed)
    (0 until LocalChecks).foreach { _ =>
      val q = list.local(r.nextInt(math.min(nl, list.local.length)))
      ops.check("local==engine") {
        val a = li.retrieve(q.text, q.k, q.minScore, q.conjunctive).toSeq
        val b = eng.retrieve(q.text, q.k, q.minScore, q.conjunctive).collect()
          .map(x => (x.getLong(0), x.getDouble(1))).toSeq
        Verify.that(a == b, s"'${q.text}' k=${q.k}: LocalIndex ${a.take(3)} != SearchEngine ${b.take(3)}")
      }
    }
    val oracle = LocalOracle.buildCorpus(TranscriptGen.localCorpus(Convs, env.seed))
    (0 until OracleChecks).foreach { _ =>
      val q = QuerySet.referenceQueries(r.nextInt(QuerySet.referenceQueries.length))
      ops.check("local==oracle") {
        val a = li.retrieve(q.text, q.k, q.minScore, q.conjunctive).toSeq
        val b = LocalOracle.topK(oracle, q.text, q.k, q.conjunctive, q.minScore)
          .map { case (d, s) => (d.docId, s) }
        Verify.that(a == b, s"'${q.text}': LocalIndex ${a.take(3)} != oracle ${b.take(3)}")
      }
    }
    spark.stop()

    val local = ops.latencies("local")
    val search = ops.latencies("search")
    val all = local ++ search
    val detail = Map(
      "local_p50_ms" -> Stats.medianOrNaN(local),
      "local_p99_ms" -> Stats.tail(local, 0.99),
      "search_p50_ms" -> Stats.medianOrNaN(search),
      "local_ops" -> local.length.toDouble,
      "search_ops" -> search.length.toDouble)
    // p50 is the search path's: sub-ms local ops swing with host load far
    // more than their share of the client's time
    val e2e = Map(
      "setup_s" -> Stats.median(setups.map(_._3)),
      "throughput_per_s" -> all.length / (all.sum / 1e3),
      "p50_ms" -> Stats.medianOrNaN(search))
    val layers = Map(
      "LocalIndex.p50_ms" -> detail("local_p50_ms"),
      "LocalIndex.p99_ms" -> detail("local_p99_ms"),
      "SearchEngine.p50_ms" -> detail("search_p50_ms"),
      "LocalIndex.load_s" -> Stats.median(setups.map(_._4)),
      "jvm.serve_gc_ms" -> gcMs.toDouble) ++ probe.layers(nl, ns)
    Report(e2e, layers, detail)
  }

  /** The (k, minScore) `SearchEngine.search` retrieves candidates with:
    * 5x over-fetch under residual filters or rerank, no threshold under
    * rerank.
    */
  def candidates(eng: SearchEngine, spec: QuerySpec): (Int, Double) = {
    val residual = spec.tsAfter.nonEmpty || spec.tsBefore.nonEmpty ||
      spec.roles.nonEmpty || spec.tools.nonEmpty
    (math.min(if (residual || spec.rerank) spec.topK * eng.OverFetchFactor else spec.topK,
      eng.MaxTopK), if (spec.rerank) 0.0 else spec.minScore)
  }

  /** A keyword adjustment as the engine's boost/penalize formula gives
    * it: w * min(m, 3) * 0.7^(m-1) for m > 0 terms found in the
    * lower-cased text.
    */
  private def adjustment(terms: Seq[String], w: Double, text: String): Double = {
    val m = terms.map(_.toLowerCase.trim).filter(_.nonEmpty).count(text.contains)
    if (m > 0) w * math.min(m, 3).toDouble * StrictMath.pow(0.7, (m - 1).toDouble) else 0.0
  }

  /** Checks a search response against the LocalIndex over-fetch the
    * engine's policy implies: same hits and 4-dp scores for a plain
    * query, those scores plus the keyword adjustment of the turn's
    * generated text under boost/penalize, and filter-passing hits drawn
    * from the candidates under filters or rerank.
    */
  def verifySearch(eng: SearchEngine, li: LocalIndex, seed: Long, spec: QuerySpec,
      resp: SearchResponse): Unit = {
    val residual = spec.tsAfter.nonEmpty || spec.tsBefore.nonEmpty ||
      spec.roles.nonEmpty || spec.tools.nonEmpty
    val rescored = spec.boostTerms.nonEmpty || spec.penalizeTerms.nonEmpty
    val (kPrime, minScore) = candidates(eng, spec)
    val cand = li.retrieve(spec.text, kPrime, minScore, spec.conjunctive)
    val candScore = cand.toMap
    val hits = resp.hits
    Verify.that(hits.length <= spec.topK, s"${hits.length} hits for k=${spec.topK}")
    Verify.that(hits.forall(h => candScore.contains(h.doc_id)),
      s"'${spec.text}': a hit is not among the LocalIndex candidates")
    val expected = (h: SearchHit) => {
      val base = eng.round4(candScore(h.doc_id))
      if (!rescored) base
      else {
        val text = TranscriptGen.text(seed, h.conv_id.drop(1).toLong, h.turn_idx).toLowerCase
        base + adjustment(spec.boostTerms, spec.boostWeight, text) -
          adjustment(spec.penalizeTerms, spec.penaltyWeight, text)
      }
    }
    Verify.that(hits.forall(h => expected(h) == h.score),
      s"'${spec.text}': hit scores differ from LocalIndex${if (rescored) " plus keyword adjustment" else ""}")
    Verify.that(spec.roles.isEmpty || hits.forall(h => spec.roles.contains(h.role.toLowerCase)),
      "role filter not applied")
    Verify.that(spec.tools.isEmpty || hits.forall(h => spec.tools.contains(h.tool.toLowerCase)),
      "tool filter not applied")
    Verify.that(hits.forall(h => spec.tsAfter.forall(a => !h.ts.before(a)) &&
      spec.tsBefore.forall(b => !h.ts.after(b))), "ts filter not applied")
    if (!residual && !spec.rerank)
      Verify.that(hits.map(_.doc_id).toSet == cand.take(spec.topK).map(_._1).toSet,
        s"'${spec.text}': hit set differs from LocalIndex top-${spec.topK}")
  }
}

/** Traced-run probes of the serving layers: the benchmark re-runs each
  * op's inner calls one by one, around the real op, so every layer gets
  * its own span and counts. Untraced, every method returns at once.
  */
final class ServeProbe(env: Env, dir: String, li: LocalIndex,
    eng: SearchEngine, seen: collection.mutable.Set[String]) {
  import env.{ops, tracer}
  private var postings = 0L
  private var decodeNs = 0L
  private var decoded = 0L
  private var dictMisses = 0L
  private var shardsRouted = 0L
  private var shardReads = 0L
  private var postingsBytes = 0L
  private val stats = li.stats

  /** Sequential per-shard WAND over LocalIndex's resident blocks; its
    * merged top-k must equal the op's result.
    */
  def afterLocal(q: Q, result: Array[(Long, Double)]): Unit = if (tracer.enabled) {
    val terms = tracer.span("Tokenizer.tokenize")(Tokenizer.tokenize(q.text).distinct.sorted)
    val present = terms.filter(li.dict.contains)
    val blocks = present.flatMap(t => li.postings(t).values.flatten)
    postings += blocks.map(_.n.toLong).sum
    val t0 = System.nanoTime()
    tracer.span("Varbyte.decode")(blocks.foreach { b =>
      Varbyte.decodeDeltas(b.doc_bytes, b.n)
      Varbyte.decodeInts(b.tf_bytes, b.n)
    })
    decodeNs += System.nanoTime() - t0
    decoded += blocks.map(_.n.toLong).sum
    val merged =
      if (present.isEmpty || (q.conjunctive && present.length < terms.length)) Array.empty[(Long, Double)]
      else {
        val meta = present.map { t =>
          val d = li.dict(t)
          val idf = Bm25.idf(stats.numDocs, d.df)
          t -> (idf, Bm25.boundScore(idf, d.max_tf, d.min_dl, stats.avgdl))
        }.toMap
        li.norms.keys.toSeq.sorted.flatMap { shard =>
          val dlArrs = li.norms(shard)
          val base = shard.toLong * stats.docsPerShard
          val page = stats.normsPageSize
          val dl = (d: Long) => dlArrs(((d - base) / page).toInt)(((d - base) % page).toInt)
          tracer.span("Wand.topK") {
            val cursors = present.flatMap(t => li.postings(t).get(shard).map { bs =>
              new Wand.TermCursor(t, meta(t)._1, meta(t)._2, bs, stats.avgdl)
            })
            if (cursors.isEmpty || (q.conjunctive && cursors.length < present.length)) Nil
            else if (q.conjunctive) Wand.topKConjunctive(cursors, dl, stats.avgdl, q.k, q.minScore).toSeq
            else Wand.topKDisjunctive(cursors, dl, stats.avgdl, q.k, q.minScore).toSeq
          }
        }.sortBy { case (d, s) => (-s, d) }.take(q.k).toArray
      }
    ops.check("wand==local")(Verify.that(merged.toSeq == result.toSeq,
      s"'${q.text}': per-shard Wand ${merged.take(3).toSeq} != LocalIndex ${result.take(3).toSeq}"))
  }

  /** Route, retrieve and per-shard postings reads, after the search op
    * (so the op itself runs as in an untraced run): the dictionary and
    * scan caches are warm by then. Dictionary misses are the op's terms
    * this engine had not seen before it.
    */
  def afterSearch(spec: QuerySpec): Unit = {
    if (tracer.enabled) {
      val terms = tracer.span("Tokenizer.tokenize")(Tokenizer.tokenize(spec.text).distinct.sorted)
      dictMisses += terms.count(t => !seen.contains(t))
      seen ++= terms
      val routed = tracer.span("SearchEngine.routedShards")(
        eng.routedShards(spec.text, spec.conjunctive))
      shardsRouted += routed.length
      val (kPrime, minScore) = Serve.candidates(eng, spec)
      tracer.span("SearchEngine.retrieve")(
        eng.retrieve(spec.text, kPrime, minScore, spec.conjunctive).collect())
      routed.foreach { s =>
        val bs = tracer.span("SegmentIO.readShardPostings")(SegmentIO.readShardPostings(dir, s, terms))
        shardReads += 1
        postingsBytes += bs.map(b => b.doc_bytes.length + b.tf_bytes.length).sum
      }
    }
  }

  def layers(nLocal: Int, nSearch: Int): Map[String, Double] = {
    if (!tracer.enabled) return Map.empty
    val a = env.counters.totals("search")
    val nl = math.max(1, nLocal).toDouble
    val ns = math.max(1, nSearch).toDouble
    val wandMs = tracer.selfMs("Wand.topK")
    val retrieveMs = tracer.selfMs("SearchEngine.retrieve")
    Map(
      "Tokenizer.us_per_query" ->
        tracer.selfMs("Tokenizer.tokenize") * 1e3 / tracer.count("Tokenizer.tokenize"),
      "Wand.ms_per_query" -> wandMs / nl,
      "Wand.postings_per_query" -> postings / nl,
      "Wand.ns_per_posting" -> (if (postings == 0) 0.0 else wandMs * 1e6 / postings),
      "Varbyte.decode_ns_per_posting" -> (if (decoded == 0) 0.0 else decodeNs.toDouble / decoded),
      "SearchEngine.route_ms" -> tracer.selfMs("SearchEngine.routedShards") / ns,
      "SearchEngine.dict_miss_terms_per_query" -> dictMisses / ns,
      "SearchEngine.shards_routed_per_query" -> shardsRouted / ns,
      "SearchEngine.retrieve_ms" -> retrieveMs / ns,
      "SearchEngine.post_retrieve_ms" -> (tracer.selfMs("SearchEngine.search") - retrieveMs) / ns,
      "SegmentIO.read_postings_ms_per_shard" ->
        (if (shardReads == 0) 0.0 else tracer.selfMs("SegmentIO.readShardPostings") / shardReads),
      "SegmentIO.postings_bytes_per_query" -> postingsBytes / ns,
      "spark.search_jobs_per_query" -> a.jobs / ns,
      "spark.search_tasks_per_query" -> a.tasks / ns,
      "spark.search_wait_ms_per_query" -> a.waitMs / ns)
  }
}
