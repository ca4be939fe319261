package graft.index

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions._

import graft.model.Turn
import graft.tokenize.Tokenizer
import SegmentIO._

/** Distributed inverted-index build (BASELINE.json:north_rule; SURVEY
  * §3.2 maps it stage-by-stage onto the reference's
  * `build_complete_system.py` pipeline).
  *
  * Stages — each persisted + manifest-marked, so a killed build
  * resumes at the first incomplete stage (the reference's
  * checkpoint/resume pattern, `src/embedding_generator.py:150-181`):
  *
  *  1. docs       stable docID assignment: global sort on
  *                (conv_id, turn_idx) → rank. Rank is partition-
  *                boundary independent, so any parallelism yields the
  *                same ids (N vs 4N reproducibility, SURVEY §7.5).
  *                The corpus is tokenized HERE, exactly once per
  *                process — a fresh build hands the tokenized dataset
  *                to the later stages in memory (tokens never hit
  *                parquet); a resume re-derives them from stored text.
  *  2. stats      num_docs / avgdl / total_tokens as aggregations
  *                (the reference's global corpus statistic,
  *                `src/embedding_generator.py:241-276`).
  *  3. postings   carried tokens → hash-repartition by (shard, term)
  *                → in-partition sort → streaming block encode
  *                (delta+varbyte, avgdl-independent (max_tf, min_dl)
  *                block bounds). The (shard, term) key is the skew
  *                handling: a hot term splits into one posting group
  *                per doc-range shard, each ≤ docsPerShard postings.
  *                With cfg.postingsGroups = G > 1, shards build and
  *                COMMIT in G independent jobs (dynamic partition
  *                overwrite of the shard dirs each job owns), so a
  *                crash loses at most one group and resume re-runs
  *                only not-yet-committed groups (G = numShards gives
  *                per-shard commit granularity).
  *  4. dictionary per-term df, cf, max_tf, min_dl (hash agg over
  *                block metadata, map-side partial).
  *  5. norms      per-(shard, page) doc-length arrays, page size
  *                cfg.normsPageSize — no row ever scales with shard
  *                or corpus size.
  *
  * The index is document-sharded (shard = doc_id / docsPerShard):
  * each shard holds complete postings for its doc range, so query
  * fan-out is per-shard local top-k + driver merge — the layout that
  * scales to many executors without term-granularity hotspots. With
  * Config.docsPerShard set, shards are FIXED-SIZE and the shard count
  * grows with the corpus (the 100 TB layout, and the precondition for
  * [[appendBuild]] producing output content-identical to a full
  * rebuild).
  */
object IndexBuilder {

  case class Config(
      blockSize: Int = 128,
      numShards: Int = 32,
      // fixed-size-shard mode: docsPerShard pinned, shard count grows
      // with the corpus — append-stable (appendBuild requires it for
      // full-rebuild equivalence)
      docsPerShard: Option[Long] = None,
      numPartitions: Int = 32,
      normsPageSize: Int = 1 << 20,
      // shard-group commit granularity for the postings stage
      postingsGroups: Int = 1,
      // cache the input Dataset across the docs stage's multiple
      // passes; disable when the input is already a file-backed table
      // (re-scanning parquet is cheaper than first-touching cache pages)
      cacheInput: Boolean = true)

  /** Stage-1 rank WITHOUT tokenize: global sort on (conv_id,
    * turn_idx) → (turn, rank) via zipWithIndex — the one place RDD is
    * forced: `row_number()` over an unbounded window would
    * single-partition the corpus (SURVEY §7.5). The sort's shuffle
    * files are reused by every downstream pass over the same RDD
    * object.
    */
  def rankTurns(
      turns: Dataset[Turn],
      numPartitions: Int): org.apache.spark.rdd.RDD[(Turn, Long)] = {
    import turns.sparkSession.implicits._
    turns
      .repartitionByRange(numPartitions, $"conv_id", $"turn_idx")
      .sortWithinPartitions($"conv_id", $"turn_idx")
      .rdd.zipWithIndex()
  }

  /** Tokenize ranked turns into the build-side docs rows. With
    * `group = Some((g, G))` only shards ≡ g (mod G) tokenize — the
    * shard id is rank/docsPerShard, known BEFORE tokenize, so a
    * shard-group postings pass over the reused rank shuffle pays one
    * cheap scan plus 1/G of the tokenize work instead of re-tokenizing
    * the whole corpus per group.
    */
  def tokenizeRanked(
      spark: SparkSession,
      ranked: org.apache.spark.rdd.RDD[(Turn, Long)],
      docsPerShard: Long,
      baseId: Long,
      group: Option[(Int, Int)] = None): Dataset[IndexedTurnTk] = {
    import spark.implicits._
    val rdd = ranked.flatMap { case (t, i0) =>
      val i = baseId + i0
      val shard = (i / docsPerShard).toInt
      if (group.forall { case (g, gs) => shard % gs == g }) {
        val tk = Tokenizer.tokenize(t.text)
        Iterator.single(IndexedTurnTk(i, t.conv_id, t.turn_idx, t.role,
          t.text, t.tool, t.ts, tk.length, shard, tk))
      } else Iterator.empty
    }
    spark.createDataset(rdd)
  }

  /** Stage 1: stable doc ids — [[rankTurns]] + [[tokenizeRanked]].
    * Tokenizes each turn exactly once and carries the array.
    *
    * @param baseId id of the first assigned doc (used by appendBuild
    *               to continue the id space after the existing corpus)
    */
  def assignDocIds(
      spark: SparkSession,
      turns: Dataset[Turn],
      numPartitions: Int,
      docsPerShard: Long,
      baseId: Long = 0L): Dataset[IndexedTurnTk] =
    tokenizeRanked(spark, rankTurns(turns, numPartitions), docsPerShard, baseId)

  /** Raw token occurrences (shard, term, doc_id, dl, tfinc), one row
    * per occurrence, exploded from the token array carried in the docs
    * table — the corpus text is never re-tokenized. Term frequencies
    * are folded later inside the posting encoder from the sorted
    * stream (tfinc sums over equal doc ids), so the build has exactly
    * ONE wide shuffle over the token relation.
    */
  private def rawTokens(spark: SparkSession, docs: Dataset[IndexedTurnTk]) = {
    import spark.implicits._
    docs
      .select($"doc_id", $"dl", $"shard", explode($"tk").as("term"))
      .withColumn("tfinc", lit(1))
  }

  // Lineage checksums, one expression per table: the build observes
  // each on its write job, and append and recovery read the same
  // expression back, so their manifests agree with a fresh build's.
  private def docsChecksum = expr("bit_xor(xxhash64(doc_id, conv_id, turn_idx))")
  private def postingsChecksum = expr("bit_xor(xxhash64(term, block_id, first_doc, last_doc))")
  private def normsChecksum = expr("bit_xor(xxhash64(shard, page, n, first_doc))")
  private def dictChecksum = expr("bit_xor(xxhash64(term, df, cf))")

  /** A Long aggregate, observed on a write or read back; null (no
    * input rows) reads as 0.
    */
  private def long0(v: Any): Long = if (v == null) 0L else v.asInstanceOf[Long]

  /** Runs `f` as `stage` = `<op>:<name>` (op `build` or `append`):
    * its Spark jobs carry `stage` as their description, the previous
    * description is restored afterwards, and the wall time goes to
    * stderr as `[build] <name>` (`[build] append.<name>` for an
    * append). The description is a thread-local property, so a stage
    * run in a Future calls this inside the Future's body.
    */
  private def timed[T](spark: SparkSession, stage: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(stage)
    val t0 = System.nanoTime()
    val r = try f finally sc.setJobDescription(prev)
    val label = stage.stripPrefix("build:").replace(':', '.')
    System.err.println(f"[build] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    r
  }

  /** Shard-dir-partitioned postings write. Dynamic partition overwrite
    * = only the shard dirs present in `blocks` are replaced, which is
    * what makes group commits and boundary-shard append rewrites
    * possible without touching other shards' files.
    *
    * @return the lineage checksum of the written rows, observed during
    *         the write job itself (XOR-foldable across group writes)
    */
  private def writePostings(dir: String, blocks: Dataset[PostingBlock]): Long = {
    val obs = new Observation(s"postings-${System.nanoTime()}")
    blocks.toDF()
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "term", "block_id")
      .observe(obs, postingsChecksum.as("x"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard")
      .parquet(postingsPath(dir))
    long0(obs.get("x"))
  }

  /** Paged norms for the given docs slice, written with dynamic
    * partition overwrite (append rebuilds only shards >= boundary).
    *
    * @return (rows, lineage checksum) of the written pages, observed
    *         during the write job itself — no read-back pass
    */
  private def writeNorms(
      spark: SparkSession,
      dir: String,
      docs: Dataset[(Int, Long, Int)], // (shard, doc_id, dl)
      docsPerShard: Long,
      pageSize: Int): (Long, Long) = {
    import spark.implicits._
    val dps = docsPerShard
    val p = pageSize
    val obs = new Observation(s"norms-${System.nanoTime()}")
    docs
      .groupByKey { case (s, d, _) => (s, ((d - s.toLong * dps) / p).toInt) }
      .mapGroups { (key: (Int, Int), rows: Iterator[(Int, Long, Int)]) =>
        val arr = rows.toArray.sortBy(_._2)
        NormsRow(key._1, key._2, arr.length, arr.head._2,
          Varbyte.encodeInts(arr.map(_._3)))
      }
      .toDF()
      .observe(obs, count(lit(1)).as("rows"), normsChecksum.as("x"))
      // written straight from the groupByKey output — an extra
      // repartition(shard) wave costs more than the handful of small
      // files per shard dir it would save
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard")
      .parquet(normsPath(dir))
    val row = obs.get
    (row("rows").asInstanceOf[Long], long0(row("x")))
  }

  /** [[normsChecksum]] of norms rows read directly: Spark's own
    * xxhash64 expression over the same columns, evaluated in this
    * process instead of in a job.
    */
  private def normsChecksumOf(rows: Seq[NormsRow]): Long =
    rows.iterator.map { r =>
      new XxHash64(Seq[Any](r.shard, r.page, r.n, r.first_doc).map(Literal(_)))
        .eval().asInstanceOf[Long]
    }.foldLeft(0L)(_ ^ _)

  /** Overall postings manifest: per-shard rows from parquet footers
    * (driver-side metadata, NO Spark job) + a lineage checksum that
    * either rode the write jobs (fresh build: XOR of group
    * observations; append: composed from the committed manifest) or,
    * when some groups were resumed from a previous process or a torn
    * append is rolled back, comes from one column-pruned read-back.
    */
  private def writePostingsManifest(
      spark: SparkSession, dir: String, numDocs: Long,
      observedChecksum: Option[Long]): Unit = {
    val perShard = shardRowCounts(postingsPath(dir))
    val checksum = observedChecksum.getOrElse(
      long0(readPostings(spark, dir).agg(postingsChecksum).head().get(0)))
    writeManifest(dir, StageManifest("postings", numDocs,
      perShard.map(_._2).sum, checksum, perShard))
  }

  /** Terms present in at least this fraction of the corpus's shards
    * store the EMPTY routing list (sentinel: "all shards") instead of
    * an explicit one. Caps every dictionary row at
    * O(DenseRoutingFraction × numShards) routing entries — without it,
    * a common term on a 10⁴-shard corpus carries a 10⁴-entry array and
    * the dictionary (and the resident copy serving reads) becomes
    * routing-dominated. A dict entry exists only for terms with ≥ 1
    * posting, so an empty list is unambiguous. Routing stays SOUND:
    * the sentinel expands to a superset of the true shard set, and
    * supersets preserve both OR-union and AND-intersection coverage
    * (a shard fanned out to without the term just yields no cursors);
    * worst-case extra fan-out is (1 − fraction)/fraction of the true
    * set, paid only on near-dense terms whose true fan-out is already
    * close to all-shards.
    */
  val DenseRoutingFraction = 0.75

  /** Dictionary from ONE column-pruned read of block metadata
    * (doc/tf byte columns never leave the parquet files): df = Σ block
    * n, cf = Σ block tf sums, (max_tf, min_dl) = the term's global
    * score-bound inputs. Derived data, so append just re-runs it —
    * which is what keeps the dense-routing sentinel append-stable: the
    * sentinel is a pure function of (true shard set, totalShards at
    * write time), recomputed globally on every mutation, never merged
    * incrementally. The dictionary manifest rides the write via
    * Observation.
    *
    * @param totalShards the corpus's shard count (ceil(n/dps)) — the
    *        sentinel threshold input, NOT derivable from the postings
    *        relation alone
    */
  private def writeDictionary(
      spark: SparkSession, dir: String, numDocs: Long, totalShards: Int): Unit = {
    import spark.implicits._
    val denseMin = math.max(1L, math.ceil(DenseRoutingFraction * totalShards).toLong)
    val obs = new Observation(s"dict-${System.nanoTime()}")
    readPostings(spark, dir)
      .select($"term", $"n", $"sum_tf", $"block_max_tf", $"block_min_dl", $"shard")
      .groupBy($"term")
      .agg(sum($"n").cast("long").as("df"), sum($"sum_tf").cast("long").as("cf"),
        max($"block_max_tf").cast("int").as("max_tf"),
        min($"block_min_dl").cast("int").as("min_dl"),
        // v6 shard-routing list: sorted for determinism (parallelism
        // invariance), partial-aggregates map-side like the rest;
        // dense terms collapse to the empty sentinel
        sort_array(collect_set($"shard")).as("shards"))
      .withColumn("shards",
        when(size($"shards") >= lit(denseMin), array().cast("array<int>"))
          .otherwise($"shards"))
      // term order within each of the aggregate's hash-by-term
      // partitions: no global sort, so no range-sampling job, and each
      // file's rows depend only on the index, not on the session
      .sortWithinPartitions($"term")
      .observe(obs, count(lit(1)).as("rows"), dictChecksum.as("x"))
      .write.mode("overwrite").parquet(dictPath(dir))
    val row = obs.get
    writeManifest(dir, StageManifest("dictionary", numDocs,
      row("rows").asInstanceOf[Long], long0(row("x")), Nil))
  }

  private def writeNormsManifest(spark: SparkSession, dir: String, numDocs: Long): Unit = {
    val m = readNorms(spark, dir).agg(count(lit(1)), normsChecksum).head()
    writeManifest(dir, StageManifest("norms", numDocs, m.getLong(0), long0(m.get(1)), Nil))
  }

  def build(
      spark: SparkSession,
      turns: Dataset[Turn],
      dir: String,
      cfg: Config = Config()): IndexStats = {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel

    // ---- stage 1: docs ----
    // The tokenized dataset is handed to the postings stage WITHOUT a
    // persist: its sort-shuffle files are reused across actions (same
    // RDD lineage), so the postings pass re-runs only the cheap,
    // perfectly-parallel rank+tokenize map. Persisting instead was
    // measured SLOWER end-to-end on this host: the columnar cache's
    // fresh pages fault serially in the hypervisor (~2-4 s/GB,
    // parallelism-independent), while the re-run map scales with
    // cores. Carrying tokens through the docs parquet lost even worse
    // (3-5x the write time). Norms never re-tokenize — they read the
    // stored dl column.
    var idsMem: Option[Dataset[IndexedTurnTk]] = None
    // fresh-build rank lineage (reused shuffle files): shard-group
    // postings passes re-map it with a shard filter BEFORE tokenize
    var rankedMem: Option[org.apache.spark.rdd.RDD[(Turn, Long)]] = None
    if (!stageDone(dir, "docs")) timed(spark, "build:docs") {
      // the input lineage is walked several times (count, range-
      // partitioner sample, sort, rank) — materialize generated
      // inputs once; file-backed inputs re-scan instead
      val cached =
        if (cfg.cacheInput) turns.persist(StorageLevel.MEMORY_AND_DISK) else turns
      // fixed-size-shard mode needs no up-front count (shard = id/dps
      // regardless of n); otherwise count once to derive dps. n itself
      // always comes from the manifest aggregation below.
      val docsPerShard = cfg.docsPerShard.getOrElse {
        val n = timed(spark, "build:docs.count")(cached.count())
        math.max(1L, (n + cfg.numShards - 1) / cfg.numShards)
      }
      val ranked = rankTurns(cached, cfg.numPartitions)
      val ids = timed(spark, "build:docs.assign")(
        tokenizeRanked(spark, ranked, docsPerShard, baseId = 0L))
      rankedMem = Some(ranked)
      // global manifest aggregates (count, checksum, token sum) ride
      // the write job via Observation; per-shard rows come from the
      // written parquet footers (driver-side metadata, no job)
      val obs = new Observation(s"docs-${System.nanoTime()}")
      timed(spark, "build:docs.write")(
        ids.toDF().drop("tk")
          .observe(obs, count(lit(1)).as("rows"), docsChecksum.as("x"),
            sum($"dl").as("tok"))
          .write.mode("overwrite").partitionBy("shard").parquet(docsPath(dir)))
      val row = obs.get
      val n = row("rows").asInstanceOf[Long]
      val checksum = long0(row("x"))
      val totalTokens = long0(row("tok"))
      val perShard = timed(spark, "build:docs.manifest")(shardRowCounts(docsPath(dir)))
      val numShards = math.max(1L, (n + docsPerShard - 1) / docsPerShard).toInt
      val avgdl = if (n == 0) 0.0 else totalTokens.toDouble / n
      writeStats(dir, IndexStats(n, avgdl, totalTokens, numShards,
        docsPerShard, cfg.blockSize, cfg.normsPageSize))
      writeManifest(dir, StageManifest("docs", n, n, checksum, perShard))
      idsMem = Some(ids)
      if (cfg.cacheInput) cached.unpersist()
    }
    // single consumer (postings) -> no persist; resume path tokenizes
    // from stored text inside readDocsTk, once
    val docs = idsMem.getOrElse(readDocsTk(spark, dir))

    // ---- stage 2: corpus statistics (df/cf live in the dictionary;
    // num_docs/avgdl/total_tokens were folded into the docs-stage
    // manifest aggregation — this stage just marks them final) ----
    if (!stageDone(dir, "stats")) timed(spark, "build:stats") {
      val s0 = readStats(dir)
      writeManifest(dir, StageManifest("stats", s0.numDocs, 1, s0.totalTokens, Nil))
    }
    val stats = readStats(dir)

    // ---- stage 3: postings — the build's ONE wide shuffle, in
    // cfg.postingsGroups independently-committed shard groups ----
    if (!stageDone(dir, "postings")) timed(spark, "build:postings") {
      val groups = math.max(1, cfg.postingsGroups)
      // a group marker is only trustworthy while its committed data
      // exists: if the postings dir is gone (wiped, not crashed),
      // every group must redo
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(postingsPath(dir))))
        (0 until groups).foreach(g =>
          java.nio.file.Files.deleteIfExists(manifestPath(dir, s"postings_g$g")))
      var obsXor = 0L
      var allFresh = true
      (0 until groups).foreach { g =>
        if (!stageDone(dir, s"postings_g$g")) timed(spark, s"build:postings.group$g") {
          // group input: fresh build re-maps the reused rank shuffle
          // with the shard filter BEFORE tokenize (1/G of the tokenize
          // work per pass); resume reads only the matching shard dirs
          // (partition pruning on the pmod predicate)
          val docsG =
            if (groups == 1) docs
            else rankedMem match {
              case Some(ranked) => tokenizeRanked(spark, ranked,
                stats.docsPerShard, baseId = 0L, group = Some((g, groups)))
              case None => docs.filter(pmod($"shard", lit(groups)) === g)
            }
          val blocks = encodeDirect(spark, rawTokens(spark, docsG),
            stats.blockSize, cfg.numPartitions)
          obsXor ^= timed(spark, s"build:postings.write$g")(writePostings(dir, blocks))
          writeManifest(dir, StageManifest(s"postings_g$g", stats.numDocs, 0L, 0L, Nil))
        } else allFresh = false
      }
      // fresh build: checksum = XOR of the groups' observed checksums;
      // resumed build: some groups' rows were written by an earlier
      // process, so fall back to one column-pruned read-back
      writePostingsManifest(spark, dir, stats.numDocs,
        if (allFresh) Some(obsXor) else None)
    }

    // ---- stages 4+5: dictionary and norms — independent inputs
    // (postings metadata vs the docs cache) and independent sinks, so
    // their small jobs run CONCURRENTLY: the Spark scheduler interleaves
    // both jobs' tasks and the wall cost is max(dict, norms), not the
    // sum. Each stage still writes its own resume marker on completion.
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fDict =
        if (stageDone(dir, "dictionary")) Future.unit
        else Future(timed(spark, "build:dictionary")(
          writeDictionary(spark, dir, stats.numDocs, stats.numShards)))
      val fNorms =
        if (stageDone(dir, "norms")) Future.unit
        else Future(timed(spark, "build:norms") {
          // the write covers the whole norms relation, so its observed
          // aggregates are the manifest
          val (rows, checksum) = writeNorms(spark, dir,
            // dl comes from the written docs table (3-column pruned
            // read) — norms never re-tokenize
            readDocs(spark, dir)
              .select($"shard", $"doc_id", $"dl").as[(Int, Long, Int)],
            stats.docsPerShard, stats.normsPageSize)
          writeManifest(dir, StageManifest("norms", stats.numDocs, rows, checksum, Nil))
        })
      Await.result(fDict, Duration.Inf)
      Await.result(fNorms, Duration.Inf)
    }

    writeSnapshot(dir, Seq("docs", "stats", "dictionary", "postings", "norms"))
    SegmentIO.invalidateResident(dir) // a rebuilt path must not serve stale shards
    stats
  }

  /** Incremental append (reference `src/embedding_generator.py:225-239`
    * vstack-append + `find_and_add_papers.py:187-217` not-yet-indexed
    * anti-join): index only the new turns, touching exactly the shard
    * dirs the new doc ids land in.
    *
    *  - delta: the largest indexed key is doc numDocs − 1's (doc_id
    *    is the sort rank). If one aggregate finds every incoming key
    *    sorting after it, the input IS the delta; otherwise delta =
    *    anti-join of the incoming turns against the indexed keys;
    *    no-op if empty.
    *  - an append requires every delta key to sort AFTER the indexed
    *    max. Out-of-order (or null) keys auto-fall back to
    *    [[compactWith]] (full rebuild + dir swap), so any delta ends
    *    queryable with no manual step.
    *  - crash safety: an in-progress marker brackets the mutation
    *    window; a torn append is detected on the next entry and
    *    rolled back by [[recoverTornAppend]] before proceeding.
    *  - delta doc ids continue the id space (baseId = old numDocs);
    *    docsPerShard is pinned from the existing stats, so shard
    *    assignment is stable and only shards >= the boundary shard
    *    change.
    *  - the boundary shard (partially filled by the old corpus) is
    *    re-encoded from its decoded old postings + the delta tokens;
    *    all-new shards encode from delta tokens alone. Dynamic
    *    partition overwrite replaces exactly those shard dirs. Only
    *    the boundary shard dirs are read, never a whole table.
    *  - dictionary is a derived agg → recomputed; norms rebuild for
    *    shards >= boundary only, from the boundary's old docs and the
    *    delta.
    *  - manifests are composed, not read back: each checksum is a
    *    bit_xor, so new = committed ⊕ the old boundary shard's rows
    *    (postings, norms) ⊕ what the append's write observed.
    *
    * Output is content-identical to a full build over the union when
    * the full build uses the same fixed docsPerShard (tested in
    * IndexSpec) — possible because no stored metadata depends on
    * avgdl (segment format v4 invariant).
    */
  def appendBuild(
      spark: SparkSession,
      newTurns: Dataset[Turn],
      dir: String,
      numPartitions: Int = 32): IndexStats = {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel

    // heal a crash inside a PRIOR compaction's rename swap first —
    // without this, readStats below would throw FileNotFound with the
    // complete new index stranded at dir+".compacting"
    recoverCompactSwap(dir)
    val stats0 = readStats(dir)
    // torn-append detection + recovery: a crash between the first
    // mutation and the snapshot commit leaves the marker in place;
    // silently proceeding would make the anti-join treat uncommitted
    // docs as indexed and a later append re-issue their doc ids
    if (appendInProgress(dir))
      timed(spark, "append:recover")(recoverTornAppend(spark, dir, stats0))
    // belt-and-braces: committed stats are the doc-id authority
    // (footer-metadata counts — no Spark job)
    val docsOnDisk = SegmentIO.shardRowCounts(docsPath(dir)).map(_._2).sum
    require(docsOnDisk == stats0.numDocs,
      s"appendBuild: docs table at $dir has $docsOnDisk rows but stats " +
        s"commit says ${stats0.numDocs} — index is torn beyond the " +
        "marker protocol (manual intervention or full rebuild required)")

    val dps = stats0.docsPerShard
    val oldN = stats0.numDocs
    // append-only key space check: doc_id = global sort rank, so a key
    // that does not sort after doc oldN - 1's would renumber existing
    // docs. Instead of failing (the reference's most common growth
    // pattern — "found 5 more papers, add them",
    // `src/pubmed_downloader.py:465-484` — arrives in arbitrary key
    // order), such a delta falls back to a FULL COMPACTION: rebuild
    // over union(existing, delta) into a sibling dir with the same
    // fixed docsPerShard, then swap. Content-identical to a
    // from-scratch build (IndexSpec guards it).
    val sortsAfter =
      if (oldN == 0) lit(true)
      else {
        val last = readShardDocs(dir, ((oldN - 1) / dps).toInt, Seq(oldN - 1),
          withText = false).head
        // struct order is the sort's order, null conv_id first
        struct($"conv_id", $"turn_idx") > struct(typedLit(last.conv_id), lit(last.turn_idx))
      }
    /** (rows, rows not sorting after the indexed keys), one job */
    def keyCounts(ds: Dataset[Turn]): (Long, Long) = {
      val r = ds.agg(count(lit(1)), sum(when(sortsAfter, 0L).otherwise(1L))).head()
      (r.getLong(0), long0(r.get(1)))
    }
    val (delta, nd, inOrder) = timed(spark, "append:keys") {
      val (n, late) = keyCounts(newTurns)
      if (late == 0) (newTurns, n, true)
      else {
        val d = newTurns
          .join(readDocs(spark, dir).select($"conv_id", $"turn_idx"),
            Seq("conv_id", "turn_idx"), "left_anti")
          .as[Turn]
          .persist(StorageLevel.MEMORY_AND_DISK)
        val (nd, lateD) = keyCounts(d)
        (d, nd, lateD == 0)
      }
    }
    // only the anti-join's output is this method's to unpersist
    def release(): Unit = if (!(delta eq newTurns)) delta.unpersist()
    if (nd == 0) { release(); return stats0 }
    if (!inOrder) {
      val st = compactWith(spark, delta, dir, stats0, numPartitions)
      release()
      return st
    }

    // committed manifests, read before the first mutation rewrites them
    val (_, docsX0) = manifestTotals(dir, "docs")
    val (_, postingsX0) = manifestTotals(dir, "postings")
    val (normsRows0, normsX0) = manifestTotals(dir, "norms")

    val (deltaIds, docsObs) = timed(spark, "append:docs") {
      val ids = assignDocIds(spark, delta, numPartitions, dps, baseId = oldN)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // first mutation starts here — mark the append in progress so a
      // crash before the snapshot commit is detected on the next entry
      SegmentIO.writeAppendMarker(dir)
      val obs = new Observation(s"append-docs-${System.nanoTime()}")
      ids.toDF().drop("tk")
        .observe(obs, count(lit(1)).as("rows"), docsChecksum.as("x"), sum($"dl").as("tok"))
        .write.mode("append").partitionBy("shard").parquet(docsPath(dir))
      (ids, obs.get)
    }
    val newN = oldN + docsObs("rows").asInstanceOf[Long]
    val totalTokens = stats0.totalTokens + long0(docsObs("tok"))
    val stats1 = stats0.copy(
      numDocs = newN,
      avgdl = if (newN == 0) 0.0 else totalTokens.toDouble / newN,
      totalTokens = totalTokens,
      numShards = math.max(1L, (newN + dps - 1) / dps).toInt)

    // ---- the boundary shard, if partially filled: its old docs and
    // postings are re-encoded / re-paged with the delta's ----
    val boundary = (oldN / dps).toInt
    val boundaryPartial = oldN % dps != 0
    lazy val boundaryDocs = readDocs(spark, dir, Seq(boundary)).filter($"doc_id" < oldN)
    val deltaDls = deltaIds.select($"shard", $"doc_id", $"dl")

    // ---- postings: delta tokens + (if partially filled and with any
    // postings) the decoded boundary shard, re-encoded together; the
    // boundary read observes the checksum of the rows it replaces ----
    val boundaryPostingsObs = new Observation(s"append-boundary-${System.nanoTime()}")
    val reencode = boundaryPartial &&
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(postingsPath(dir), s"shard=$boundary"))
    val postingsX = timed(spark, "append:postings") {
      val deltaToks = rawTokens(spark, deltaIds)
      val toks =
        if (!reencode) deltaToks
        else boundaryTokens(spark, boundary,
          readPostings(spark, dir, Seq(boundary))
            .observe(boundaryPostingsObs, postingsChecksum.as("x")),
          boundaryDocs.toDF())
          .union(deltaToks.select($"doc_id", $"dl", $"shard", $"term", $"tfinc"))
      writePostings(dir, encodeDirect(spark, toks, stats0.blockSize, numPartitions))
    }
    val oldBoundaryPostingsX = if (reencode) long0(boundaryPostingsObs.get("x")) else 0L
    writePostingsManifest(spark, dir, newN,
      Some(postingsX0 ^ oldBoundaryPostingsX ^ postingsX))

    // ---- dictionary: derived, recomputed globally ----
    timed(spark, "append:dictionary")(
      writeDictionary(spark, dir, newN, stats1.numShards))

    // ---- norms: rebuild shards >= boundary ----
    val oldPages = if (boundaryPartial) readShardNorms(dir, boundary).toSeq else Nil
    val (normsRows, normsX) = timed(spark, "append:norms")(writeNorms(spark, dir,
      (if (boundaryPartial) boundaryDocs.select($"shard", $"doc_id", $"dl").union(deltaDls)
        else deltaDls).as[(Int, Long, Int)],
      dps, stats0.normsPageSize))
    writeManifest(dir, StageManifest("norms", newN, normsRows0 - oldPages.length + normsRows,
      normsX0 ^ normsChecksumOf(oldPages) ^ normsX, Nil))

    // ---- stats + docs manifest refresh ----
    writeStats(dir, stats1)
    writeDocsAndStatsManifests(dir, newN, totalTokens, docsX0 ^ long0(docsObs("x")))
    writeSnapshot(dir, Seq("docs", "stats", "dictionary", "postings", "norms"))
    SegmentIO.clearAppendMarker(dir) // snapshot committed — append done
    SegmentIO.invalidateResident(dir) // norms rewritten in place

    deltaIds.unpersist()
    release()
    stats1
  }

  /** Torn-append recovery: restore the last committed state. stats0
    * is the authority: stats.json is written only after every TABLE
    * mutation (docs/postings/norms/dictionary) has completed, so its
    * numDocs never counts docs rows that aren't fully on disk; the
    * manifests + snapshot that follow it, and the marker clear that
    * commits the append, are exactly what this recovery can replay.
    *
    * Only shard dirs >= boundary = numDocs/docsPerShard can contain
    * torn rows (delta doc ids continue the id space upward):
    *  - shards strictly above the boundary are entirely uncommitted →
    *    delete their docs/postings/norms dirs
    *  - a PARTIALLY filled boundary shard keeps its committed prefix:
    *    docs rows with doc_id < numDocs are rewritten in place, and
    *    boundary postings re-encode from their own decode inner-joined
    *    against the restored docs (the same decode+join used by the
    *    normal boundary append — torn doc ids simply drop out)
    *  - dictionary / norms / manifests recompute from the restored
    *    tables
    *
    * Idempotent against the completed-but-unmarked window (crash after
    * stats commit, before marker clear): numDocs then already includes
    * the appended docs, every prune is a no-op, and derived state is
    * recomputed to identical content.
    *
    * Caveat (documented, not handled): a crash INSIDE a boundary-shard
    * parquet commit can leave a mixed file set that loses committed
    * boundary postings; the dynamic-partition-overwrite commit window
    * is milliseconds vs the minutes-long encode, and an object-store
    * deployment would stage + pointer-swap instead.
    */
  private def recoverTornAppend(
      spark: SparkSession,
      dir: String,
      stats0: IndexStats): Unit = {
    import spark.implicits._
    val dps = stats0.docsPerShard
    val oldN = stats0.numDocs
    val boundary = (oldN / dps).toInt
    val boundaryPartial = oldN % dps != 0
    def rmShard(base: String, s: Int): Unit =
      deleteRecursively(java.nio.file.Paths.get(base, s"shard=$s"))
    def shardIds(base: String): Seq[Int] =
      SegmentIO.shardRowCounts(base).map(_._1.toInt)
    // drop entirely-uncommitted shard dirs
    val minDrop = if (boundaryPartial) boundary + 1 else boundary
    Seq(docsPath(dir), postingsPath(dir), normsPath(dir)).foreach { base =>
      shardIds(base).filter(_ >= minDrop).foreach(rmShard(base, _))
    }
    if (boundaryPartial) {
      val shardDir = java.nio.file.Paths.get(docsPath(dir), s"shard=$boundary")
      val tmpShard = java.nio.file.Paths.get(docsPath(dir),
        s".shard${boundary}_recovering")
      // salvage a PRIOR recovery's staged dir if a crash hit between
      // its delete and move (staging write completed — it precedes the
      // delete — and the shard dir is absent)
      if (java.nio.file.Files.exists(tmpShard) &&
          !java.nio.file.Files.exists(shardDir))
        java.nio.file.Files.move(tmpShard, shardDir)
      // restore the boundary docs dir to its committed prefix
      val keep = readDocs(spark, dir, Seq(boundary))
        .filter($"doc_id" < oldN)
        .toDF().drop("shard")
        .orderBy("doc_id")
        .persist()
      val kn = keep.count()
      if (kn > 0) {
        // stage to a sibling temp dir, then swap: writing straight
        // into shard=N would overwrite the very files `keep`'s plan
        // reads — persist() makes recompute unlikely in local mode,
        // but an executor loss mid-write on a cluster would recompute
        // partitions from the half-deleted source and silently lose
        // committed boundary docs (same pattern as compactWith's
        // build-then-swap). The dot-prefixed dir is invisible to
        // Spark's file index if a second crash leaves it behind.
        deleteRecursively(tmpShard)
        keep.coalesce(1).write.mode("overwrite").parquet(tmpShard.toString)
        deleteRecursively(shardDir)
        java.nio.file.Files.move(tmpShard, shardDir)
        // re-encode boundary postings from decode ⋈ restored docs
        writePostings(dir, encodeDirect(spark,
          boundaryTokens(spark, boundary, readPostings(spark, dir, Seq(boundary)), keep),
          stats0.blockSize,
          math.max(1, spark.sparkContext.defaultParallelism)))
        writeNorms(spark, dir,
          keep.select(lit(boundary).as("shard"), $"doc_id", $"dl")
            .as[(Int, Long, Int)],
          dps, stats0.normsPageSize)
      } else rmShard(docsPath(dir), boundary)
      keep.unpersist()
    }
    // derived state + manifests back to the committed corpus — ALL of
    // them: the append window dirties docs/stats manifests and the
    // snapshot too (a crash after writeStats but before the manifest
    // refresh would otherwise leave a docs manifest whose row count
    // and checksum disagree with the healthy table forever)
    writeDictionary(spark, dir, oldN, stats0.numShards)
    writePostingsManifest(spark, dir, oldN, observedChecksum = None)
    writeNormsManifest(spark, dir, oldN)
    writeDocsAndStatsManifests(dir, oldN, stats0.totalTokens,
      long0(readDocs(spark, dir).agg(docsChecksum).head().get(0)))
    writeSnapshot(dir, Seq("docs", "stats", "dictionary", "postings", "norms"))
    SegmentIO.clearAppendMarker(dir)
    SegmentIO.invalidateResident(dir)
  }

  /** Encoder rows (doc_id, dl, shard, term, tfinc) of the boundary
    * shard's stored postings `blocks`: decoded back to (term, doc_id,
    * tf) and joined to `docs` for dl. Postings of doc ids missing from
    * `docs` drop out, which is how recovery sheds torn rows.
    */
  private def boundaryTokens(spark: SparkSession, boundary: Int,
      blocks: Dataset[PostingBlock], docs: DataFrame): DataFrame = {
    import spark.implicits._
    blocks
      .flatMap { b =>
        val ids = Varbyte.decodeDeltas(b.doc_bytes, b.n)
        val tfs = Varbyte.decodeInts(b.tf_bytes, b.n)
        ids.indices.iterator.map(i => (b.term, ids(i), tfs(i)))
      }
      .toDF("term", "doc_id", "tf")
      .join(docs.select($"doc_id", $"dl"), "doc_id")
      .select($"doc_id", $"dl", lit(boundary).as("shard"), $"term", $"tf".as("tfinc"))
  }

  /** Write the docs-table manifest and the stats manifest, the docs
    * manifest the way a fresh build writes it: per-shard rows from
    * parquet footers plus the lineage `checksum` (the append composes
    * it; recovery reads it back). Shared by the append tail and
    * torn-append recovery — recovery must restore EVERY manifest the
    * append window can dirty, not only the derived
    * (dictionary/postings/norms) ones.
    */
  private def writeDocsAndStatsManifests(
      dir: String, n: Long, totalTokens: Long, checksum: Long): Unit = {
    writeManifest(dir, StageManifest("docs", n, n, checksum, shardRowCounts(docsPath(dir))))
    writeManifest(dir, StageManifest("stats", n, 1, totalTokens, Nil))
  }

  /** Out-of-order upsert path: full rebuild over union(existing docs,
    * delta) into `dir + ".compacting"` with the existing shard sizing,
    * then swap directories. The swap is two local renames (an
    * object-store deployment would swap a catalog pointer); a crash
    * between them leaves the complete new index at `dir + ".compacting"`.
    */
  private def compactWith(
      spark: SparkSession,
      delta: Dataset[Turn],
      dir: String,
      stats0: IndexStats,
      numPartitions: Int): IndexStats = {
    import spark.implicits._
    val existing = readDocs(spark, dir)
      .select($"conv_id", $"turn_idx", $"role", $"text", $"tool", $"ts")
      .as[Turn]
    val tmp = dir + ".compacting"
    deleteRecursively(java.nio.file.Paths.get(tmp))
    // cacheInput off: the union is parquet-backed docs plus the
    // already-persisted delta — re-persisting pays the VM's
    // first-touch page-fault tax (CLAUDE.md) for zero recompute saved
    val st = build(spark, existing.unionByName(delta), tmp,
      Config(blockSize = stats0.blockSize, numPartitions = numPartitions,
        normsPageSize = stats0.normsPageSize,
        docsPerShard = Some(stats0.docsPerShard), cacheInput = false))
    val old = dir + ".old"
    deleteRecursively(java.nio.file.Paths.get(old))
    java.nio.file.Files.move(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(old))
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
      java.nio.file.Paths.get(dir))
    deleteRecursively(java.nio.file.Paths.get(old))
    SegmentIO.invalidateResident(dir)
    st
  }

  /** Heal a crash inside [[compactWith]]'s two-rename swap window
    * (auto-entered by routine out-of-order appends, so it must be as
    * crash-safe as the marker-protected append itself). `snapshot.json`
    * is the completeness predicate — build() writes it last:
    *  - live dir missing + COMPLETE index at `.compacting` (crash
    *    between the renames) → finish the swap;
    *  - live dir missing + complete index at `.old` (unreachable by
    *    the protocol's ordering, handled defensively) → restore it;
    *  - live dir present → any `.old` / `.compacting` leftovers are
    *    debris from a crash after the swap (or before it — the
    *    compaction then simply re-runs) and are deleted.
    */
  private def recoverCompactSwap(dir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val live = Paths.get(dir)
    val tmp = Paths.get(dir + ".compacting")
    val old = Paths.get(dir + ".old")
    if (!Files.exists(live)) {
      if (Files.exists(tmp.resolve("snapshot.json"))) Files.move(tmp, live)
      else if (Files.exists(old.resolve("snapshot.json"))) Files.move(old, live)
    }
    if (Files.exists(live)) {
      deleteRecursively(old)
      deleteRecursively(tmp)
    }
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    // NOFOLLOW: a symlink to a directory is deleted as a link, never
    // descended into; the listing stream is closed eagerly (Files.list
    // holds an open directory FD — recovery walks hundreds of dirs)
    if (java.nio.file.Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = java.nio.file.Files.list(p)
      val children =
        try s.iterator().asScala.toSeq
        finally s.close()
      children.foreach(deleteRecursively)
    }
    java.nio.file.Files.deleteIfExists(p)
  }

  /** Block-encode one (shard, term) posting group given per-doc
    * (doc_id asc, tf, dl) arrays.
    */
  private def encodeGroup(
      shard: Int,
      term: String,
      docIds: Array[Long],
      tfs: Array[Int],
      dls: Array[Int],
      blockSize: Int): Seq[PostingBlock] = {
    val out = new ArrayBuffer[PostingBlock]((docIds.length + blockSize - 1) / blockSize)
    var off = 0
    var blockId = 0
    while (off < docIds.length) {
      val n = math.min(blockSize, docIds.length - off)
      val ids = java.util.Arrays.copyOfRange(docIds, off, off + n)
      val tfsB = java.util.Arrays.copyOfRange(tfs, off, off + n)
      var maxTf = 0
      var minDl = Int.MaxValue
      var sumTf = 0L
      var i = 0
      while (i < n) {
        if (tfsB(i) > maxTf) maxTf = tfsB(i)
        if (dls(off + i) < minDl) minDl = dls(off + i)
        sumTf += tfsB(i)
        i += 1
      }
      out += PostingBlock(term, blockId, n, ids(0), ids(n - 1),
        Varbyte.encodeDeltas(ids), Varbyte.encodeInts(tfsB), maxTf, minDl,
        sumTf, shard)
      off += n
      blockId += 1
    }
    out.toSeq
  }

  /** Accumulate one (shard, term) run of doc-sorted rows into per-doc
    * (ids, tfs, dls) — tf summed over consecutive rows of the same
    * doc_id (raw occurrences carry tfinc=1; decoded append inputs
    * carry their pre-counted tf).
    */
  private final class RunAcc {
    val ids = new ArrayBuffer[Long](64)
    val tfs = new ArrayBuffer[Int](64)
    val dls = new ArrayBuffer[Int](64)
    def add(docId: Long, dl: Int, tfinc: Int): Unit = {
      if (ids.nonEmpty && ids(ids.length - 1) == docId)
        tfs(tfs.length - 1) += tfinc
      else { ids += docId; tfs += tfinc; dls += dl }
    }
  }

  /** The postings encoder: hash-repartition raw occurrences by
    * (shard, term) — a group never splits across partitions — then
    * in-partition sort + streaming encode of consecutive groups.
    */
  private def encodeDirect(
      spark: SparkSession,
      toks: DataFrame,
      blockSize: Int,
      numPartitions: Int): Dataset[PostingBlock] = {
    import spark.implicits._
    // sort with a hash-leading key: long compares instead of string
    // compares dominate the 10^8-row sort; `term` stays in the key
    // only to disambiguate hash collisions (grouping, not order,
    // is what the encoder needs)
    // floor the shuffle width: at very low core counts a per-core
    // partition count would make multi-GB per-task sorts (tasks just
    // queue instead; output content is partition-invariant — tested)
    val shuffleParts = math.max(numPartitions, 16)
    // the hash-leading sort key is an EXPRESSION, not a column: it is
    // materialized by the sorter per row post-shuffle and never
    // shuffled (8 incompressible bytes/row saved from the build's
    // biggest shuffle)
    val sorted = toks
      .repartition(shuffleParts, $"shard", $"term")
      .sortWithinPartitions($"shard", xxhash64($"term"), $"term", $"doc_id")
      .select($"shard", $"term", $"doc_id", $"dl", $"tfinc")
      .as[(Int, String, Long, Int, Int)]
    sorted.mapPartitions { it =>
      new Iterator[PostingBlock] {
        private val in = it.buffered
        private var pending: Iterator[PostingBlock] = Iterator.empty
        private def fill(): Unit = {
          while (!pending.hasNext && in.hasNext) {
            val (shard, term, _, _, _) = in.head
            val acc = new RunAcc
            while (in.hasNext && in.head._1 == shard && in.head._2 == term) {
              val (_, _, d, l, tf) = in.next()
              acc.add(d, l, tf)
            }
            pending = encodeGroup(shard, term, acc.ids.toArray, acc.tfs.toArray,
              acc.dls.toArray, blockSize).iterator
          }
        }
        def hasNext: Boolean = { fill(); pending.hasNext }
        def next(): PostingBlock = { fill(); pending.next() }
      }
    }
  }
}
