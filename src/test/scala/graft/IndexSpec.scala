package graft

import org.apache.spark.sql.functions._

import graft.gen.TranscriptGen
import graft.index.{IndexBuilder, SegmentIO}

/** Index-layer invariants (SURVEY §5.2/5.5/5.6): per-turn text
  * equality, checkpoint resume, hot terms split by shard, and append,
  * recovery and compaction content- and manifest-identical to a full
  * build.
  */
class IndexSpec extends SparkSpec {

  val NumConvs = 120

  private def postingsContent(dir: String): Set[(Int, String, Int, Int, Long, Long, Seq[Byte], Seq[Byte], Int, Int, Long)] =
    SegmentIO.readPostings(spark, dir).collect().map { b =>
      (b.shard, b.term, b.block_id, b.n, b.first_doc, b.last_doc,
        b.doc_bytes.toSeq, b.tf_bytes.toSeq, b.block_max_tf, b.block_min_dl,
        b.sum_tf)
    }.toSet

  /** The stage manifests' bytes: row counts, per-shard rows and
    * lineage checksums.
    */
  private def manifests(dir: String): Map[String, String] =
    Seq("docs", "stats", "postings", "dictionary", "norms").map { s =>
      s -> new String(java.nio.file.Files.readAllBytes(SegmentIO.manifestPath(dir, s)),
        java.nio.charset.StandardCharsets.UTF_8)
    }.toMap

  private def docsContent(dir: String): Set[(Long, String, Int, Int, Int)] =
    SegmentIO.readDocs(spark, dir).collect()
      .map(r => (r.doc_id, r.conv_id, r.turn_idx, r.dl, r.shard)).toSet

  lazy val baseDir: String = {
    val dir = tempDir("graft-idx-base")
    IndexBuilder.build(spark, TranscriptGen.corpus(spark, NumConvs), dir,
      IndexBuilder.Config(blockSize = 8, numShards = 4, numPartitions = 8))
    dir
  }

  test("row-level invariant: per-turn text equality under stable ordering") {
    // reconstruct (conv_id, turn_idx, text) from the docs table and
    // except against the input — must be empty both ways
    // (the reference's len(embeddings)==len(pmids) consistency check,
    // quick_rebuild.py:198-200, made total)
    import spark.implicits._
    val input = TranscriptGen.corpus(spark, NumConvs)
      .select($"conv_id", $"turn_idx", $"text")
    val stored = SegmentIO.readDocs(spark, baseDir)
      .select($"conv_id", $"turn_idx", $"text")
    assert(stored.exceptAll(input).isEmpty && input.exceptAll(stored).isEmpty)
    // doc ids are the exact global rank: dense 0..N-1, ordered like the key
    val docs = SegmentIO.readDocs(spark, baseDir)
      .select($"doc_id", $"conv_id", $"turn_idx")
      .collect().sortBy(_.getLong(0))
    assert(docs.map(_.getLong(0)).toSeq == docs.indices.map(_.toLong))
    val keys = docs.map(r => (r.getString(1), r.getInt(2)))
    assert(keys.toSeq == keys.sortBy(identity).toSeq)
  }

  test("hot terms split by shard") {
    // the (shard, term) shuffle key is the skew handling: the hottest
    // term gets one posting group per shard, and no group outgrows its
    // shard's doc range
    val stats = SegmentIO.readStats(baseDir)
    val hot = SegmentIO.readDict(spark, baseDir).collect().maxBy(_.df)
    val groups = SegmentIO.readPostings(spark, baseDir).collect()
      .groupBy(b => (b.shard, b.term)).map { case (k, bs) => k -> bs.map(_.n.toLong).sum }
    assert(hot.df > stats.docsPerShard, "the hottest term must overflow one shard's range")
    assert(groups.keySet.filter(_._2 == hot.term).map(_._1) ==
      (0 until stats.numShards).toSet, s"'${hot.term}' must have a group in every shard")
    groups.foreach { case (k, n) =>
      assert(n <= stats.docsPerShard, s"group $k holds $n > docsPerShard postings")
    }
  }

  test("v6 dense-routing sentinel: empty ⟺ ≥ fraction of shards, exact list otherwise") {
    val stats = SegmentIO.readStats(baseDir)
    val denseMin =
      math.max(1L, math.ceil(IndexBuilder.DenseRoutingFraction * stats.numShards).toLong)
    // ground truth: each term's truly-populated shard set, from postings
    val truth = SegmentIO.readPostings(spark, baseDir).collect()
      .groupBy(_.term).map { case (t, bs) => t -> bs.map(_.shard).toSet }
    val dict = SegmentIO.readDict(spark, baseDir).collect()
    assert(dict.nonEmpty)
    dict.foreach { d =>
      val tru = truth(d.term)
      if (tru.size >= denseMin)
        assert(d.shards.isEmpty, s"dense term '${d.term}' must store the sentinel")
      else
        assert(d.shards == tru.toSeq.sorted,
          s"rare term '${d.term}' must store its exact sorted shard list")
    }
    assert(dict.exists(d => truth(d.term).size >= denseMin),
      "corpus must exercise the sentinel (a hot term in most shards)")
    assert(dict.exists(_.shards.nonEmpty),
      "corpus must exercise explicit routing (rare terms)")
  }

  test("resume: killed-after-stage-N rebuild is content-identical") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val before = postingsContent(baseDir)
    val dictBefore = SegmentIO.readDict(spark, baseDir).collect().toSet

    // simulate a crash between stages: postings + norms lost
    def rmrf(p: Path): Unit = {
      if (Files.isDirectory(p))
        Files.list(p).iterator().asScala.foreach(rmrf)
      Files.deleteIfExists(p)
    }
    rmrf(Path.of(SegmentIO.postingsPath(baseDir)))
    rmrf(Path.of(baseDir, "manifest", "_stage_postings.json"))
    rmrf(Path.of(SegmentIO.normsPath(baseDir)))
    rmrf(Path.of(baseDir, "manifest", "_stage_norms.json"))

    IndexBuilder.build(spark, TranscriptGen.corpus(spark, NumConvs), baseDir,
      IndexBuilder.Config(blockSize = 8, numShards = 4, numPartitions = 8))
    assert(postingsContent(baseDir) == before, "resumed postings differ")
    assert(SegmentIO.readDict(spark, baseDir).collect().toSet == dictBefore)
  }

  test("resume skips completed stages (manifest markers)") {
    // re-entering a fully-built index is a no-op: same stats object
    val s1 = SegmentIO.readStats(baseDir)
    val s2 = IndexBuilder.build(spark, TranscriptGen.corpus(spark, NumConvs), baseDir,
      IndexBuilder.Config(blockSize = 8, numShards = 4, numPartitions = 8))
    assert(s1 == s2)
    // each table manifest counts the table's rows once
    val m = manifests(baseDir)
    Seq("docs" -> SegmentIO.readDocs(spark, baseDir).count(),
        "postings" -> SegmentIO.readPostings(spark, baseDir).count(),
        "dictionary" -> SegmentIO.readDict(spark, baseDir).count(),
        "norms" -> SegmentIO.readNorms(spark, baseDir).count()).foreach { case (t, n) =>
      assert(m(t).contains(s"\"output_rows\":$n,"), s"$t manifest: ${m(t)} vs $n rows")
    }
  }

  test("parallelism invariance: docs and postings identical at 2 vs 8 partitions") {
    val dirA = tempDir("graft-idx-p2")
    val dirB = tempDir("graft-idx-p8")
    IndexBuilder.build(spark, TranscriptGen.corpus(spark, NumConvs), dirA,
      IndexBuilder.Config(blockSize = 8, numShards = 4, numPartitions = 2))
    IndexBuilder.build(spark, TranscriptGen.corpus(spark, NumConvs), dirB,
      IndexBuilder.Config(blockSize = 8, numShards = 4, numPartitions = 8))
    assert(postingsContent(dirA) == postingsContent(dirB),
      "N-vs-4N reproducibility: posting content must not depend on parallelism")
  }

  test("incremental append is content-identical to a full rebuild") {
    import spark.implicits._
    val all = TranscriptGen.corpus(spark, NumConvs)
    // split at a conv boundary: every B key sorts after every A key
    val a = all.filter($"conv_id" < "c00000080")
    val b = all.filter($"conv_id" >= "c00000080")
    // fixed-size shards (append-stable) + small pages; boundary shard
    // is partially filled by A, so the decode-merge-re-encode path runs
    val cfgFixed = IndexBuilder.Config(blockSize = 8, numPartitions = 8,
      docsPerShard = Some(300), normsPageSize = 64)
    val fullDir = tempDir("graft-idx-full")
    IndexBuilder.build(spark, all, fullDir, cfgFixed)
    val incrDir = tempDir("graft-idx-incr")
    IndexBuilder.build(spark, a.as[graft.model.Turn], incrDir, cfgFixed)
    val st = IndexBuilder.appendBuild(spark, b.as[graft.model.Turn], incrDir,
      numPartitions = 8)
    assert(st == SegmentIO.readStats(fullDir), "stats must match the full build")
    assert(postingsContent(incrDir) == postingsContent(fullDir),
      "append must produce byte-identical posting blocks")
    assert(SegmentIO.readDict(spark, incrDir).collect().toSet ==
      SegmentIO.readDict(spark, fullDir).collect().toSet)
    def normsOf(d: String) = SegmentIO.readNorms(spark, d).collect()
      .map(r => (r.shard, r.page, r.n, r.first_doc, r.dl_bytes.toSeq)).toSet
    assert(normsOf(incrDir) == normsOf(fullDir))
    def docsOf(d: String) = SegmentIO.readDocs(spark, d).collect()
      .map(r => (r.doc_id, r.conv_id, r.turn_idx, r.dl, r.shard)).toSet
    assert(docsOf(incrDir) == docsOf(fullDir))
    assert(manifests(incrDir) == manifests(fullDir),
      "append manifests must equal the full build's")
    // re-delivering already-indexed turns is a no-op (anti-join)
    assert(IndexBuilder.appendBuild(spark, b.as[graft.model.Turn], incrDir,
      numPartitions = 8) == st)
    // out-of-order keys auto-compact: result identical to a
    // from-scratch build over the union, no manual intervention
    val early = Seq(graft.model.Turn("a0000", 0, "user", "hello brand new text",
      "", java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))).toDS()
    val stC = IndexBuilder.appendBuild(spark, early, incrDir, numPartitions = 8)
    val fullDir2 = tempDir("graft-idx-full-ooo")
    IndexBuilder.build(spark, all.unionByName(early).as[graft.model.Turn],
      fullDir2, cfgFixed)
    assert(stC == SegmentIO.readStats(fullDir2),
      "compaction stats must match a from-scratch build")
    assert(postingsContent(incrDir) == postingsContent(fullDir2),
      "out-of-order compaction must equal a from-scratch build")
    assert(docsOf(incrDir) == docsOf(fullDir2))
    assert(manifests(incrDir) == manifests(fullDir2),
      "compaction manifests must equal a from-scratch build's")
  }

  test("torn append is detected and rolled back (marker recovery)") {
    import spark.implicits._
    val all = TranscriptGen.corpus(spark, NumConvs)
    val a = all.filter($"conv_id" < "c00000080")
    val b = all.filter($"conv_id" >= "c00000080")
    val cfgFixed = IndexBuilder.Config(blockSize = 8, numPartitions = 8,
      docsPerShard = Some(300), normsPageSize = 64)
    val fullDir = tempDir("graft-idx-torn-full")
    IndexBuilder.build(spark, all, fullDir, cfgFixed)
    val dir = tempDir("graft-idx-torn")
    IndexBuilder.build(spark, a.as[graft.model.Turn], dir, cfgFixed)
    val st0 = SegmentIO.readStats(dir)
    // simulate the crash window: delta docs hit the docs table (the
    // first mutation) but nothing else commits — marker left in place
    val dps = st0.docsPerShard
    val deltaIds = IndexBuilder.assignDocIds(spark, b.as[graft.model.Turn],
      numPartitions = 8, docsPerShard = dps, baseId = st0.numDocs)
    SegmentIO.writeAppendMarker(dir)
    deltaIds.toDF().drop("tk")
      .write.mode("append").partitionBy("shard")
      .parquet(SegmentIO.docsPath(dir))
    // without recovery this retry would silently no-op (anti-join sees
    // the torn keys as indexed); with the marker it rolls back first
    // and the append then lands normally
    val st = IndexBuilder.appendBuild(spark, b.as[graft.model.Turn], dir,
      numPartitions = 8)
    assert(st == SegmentIO.readStats(fullDir))
    assert(postingsContent(dir) == postingsContent(fullDir),
      "post-recovery append must equal a full rebuild")
    def docsOf2(d: String) = SegmentIO.readDocs(spark, d).collect()
      .map(r => (r.doc_id, r.conv_id, r.turn_idx, r.dl, r.shard)).toSet
    assert(docsOf2(dir) == docsOf2(fullDir))
    assert(!SegmentIO.appendInProgress(dir))
    assert(manifests(dir) == manifests(fullDir),
      "post-recovery append manifests must equal the full build's")
    // crash after the stats commit, before the marker clear: recovery
    // recomputes every manifest itself and the re-delivery is a no-op
    SegmentIO.writeAppendMarker(dir)
    assert(IndexBuilder.appendBuild(spark, b.as[graft.model.Turn], dir,
      numPartitions = 8) == st)
    assert(manifests(dir) == manifests(fullDir),
      "recovered manifests must equal the full build's")
    assert(postingsContent(dir) == postingsContent(fullDir))
  }

  test("chained appends: build + append + append is content-identical to one full build") {
    import spark.implicits._
    val all = TranscriptGen.corpus(spark, NumConvs)
    val cfgFixed = IndexBuilder.Config(blockSize = 8, numPartitions = 8,
      docsPerShard = Some(300), normsPageSize = 64)
    val chainDir = tempDir("graft-idx-chain")
    // three ascending slices — each append crosses different shard
    // boundaries, and the second append runs against an index the
    // first append (not a fresh build) produced
    IndexBuilder.build(spark,
      all.filter($"conv_id" < "c00000040").as[graft.model.Turn], chainDir, cfgFixed)
    IndexBuilder.appendBuild(spark,
      all.filter($"conv_id" >= "c00000040" && $"conv_id" < "c00000090")
        .as[graft.model.Turn], chainDir, numPartitions = 8)
    val st = IndexBuilder.appendBuild(spark,
      all.filter($"conv_id" >= "c00000090").as[graft.model.Turn],
      chainDir, numPartitions = 8)
    val fullDir = tempDir("graft-idx-chain-full")
    IndexBuilder.build(spark, all, fullDir, cfgFixed)
    assert(st == SegmentIO.readStats(fullDir))
    assert(postingsContent(chainDir) == postingsContent(fullDir),
      "two chained appends must equal one full build")
    // the second append composes its manifests from the first's
    assert(manifests(chainDir) == manifests(fullDir),
      "chained append manifests must equal the full build's")
  }

  test("compaction swap crash heals: complete .compacting promotes on next append") {
    import spark.implicits._
    val all = TranscriptGen.corpus(spark, NumConvs)
    val cfgFixed = IndexBuilder.Config(blockSize = 8, numPartitions = 8,
      docsPerShard = Some(300), normsPageSize = 64)
    val base = tempDir("graft-idx-swapcrash")
    val dir = s"$base/idx"
    // simulate the crash window between compactWith's two renames:
    // live dir gone, the COMPLETE compacted index stranded at
    // `.compacting`, the pre-compaction index stranded at `.old`
    IndexBuilder.build(spark, all, dir + ".compacting", cfgFixed)
    IndexBuilder.build(spark,
      all.filter($"conv_id" < "c00000080").as[graft.model.Turn],
      dir + ".old", cfgFixed)
    // next append entry must finish the swap (else readStats throws
    // FileNotFound with the new index stranded), then no-op on an
    // empty delta
    val st = IndexBuilder.appendBuild(spark,
      all.limit(0).as[graft.model.Turn], dir, numPartitions = 8)
    val fullDir = tempDir("graft-idx-swapcrash-full")
    IndexBuilder.build(spark, all, fullDir, cfgFixed)
    assert(st == SegmentIO.readStats(fullDir))
    assert(postingsContent(dir) == postingsContent(fullDir))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir + ".old")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir + ".compacting")))
  }

  test("append at an exact shard boundary (no partial shard to re-encode)") {
    import spark.implicits._
    val all = TranscriptGen.corpus(spark, NumConvs)
    val a = all.filter($"conv_id" < "c00000080")
    val b = all.filter($"conv_id" >= "c00000080")
    // docsPerShard = |A| exactly: the old corpus fills shard 0
    // completely, so the delta-only (no boundary decode) path runs
    val nA = TranscriptGen.localCorpus(NumConvs).count(_.conv_id < "c00000080")
    val cfg = IndexBuilder.Config(blockSize = 8, numPartitions = 8,
      docsPerShard = Some(nA.toLong), normsPageSize = 64)
    val fullDir = tempDir("graft-idx-full-exact")
    IndexBuilder.build(spark, all, fullDir, cfg)
    val incrDir = tempDir("graft-idx-incr-exact")
    IndexBuilder.build(spark, a.as[graft.model.Turn], incrDir, cfg)
    assert(SegmentIO.readStats(incrDir).numDocs % nA == 0,
      "precondition: A must exactly fill its shards")
    IndexBuilder.appendBuild(spark, b.as[graft.model.Turn], incrDir, numPartitions = 8)
    assert(postingsContent(incrDir) == postingsContent(fullDir))
    assert(SegmentIO.readStats(incrDir) == SegmentIO.readStats(fullDir))
    // no old boundary part in any checksum
    assert(manifests(incrDir) == manifests(fullDir),
      "exact-boundary append manifests must equal the full build's")
  }

  test("append of a batch mixing indexed and new keys appends only the new ones") {
    import spark.implicits._
    val all = TranscriptGen.corpus(spark, NumConvs)
    val a = all.filter($"conv_id" < "c00000080")
    val cfgFixed = IndexBuilder.Config(blockSize = 8, numPartitions = 8,
      docsPerShard = Some(300), normsPageSize = 64)
    val fullDir = tempDir("graft-idx-mixed-full")
    IndexBuilder.build(spark, all, fullDir, cfgFixed)
    val dir = tempDir("graft-idx-mixed")
    IndexBuilder.build(spark, a.as[graft.model.Turn], dir, cfgFixed)
    def files(table: String) = new java.io.File(s"$dir/$table/shard=0").list().toSet
    val shard0 = Seq("docs", "postings", "norms").map(files)
    // already-indexed keys (early and late in A) next to every new key
    val batch = all.filter($"conv_id" >= "c00000070" || $"conv_id" < "c00000005")
    val st = IndexBuilder.appendBuild(spark, batch.as[graft.model.Turn], dir, numPartitions = 8)
    assert(st == SegmentIO.readStats(fullDir))
    assert(postingsContent(dir) == postingsContent(fullDir))
    assert(docsContent(dir) == docsContent(fullDir))
    assert(manifests(dir) == manifests(fullDir),
      "mixed-batch append manifests must equal the full build's")
    // appended, not compacted: shard 0's files were never rewritten
    assert(Seq("docs", "postings", "norms").map(files) == shard0)
  }

  test("append of a null conv_id compacts: equal to a from-scratch build over the union") {
    import spark.implicits._
    val all = TranscriptGen.corpus(spark, NumConvs)
    val a = all.filter($"conv_id" < "c00000080")
    val b = all.filter($"conv_id" >= "c00000080")
    val cfgFixed = IndexBuilder.Config(blockSize = 8, numPartitions = 8,
      docsPerShard = Some(300), normsPageSize = 64)
    // a null key sorts first, so it is never after the indexed keys
    val nullKey = Seq(graft.model.Turn(null, 0, "user", "a turn without conversation",
      "", java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))).toDS()
    val dir = tempDir("graft-idx-nullkey")
    IndexBuilder.build(spark, a.as[graft.model.Turn], dir, cfgFixed)
    val st = IndexBuilder.appendBuild(spark, b.as[graft.model.Turn].union(nullKey), dir,
      numPartitions = 8)
    val fullDir = tempDir("graft-idx-nullkey-full")
    IndexBuilder.build(spark, all.union(nullKey), fullDir, cfgFixed)
    assert(SegmentIO.readDocs(spark, fullDir).filter($"doc_id" === 0).head().conv_id == null)
    assert(st == SegmentIO.readStats(fullDir))
    assert(postingsContent(dir) == postingsContent(fullDir))
    assert(docsContent(dir) == docsContent(fullDir))
    assert(manifests(dir) == manifests(fullDir))
  }

  test("an append over more than 32 shard dirs runs at most 9 Spark jobs") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val all = TranscriptGen.corpus(spark, NumConvs)
    val a = all.filter($"conv_id" < "c00000080")
    val b = all.filter($"conv_id" >= "c00000080")
    val nA = TranscriptGen.localCorpus(NumConvs).count(_.conv_id < "c00000080")
    val dps = 25L
    assert(nA / dps > 32 && nA % dps != 0,
      "precondition: over 32 shard dirs and a partial boundary shard")
    val dir = tempDir("graft-idx-jobs")
    IndexBuilder.build(spark, a.as[graft.model.Turn], dir, IndexBuilder.Config(blockSize = 8,
      numPartitions = 4, docsPerShard = Some(dps), normsPageSize = 64))
    // job descriptions, in submission order, between two marker jobs
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("(none)"))
    }
    val sc = spark.sparkContext
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    // builds run with AQE off, as in graft.Bench
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      marker("marker:start")
      IndexBuilder.appendBuild(spark, b.as[graft.model.Turn], dir, numPartitions = 4)
      marker("marker:end")
      val deadline = System.currentTimeMillis() + 10000
      while (!jobs.contains("marker:end") && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      sc.removeSparkListener(listener)
    }
    val seen = jobs.asScala.toSeq
    val appendJobs = seen.dropWhile(_ != "marker:start").drop(1).takeWhile(_ != "marker:end")
    assert(seen.contains("marker:end"))
    val perStage = appendJobs.groupBy(identity).map { case (d, js) => s"$d: ${js.size}" }
    assert(appendJobs.size <= 9,
      s"${appendJobs.size} jobs in one append, per stage: ${perStage.toSeq.sorted.mkString(", ")}")
  }

  test("dictionary files do not depend on the session's earlier jobs") {
    import spark.implicits._
    // each dictionary file's rows, in file order, by the file's part
    // number
    def dictFiles(dir: String): Map[String, Seq[SegmentIO.DictEntry]] = {
      val files = new java.io.File(SegmentIO.dictPath(dir)).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      files.map { f =>
        f.getName.take("part-00000".length) ->
          spark.read.schema(org.apache.spark.sql.Encoders.product[SegmentIO.DictEntry].schema)
            .parquet(f.getPath).as[SegmentIO.DictEntry].collect().toSeq
      }.toMap
    }
    val cfg = IndexBuilder.Config(blockSize = 8, numShards = 4, numPartitions = 8)
    val (first, second) = (tempDir("graft-idx-dict-a"), tempDir("graft-idx-dict-b"))
    // builds run with AQE off, as in graft.Bench, so the dictionary
    // is written as several files
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      IndexBuilder.build(spark, TranscriptGen.corpus(spark, NumConvs), first, cfg)
      // unrelated jobs and RDDs in between
      (1 to 5).foreach(i => spark.range(1000).repartition(i + 1).selectExpr("id % 7").distinct().count())
      IndexBuilder.build(spark, TranscriptGen.corpus(spark, NumConvs), second, cfg)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    val (a, b) = (dictFiles(first), dictFiles(second))
    assert(a.size > 1, "precondition: more than one dictionary file")
    val same = a == b
    def rowsPerFile(m: Map[String, Seq[SegmentIO.DictEntry]]) =
      m.view.mapValues(_.length).toSeq.sorted
    assert(same, s"rows per file: ${rowsPerFile(a)} vs ${rowsPerFile(b)}")
    assert(a.values.forall(rows => rows.map(_.term) == rows.map(_.term).sorted))
  }

  test("shard-group resume: only missing groups rebuild, committed shards untouched") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val dir = tempDir("graft-idx-groups")
    val cfg = IndexBuilder.Config(blockSize = 8, numShards = 4,
      numPartitions = 8, postingsGroups = 4) // groups == shards: per-shard commits
    IndexBuilder.build(spark, TranscriptGen.corpus(spark, NumConvs), dir, cfg)
    val before = postingsContent(dir)
    // grouped fresh build (per-group tokenize over the reused rank
    // shuffle) must produce the same content as an ungrouped build
    val dirG1 = tempDir("graft-idx-groups-g1")
    IndexBuilder.build(spark, TranscriptGen.corpus(spark, NumConvs), dirG1,
      cfg.copy(postingsGroups = 1))
    assert(postingsContent(dirG1) == before,
      "postingsGroups must not change index content")
    def shardFiles(s: Int): Seq[Path] =
      Files.list(Path.of(SegmentIO.postingsPath(dir), s"shard=$s"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    val keptMtimes = (shardFiles(0) ++ shardFiles(1))
      .map(p => p -> Files.getLastModifiedTime(p)).toMap
    assert(keptMtimes.nonEmpty)
    // simulate a crash after groups 0,1 committed: groups 2,3 lost
    def rmrf(p: Path): Unit = {
      if (Files.isDirectory(p)) Files.list(p).iterator().asScala.foreach(rmrf)
      Files.deleteIfExists(p)
    }
    rmrf(Path.of(SegmentIO.postingsPath(dir), "shard=2"))
    rmrf(Path.of(SegmentIO.postingsPath(dir), "shard=3"))
    Files.deleteIfExists(SegmentIO.manifestPath(dir, "postings_g2"))
    Files.deleteIfExists(SegmentIO.manifestPath(dir, "postings_g3"))
    Files.deleteIfExists(SegmentIO.manifestPath(dir, "postings"))
    IndexBuilder.build(spark, TranscriptGen.corpus(spark, NumConvs), dir, cfg)
    assert(postingsContent(dir) == before, "resumed content must be identical")
    keptMtimes.foreach { case (p, t) =>
      assert(Files.getLastModifiedTime(p) == t,
        s"committed shard file $p must not be rewritten on resume")
    }
  }

  test("block metadata is sound: bounds hold for every block") {
    val stats = SegmentIO.readStats(baseDir)
    val dlByDoc = SegmentIO.readDocs(spark, baseDir).collect()
      .map(d => d.doc_id -> d.dl).toMap
    SegmentIO.readPostings(spark, baseDir).collect().foreach { b =>
      val ids = graft.index.Varbyte.decodeDeltas(b.doc_bytes, b.n)
      val tfs = graft.index.Varbyte.decodeInts(b.tf_bytes, b.n)
      assert(ids.head == b.first_doc && ids.last == b.last_doc)
      assert(ids.toSeq == ids.sorted.toSeq && ids.distinct.length == ids.length)
      assert(tfs.max <= b.block_max_tf)
      // avgdl-independent bound inputs are exact per block
      assert(b.block_min_dl == ids.map(dlByDoc).min)
      assert(tfs.max == b.block_max_tf || tfs.max < b.block_max_tf)
      assert(b.n <= stats.blockSize)
    }
  }

  test("paged norms: pages reconstruct the exact dl sequence, no row scales with shard") {
    val dir = tempDir("graft-idx-paged")
    // page size deliberately far below docsPerShard so every shard
    // splits into many pages
    IndexBuilder.build(spark, TranscriptGen.corpus(spark, NumConvs), dir,
      IndexBuilder.Config(blockSize = 8, numShards = 4, numPartitions = 8,
        normsPageSize = 16))
    val stats = SegmentIO.readStats(dir)
    assert(stats.normsPageSize == 16)
    val rows = SegmentIO.readNorms(spark, dir).collect()
    assert(rows.forall(_.n <= 16), "no page exceeds the page size")
    assert(rows.groupBy(_.shard).forall(_._2.length > 1),
      "every shard has multiple pages at this page size")
    // page-wise reconstruction == docs-table dl in doc_id order
    val dls = rows.sortBy(r => (r.shard, r.page))
      .flatMap(r => graft.index.Varbyte.decodeInts(r.dl_bytes, r.n))
    val expected = SegmentIO.readDocs(spark, dir).collect()
      .sortBy(_.doc_id).map(_.dl)
    assert(dls.toSeq == expected.toSeq)
    // page boundaries: first_doc = shardBase + page * pageSize
    rows.foreach { r =>
      assert(r.first_doc == r.shard.toLong * stats.docsPerShard + r.page.toLong * 16)
    }
    // the paged index answers queries identically to the engine oracle
    val li = new graft.query.LocalIndex(spark, dir)
    val oracle = graft.query.LocalOracle.buildCorpus(
      TranscriptGen.localCorpus(NumConvs))
    val expectedTop = graft.query.LocalOracle.topK(oracle, "t00000 t00001", 10)
      .map { case (d, s) => (d.docId, s) }
    assert(li.retrieve("t00000 t00001", 10).toSeq == expectedTop)
  }
}
