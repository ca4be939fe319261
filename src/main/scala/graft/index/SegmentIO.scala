package graft.index

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, RebaseDateTime}
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Segment layout on disk (SURVEY.md §1.3 — the Spark-native analog
  * of the reference's {embeddings.npy, pmid_index.json,
  * faiss_index.bin} artifact set, `src/vector_index.py:37-43`):
  *
  * {{{
  * <dir>/
  *   docs/        parquet, partitionBy(shard) dirs, doc_id-sorted
  *                within files (text + dl; tokens are NOT stored —
  *                they live only in the build process, see
  *                [[IndexedTurnTk]])
  *   dictionary/  parquet, hash-partitioned by term into files,
  *                term-sorted within each: term, df, cf, max_tf,
  *                min_dl, shards (v5 routing list)
  *   postings/    parquet, partitionBy(shard) dirs, (term, block_id)-
  *                sorted within files — a shard dir is the unit of
  *                overwrite for append/resume
  *   norms/       parquet, partitionBy(shard), one row per fixed-size
  *                doc-id page
  *   stats.json   num_docs, avgdl, total_tokens, shards, block size,
  *                norms page size
  *   manifest/    per-stage JSON manifests (lineage + resume markers)
  * }}}
  *
  * Format v5 invariant: NOTHING on disk depends on corpus-level
  * statistics (avgdl) — block/dictionary metadata store raw (max_tf,
  * min_dl) bounds and the avgdl-dependent BM25 upper bounds are
  * derived at query time. This is what makes incremental append
  * sound: adding documents changes avgdl, which would invalidate any
  * stored tf-norm, but never invalidates (max_tf, min_dl).
  *
  * "Iceberg-style": no Iceberg runtime jar ships in /opt/spark/jars,
  * so the snapshot/manifest metadata layer is written explicitly
  * (SURVEY.md §1.3 Iceberg note); the directory convention stays
  * catalog-compatible.
  */
object SegmentIO {

  /** Docs-table row (doc store + BM25 norms). Text is retained so
    * query-time keyword boost / penalize (reference
    * `src/search_engine.py:362-461`) needs no second source.
    */
  case class IndexedTurn(
      doc_id: Long,
      conv_id: String,
      turn_idx: Int,
      role: String,
      text: String,
      tool: String,
      ts: Timestamp,
      dl: Int,
      shard: Int)

  /** Build-side docs row: [[IndexedTurn]] plus the token array. A
    * fresh build hands the docs-stage dataset (tokens included) to
    * the postings stage, whose pass re-runs only the rank+tokenize
    * map over reused sort-shuffle files; a resumed build reconstructs
    * `tk` lazily from the stored text. The array is never written to
    * parquet — carrying it through the docs write was measured 3-5x
    * more expensive than the tokenize it saves (and persisting it in
    * the block cache costs more in serialized page faults than the
    * re-run map — see BASELINE.md round-2 notes).
    */
  case class IndexedTurnTk(
      doc_id: Long,
      conv_id: String,
      turn_idx: Int,
      role: String,
      text: String,
      tool: String,
      ts: Timestamp,
      dl: Int,
      shard: Int,
      tk: Array[String])

  /** One compressed posting block (block size cfg.blockSize docs):
    * delta+varbyte doc ids, varbyte tfs, block-max metadata for WAND.
    * (block_max_tf, block_min_dl) give the avgdl-independent score
    * upper bound idf * tfNorm(max_tf, min_dl, avgdl) at query time —
    * tfNorm is monotone increasing in tf and decreasing in dl, so the
    * bound dominates every member doc's contribution.
    */
  case class PostingBlock(
      term: String,
      block_id: Int,
      n: Int,
      first_doc: Long,
      last_doc: Long,
      doc_bytes: Array[Byte],
      tf_bytes: Array[Byte],
      block_max_tf: Int,
      block_min_dl: Int,
      sum_tf: Long,
      shard: Int)

  /** Per-term stats; (max_tf, min_dl) bound the term's score the same
    * way block metadata does, globally. `shards` (v5, sentinel v6) is
    * the sorted list of shards holding at least one posting for the
    * term — the query router's shard-pruning structure: a query
    * schedules tasks only for the union (OR) / intersection (AND) of
    * its terms' shard lists instead of fanning out to every shard of
    * a 10⁴-shard corpus. An EMPTY list is the v6 dense-term sentinel,
    * meaning "all shards" (IndexBuilder.DenseRoutingFraction) — it
    * keeps dictionary rows and the resident dictionary
    * O(fraction × numShards) bounded instead of letting common terms
    * carry full 10⁴-entry arrays.
    */
  case class DictEntry(term: String, df: Long, cf: Long, max_tf: Int, min_dl: Int,
      shards: Seq[Int])

  /** One fixed-size page of the per-shard doc-length (BM25 norm)
    * array: doc ids within a page are contiguous
    * [first_doc, first_doc + n), so dl lookup is a two-level index
    * (page = (doc - shardBase) / pageSize, then array offset). Pages
    * keep every row O(pageSize) regardless of shard size — no row
    * scales with the corpus, and no (doc - base) difference ever has
    * to fit an Int across more than one page.
    */
  case class NormsRow(shard: Int, page: Int, n: Int, first_doc: Long,
      dl_bytes: Array[Byte])

  case class IndexStats(
      numDocs: Long,
      avgdl: Double,
      totalTokens: Long,
      numShards: Int,
      docsPerShard: Long,
      blockSize: Int,
      normsPageSize: Int)

  def docsPath(dir: String) = s"$dir/docs"
  def normsPath(dir: String) = s"$dir/norms"
  def dictPath(dir: String) = s"$dir/dictionary"
  def postingsPath(dir: String) = s"$dir/postings"
  def statsPath(dir: String): Path = Paths.get(dir, "stats.json")
  def manifestDir(dir: String): Path = Paths.get(dir, "manifest")

  // ---- stats ----

  def writeStats(dir: String, s: IndexStats): Unit = {
    Files.createDirectories(Paths.get(dir))
    val json =
      s"""{"num_docs":${s.numDocs},"avgdl":${s.avgdl},"total_tokens":${s.totalTokens},""" +
        s""""num_shards":${s.numShards},"docs_per_shard":${s.docsPerShard},""" +
        s""""block_size":${s.blockSize},"norms_page_size":${s.normsPageSize}}"""
    Files.write(statsPath(dir), json.getBytes(StandardCharsets.UTF_8))
  }

  def readStats(dir: String): IndexStats = {
    val json = new String(Files.readAllBytes(statsPath(dir)), StandardCharsets.UTF_8)
    def f(k: String): String =
      s""""$k":([-0-9.eE]+)""".r.findFirstMatchIn(json).get.group(1)
    IndexStats(f("num_docs").toLong, f("avgdl").toDouble, f("total_tokens").toLong,
      f("num_shards").toInt, f("docs_per_shard").toLong, f("block_size").toInt,
      f("norms_page_size").toInt)
  }

  // ---- per-stage manifests: lineage + resume markers ----
  // Analog of the reference's JSON checkpoints
  // (`src/embedding_generator.py:116-132`): a stage whose manifest is
  // present and checksum-consistent is skipped on re-run; resume =
  // "anti-join of done stages" at stage granularity, with
  // per-partition (shard) row counts recorded for lineage.

  case class StageManifest(
      stage: String,
      inputRows: Long,
      outputRows: Long,
      checksum: Long,
      perPartRows: Seq[(String, Long)])

  def manifestPath(dir: String, stage: String): Path =
    manifestDir(dir).resolve(s"_stage_$stage.json")

  def writeManifest(dir: String, m: StageManifest): Unit = {
    Files.createDirectories(manifestDir(dir))
    val parts = m.perPartRows
      .map { case (k, v) => s"""{"part":"$k","rows":$v}""" }
      .mkString("[", ",", "]")
    val json =
      s"""{"stage":"${m.stage}","input_rows":${m.inputRows},"output_rows":${m.outputRows},""" +
        s""""checksum":${m.checksum},"partitions":$parts}"""
    Files.write(manifestPath(dir, m.stage), json.getBytes(StandardCharsets.UTF_8))
  }

  /** (output rows, checksum) of stage `stage`'s written manifest. */
  def manifestTotals(dir: String, stage: String): (Long, Long) = {
    val json = new String(Files.readAllBytes(manifestPath(dir, stage)), StandardCharsets.UTF_8)
    def f(k: String): Long = s""""$k":(-?[0-9]+)""".r.findFirstMatchIn(json).get.group(1).toLong
    (f("output_rows"), f("checksum"))
  }

  def stageDone(dir: String, stage: String): Boolean =
    Files.exists(manifestPath(dir, stage))

  /** Append-in-progress marker: written before an appendBuild's first
    * mutation, cleared after its snapshot commit. Presence on entry
    * means a torn append — the retry prunes the uncommitted rows
    * instead of silently absorbing them (doc ids must stay dense and
    * consistent with stats.numDocs).
    */
  def appendMarkerPath(dir: String): Path =
    manifestDir(dir).resolve("_append_inprogress")
  def writeAppendMarker(dir: String): Unit = {
    Files.createDirectories(manifestDir(dir))
    Files.write(appendMarkerPath(dir), "1".getBytes(StandardCharsets.UTF_8))
  }
  def clearAppendMarker(dir: String): Unit =
    Files.deleteIfExists(appendMarkerPath(dir))
  def appendInProgress(dir: String): Boolean =
    Files.exists(appendMarkerPath(dir))

  /** Per-shard row counts straight from parquet footers (driver-side
    * metadata reads, ~1 ms per file — no Spark job). Works on any
    * partitionBy(shard) table dir. Footers open over
    * [[sharedHadoopConf]], as in [[readParquetDir]]: the one-argument
    * `ParquetFileReader.open` builds a default Configuration per file.
    */
  def shardRowCounts(path: String): Seq[(String, Long)] = {
    val base = new java.io.File(path)
    val dirs = Option(base.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("shard="))
    val conf = sharedHadoopConf
    dirs.map { d =>
      val rows = Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet")).map { f =>
          val file = new HPath(f.getPath)
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
            HadoopReadOptions.builder(conf, file).build())
          try r.getRecordCount finally r.close()
        }.sum
      (d.getName.stripPrefix("shard="), rows)
    }.sortBy(_._1).toSeq
  }

  /** Snapshot manifest tying the whole segment together. */
  def writeSnapshot(dir: String, stages: Seq[String]): Unit = {
    val json = stages.map(s => s""""$s"""").mkString(
      s"""{"format":"graft-segment-v1","stages":[""", ",", "]}")
    Files.write(Paths.get(dir, "snapshot.json"), json.getBytes(StandardCharsets.UTF_8))
  }

  // ---- readers ----

  /** A table read with its schema pinned to the row class `T`, so
    * Spark runs no schema-inference job; `shard` is read as the int
    * partition column. With `shards` non-empty, only those `shard=N`
    * dirs that exist are listed (under `basePath`, so `shard` stays a
    * column) and the rest of the table is never touched: a table of
    * more than 32 shard dirs otherwise costs a parallel listing job
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`).
    */
  private def readTable[T <: Product: TypeTag](
      spark: SparkSession, path: String, shards: Seq[Int] = Nil): Dataset[T] = {
    val enc = Encoders.product[T]
    val reader = spark.read.schema(enc.schema)
    val df =
      if (shards.isEmpty) reader.parquet(path)
      else {
        val dirs = shards.map(s => s"$path/shard=$s").filter(d => Files.isDirectory(Paths.get(d)))
        if (dirs.isEmpty) return spark.emptyDataset(enc)
        reader.option("basePath", path).parquet(dirs: _*)
      }
    df.select(enc.schema.fieldNames.map(col).toIndexedSeq: _*).as(enc)
  }

  /** The docs table, or only its `shards` when given. */
  def readDocs(spark: SparkSession, dir: String, shards: Seq[Int] = Nil): Dataset[IndexedTurn] =
    readTable[IndexedTurn](spark, docsPath(dir), shards)

  /** Build-side reader: reconstructs the token array from the stored
    * text (the resume path's single tokenize).
    */
  def readDocsTk(spark: SparkSession, dir: String): Dataset[IndexedTurnTk] = {
    import spark.implicits._
    readDocs(spark, dir).withColumn("tk", graft.tokenize.Tokenizer.tokensCol(col("text")))
      .as[IndexedTurnTk]
  }

  def readDict(spark: SparkSession, dir: String): Dataset[DictEntry] =
    readTable[DictEntry](spark, dictPath(dir))

  /** Every parquet file directly under `path`, read with plain
    * parquet-hadoop: no Spark job, no shuffle. `filter` goes to the
    * reader, which skips row groups and pages on their statistics and
    * column index and record-filters the rest; `support` (one per file)
    * picks the columns. Empty when `path` does not exist.
    *
    * Files open as [[HadoopInputFile]]s over [[sharedHadoopConf]]:
    * `ParquetReader.builder(support, path)` would build (and parse the
    * XML default resources of) a fresh Hadoop Configuration per file,
    * ~10 ms, before any `withConf` replaced it.
    */
  private def readParquetDir[S <: GroupReadSupport, T: ClassTag](
      path: String, filter: Option[FilterPredicate], support: => S)(
      row: (S, Group) => T): Array[T] = {
    val conf = sharedHadoopConf
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Array.empty
    fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).flatMap { st =>
      val rs = support
      val b: ParquetReader.Builder[Group] =
        new GroupReaderBuilder(rs, HadoopInputFile.fromStatus(st, conf))
      val reader = filter.fold(b)(f => b.withFilter(FilterCompat.get(f))).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).map(row(rs, _)).toArray
      finally reader.close()
    }
  }

  private final class GroupReaderBuilder(support: GroupReadSupport, file: InputFile)
      extends ParquetReader.Builder[Group](file) {
    override protected def getReadSupport(): ReadSupport[Group] = support
  }

  /** Direct read of ONE shard's norms pages straight from its
    * `norms/shard=N` partition directory: each shard's load opens only
    * its own shard dir (the partitionBy(shard) layout IS the pruning),
    * so a query never shuffles or scans the corpus-wide norms relation.
    * Runs on executors; the segment directory must be executor-visible
    * (it is by construction — the index was written by Spark to shared
    * storage).
    */
  def readShardNorms(dir: String, shard: Int): Array[NormsRow] =
    readParquetDir(s"${normsPath(dir)}/shard=$shard", None, new GroupReadSupport()) { (_, g) =>
      NormsRow(shard, g.getInteger("page", 0), g.getInteger("n", 0),
        g.getLong("first_doc", 0), g.getBinary("dl_bytes", 0).getBytes)
    }

  /** One shard's norms rows as page-indexed decoded dl arrays (the
    * two-level lookup [[graft.query.ShardSearch.searchShards]] runs); empty
    * when the shard has no rows.
    */
  private def decodeDlPages(rows: Array[NormsRow]): Array[Array[Int]] = {
    val arrs = new Array[Array[Int]](if (rows.isEmpty) 0 else rows.map(_.page).max + 1)
    rows.foreach(p => arrs(p.page) = Varbyte.decodeInts(p.dl_bytes, p.n))
    arrs
  }

  /** One shard's query-side working set, as a WAND task needs it: the
    * decoded dl pages and every posting block of the shard, per term in
    * block_id order, still compressed. `bytes` is what it holds: the
    * blocks' doc/tf bytes plus 4 per decoded dl. `postings` is a hash
    * table, filled once and never changed: a local query looks each of
    * its terms up in every routed shard, and an immutable map's trie
    * levels cost it a cache miss each.
    */
  final case class ResidentShard(
      dlPages: Array[Array[Int]],
      postings: collection.Map[String, Array[PostingBlock]]) {
    val bytes: Long = dlPages.iterator.map(4L * _.length).sum +
      postings.valuesIterator.flatten.map(b => (b.doc_bytes.length + b.tf_bytes.length).toLong).sum
  }

  /** Resident segment data, keyed (dir, generation, table, shard): the
    * serving analog of a Lucene node keeping its shards open across
    * queries, and of the reference's resident in-RAM index and id map
    * (`src/search_engine.py:48-70`). It holds the stats
    * ([[residentStats]], shard -1), the dictionary ([[residentDict]],
    * shard -1), each shard's postings and norms ([[residentShard]]) and
    * each shard's doc-store rows ([[residentDocs]]), so a warm query
    * reads no file. It is the one resident copy of a segment: both
    * serving paths, [[graft.query.LocalIndex]] and
    * [[graft.api.SearchEngine]], read it.
    *
    * The generation in the key is the one the driver planned the query
    * under, so an entry filled before a mutation is never served after
    * it — not even one a racing reader filled after [[invalidateResident]]
    * ran: that entry carries the old generation, and a fill whose
    * generation is already superseded here is not kept at all.
    *
    * Bounded by estimated bytes at 1/8 of the JVM's max heap; a fill
    * that would pass the cap clears the whole cache first.
    * `residentBytes` and every insert or removal are guarded by the
    * map's monitor; lookups take no lock.
    */
  // a case class key compares gen and shard unboxed, unlike a tuple
  private final case class Key(dir: String, gen: Long, table: String, shard: Int)
  private val resident = new java.util.concurrent.ConcurrentHashMap[Key, (AnyRef, Long)]()
  private var residentBytes = 0L
  private val MaxResidentBytes = Runtime.getRuntime.maxMemory / 8

  /** The entry for `(dir, gen, table, shard)`, filled on first use by
    * `load` and counted as `bytes` of it.
    */
  private def residentEntry[V <: AnyRef](dir: String, gen: Long, table: String, shard: Int)(
      load: => V)(bytes: V => Long): V = {
    val key = Key(dir, gen, table, shard)
    val hit = resident.get(key)
    if (hit != null) hit._1.asInstanceOf[V]
    else {
      val loaded = load
      val size = bytes(loaded)
      resident.synchronized {
        val kept = resident.get(key)
        if (kept != null) kept._1.asInstanceOf[V]
        else {
          if (gen >= generation(dir)) {
            if (residentBytes + size > MaxResidentBytes) {
              resident.clear()
              residentBytes = 0L
            }
            resident.put(key, (loaded, size))
            residentBytes += size
          }
          loaded
        }
      }
    }
  }

  /** Bytes the resident entries are counted at, in total. */
  private[graft] def residentTotalBytes: Long = resident.synchronized(residentBytes)

  /** Fixed per-row estimate of a resident doc-store or dictionary row:
    * the row object, its boxed fields and string headers, and its map
    * entry. Strings add 2 bytes per char.
    */
  private val RowBytes = 256L
  private def charBytes(s: String): Long = if (s == null) 0L else 2L * s.length
  private[graft] def docsBytes(rows: Map[Long, IndexedTurn]): Long =
    rows.valuesIterator.map(d => RowBytes + charBytes(d.conv_id) + charBytes(d.role) +
      charBytes(d.text) + charBytes(d.tool)).sum
  private[graft] def dictBytes(dict: Map[String, DictEntry]): Long =
    dict.valuesIterator.map(d => RowBytes + charBytes(d.term) + 4L * d.shards.length).sum

  /** The stats of `dir` as of generation `gen`, read on first use from
    * `stats.json`. Counted at no bytes: one small record per segment
    * generation, beside entries of kilobytes to megabytes.
    */
  private[graft] def residentStats(dir: String, gen: Long): IndexStats =
    residentEntry(dir, gen, "stats", -1)(readStats(dir))(_ => 0L)

  /** Shard `shard` of `dir` as of mutation generation `gen`, loaded on
    * first use from one unfiltered read of `postings/shard=N` plus the
    * shard's norms. A shard with no files is empty, and matches nothing.
    */
  private[graft] def residentShard(dir: String, gen: Long, shard: Int): ResidentShard =
    residentEntry(dir, gen, "postings", shard) {
      val blocks = readParquetDir(s"${postingsPath(dir)}/shard=$shard", None,
          new GroupReadSupport()) { (_, g) =>
        PostingBlock(
          g.getString("term", 0),
          g.getInteger("block_id", 0), g.getInteger("n", 0),
          g.getLong("first_doc", 0), g.getLong("last_doc", 0),
          g.getBinary("doc_bytes", 0).getBytes,
          g.getBinary("tf_bytes", 0).getBytes,
          g.getInteger("block_max_tf", 0), g.getInteger("block_min_dl", 0),
          g.getLong("sum_tf", 0), shard)
      }
      ResidentShard(decodeDlPages(readShardNorms(dir, shard)),
        collection.mutable.HashMap.from(
          blocks.groupBy(_.term).iterator.map { case (t, bs) => t -> bs.sortBy(_.block_id) }))
    }(_.bytes)

  /** Shard `shard`'s doc-store rows (text included) by doc_id, as of
    * generation `gen`, loaded on first use from one unfiltered read of
    * `docs/shard=N`. Values equal what [[readDocs]] collects.
    */
  private[graft] def residentDocs(dir: String, gen: Long, shard: Int): Map[Long, IndexedTurn] =
    residentEntry(dir, gen, "docs", shard) {
      readDocRows(dir, shard, None, withText = true).map(d => d.doc_id -> d).toMap
    }(docsBytes)

  /** The dictionary by term, as of generation `gen`, loaded on first
    * use from one read of every `dictionary/` file. Values equal what
    * [[readDict]] collects.
    */
  private[graft] def residentDict(dir: String, gen: Long): Map[String, DictEntry] =
    residentEntry(dir, gen, "dictionary", -1) {
      readParquetDir(dictPath(dir), None, new GroupReadSupport()) { (_, g) =>
        val shards = g.getGroup("shards", 0)
        DictEntry(g.getString("term", 0), g.getLong("df", 0), g.getLong("cf", 0),
          g.getInteger("max_tf", 0), g.getInteger("min_dl", 0),
          (0 until shards.getFieldRepetitionCount("list"))
            .map(i => shards.getGroup("list", i).getInteger("element", 0)))
      }.map(d => d.term -> d).toMap
    }(dictBytes)

  /** Drop the resident entries of a segment rewritten in place
    * (append, torn-append recovery, compaction, rebuild) and bump its
    * generation — called by the builder. Complete in local[*] mode
    * where executors share the driver JVM (all tests / bench / driver
    * runs); a multi-JVM cluster deployment serves immutable snapshot
    * dirs instead of mutating a live segment, so rewrites there arrive
    * as new paths.
    */
  private[graft] def invalidateResident(dir: String): Unit = resident.synchronized {
    // the generation doubles as the segment's change signal: every
    // query's snapshot (ShardSearch.snapshot) reads it first
    dirGeneration.merge(dir, java.lang.Long.valueOf(1L),
      (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue))
    resident.entrySet.removeIf { e =>
      val drop = e.getKey.dir == dir
      if (drop) residentBytes -= e.getValue._2
      drop
    }
  }

  /** Monotonic per-dir mutation counter, bumped by
    * [[invalidateResident]]. 0 for a never-mutated dir.
    */
  private val dirGeneration =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  private[graft] def generation(dir: String): Long =
    Option(dirGeneration.get(dir)).map(_.longValue).getOrElse(0L)

  /** Shared read-only Hadoop conf for the direct parquet reads:
    * `new Configuration()` re-parses the XML default resources on every
    * call — a real per-call cost on every resident fill and direct read.
    */
  private[graft] lazy val sharedHadoopConf =
    new org.apache.hadoop.conf.Configuration()

  /** ONE shard's postings for a fixed term set, answered from the
    * resident shard ([[residentShard]], at the segment's current
    * generation): each present term's blocks in block_id order. The
    * serving paths do not call it; it stays because the benchmark's
    * traced `serve` probe (`perfbench` `ServeProbe.afterSearch`) times
    * per-shard postings reads with it, and `perfbench` builds against
    * this source.
    */
  def readShardPostings(dir: String, shard: Int, terms: Array[String]): Array[PostingBlock] = {
    val s = residentShard(dir, generation(dir), shard)
    terms.flatMap(t => s.postings.getOrElse(t, Array.empty[PostingBlock]))
  }

  /** Direct read of ONE shard's doc-store rows for a doc-id set,
    * straight from its `docs/shard=N` dir. Docs files are
    * doc_id-sorted, so the doc_id-set predicate skips whole pages;
    * `text` is read only when `withText` (it is most of a row's bytes),
    * else it comes back null.
    */
  def readShardDocs(dir: String, shard: Int, docIds: Iterable[Long],
      withText: Boolean = true): Array[IndexedTurn] = {
    if (docIds.isEmpty) return Array.empty
    val ids = new java.util.HashSet[java.lang.Long]()
    docIds.foreach(d => ids.add(d))
    readDocRows(dir, shard,
      Some(FilterApi.in[java.lang.Long, Operators.LongColumn](FilterApi.longColumn("doc_id"), ids)),
      withText)
  }

  /** `docs/shard=N`'s rows that pass `filter`. Values equal what
    * [[readDocs]] collects, `ts` included: it is decoded by the file's
    * physical type, as Spark's parquet reader does it (see
    * [[DocsReadSupport]]).
    */
  private def readDocRows(dir: String, shard: Int, filter: Option[FilterPredicate],
      withText: Boolean): Array[IndexedTurn] =
    readParquetDir(s"${docsPath(dir)}/shard=$shard", filter, new DocsReadSupport(withText)) {
        (rs, g) =>
      def str(f: String): String =
        if (g.getFieldRepetitionCount(f) == 0) null else g.getString(f, 0)
      IndexedTurn(g.getLong("doc_id", 0), str("conv_id"), g.getInteger("turn_idx", 0),
        str("role"), if (withText) str("text") else null, str("tool"),
        if (g.getFieldRepetitionCount("ts") == 0) null
        else DateTimeUtils.toJavaTimestamp(rs.tsMicros(g)),
        g.getInteger("dl", 0), shard)
    }

  /** Docs-file read support: projects `text` away unless asked for,
    * and picks the `ts` decoder from the file's footer when the reader
    * opens the file. Spark writes timestamps as INT96 by default, or as
    * INT64 micros/millis under `spark.sql.parquet.outputTimestampType`;
    * each decodes to micros and is calendar-rebased exactly as Spark's
    * reader does it for that file's writer metadata.
    */
  private final class DocsReadSupport(withText: Boolean) extends GroupReadSupport {
    var tsMicros: Group => Long = _

    override def init(ctx: InitContext): ReadSupport.ReadContext = {
      val schema = ctx.getFileSchema
      // one file per reader: each footer key has one value
      val meta = ctx.getKeyValueMetadata
      tsMicros = tsDecoder(schema.getType(schema.getFieldIndex("ts")).asPrimitiveType,
        k => Option(meta.get(k)).map(_.iterator.next).orNull)
      val cols = schema.getFields.asScala.filter(f => withText || f.getName != "text")
      new ReadSupport.ReadContext(new MessageType(schema.getName, cols.asJava))
    }
  }

  private def tsDecoder(t: PrimitiveType, lookup: String => String): Group => Long = {
    import PrimitiveType.PrimitiveTypeName.{INT64, INT96}
    import LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
    val conf = SQLConf.get
    def rebase(spec: RebaseDateTime.RebaseSpec, format: String) =
      DataSourceUtils.createTimestampRebaseFuncInRead(spec, format)
    (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case (INT96, _) =>
        val r = rebase(DataSourceUtils.int96RebaseSpec(lookup,
          conf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ).toString), "Parquet INT96")
        g => {
          // 8 bytes nanos of day, then 4 bytes Julian day, little-endian
          val buf = g.getInt96("ts", 0).toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val nanos = buf.getLong
          r(DateTimeUtils.fromJulianDay(buf.getInt, nanos))
        }
      case (INT64, ts: TimestampLogicalTypeAnnotation) if ts.getUnit != TimeUnit.NANOS =>
        val r = rebase(DataSourceUtils.datetimeRebaseSpec(lookup,
          conf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString), "Parquet")
        val millis = ts.getUnit == TimeUnit.MILLIS
        g => {
          val v = g.getLong("ts", 0)
          r(if (millis) DateTimeUtils.millisToMicros(v) else v)
        }
      case _ => throw new IllegalStateException(s"unsupported docs ts column type: $t")
    }
  }

  def readNorms(spark: SparkSession, dir: String): Dataset[NormsRow] =
    readTable[NormsRow](spark, normsPath(dir))

  /** The postings table, or only its `shards` when given. */
  def readPostings(spark: SparkSession, dir: String, shards: Seq[Int] = Nil): Dataset[PostingBlock] =
    readTable[PostingBlock](spark, postingsPath(dir), shards)
}
