package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>):
  * brute-force cosine top-k as the exactness baseline, and
  * random-hyperplane LSH bucketing as the scale path (candidates
  * drop from O(n²) to per-bucket joins; recall tunable by planes).
  *
  * All math is promoted to double with a FIXED left-to-right fold so
  * results are bit-reproducible across engines (same contract as the
  * BM25 score fold, SURVEY §7.5).
  */
object Similarity {

  /** cos(a, b) = Σ a[i]·b[i] / (√Σ a[i]² · √Σ b[i]²), each sum a
    * sequential left-to-right fold over the elements promoted to
    * double, as the DuckDB twin `SparkEntry.cosExpr` folds it. A
    * native codegen kernel ([[graft.functions.VectorMath.cosine]]).
    */
  def cosine(va: Column, vb: Column): Column =
    graft.functions.VectorExpressions.cosineSim(va, vb)

  /** Brute-force cosine top-k against one probe vector (broadcast
    * single-row cross join → score-all → TakeOrderedAndProject).
    */
  def cosineTopK(emb: DataFrame, id: Column, vec: Column, probeId: Long, k: Int): DataFrame = {
    val probe = emb.filter(id === probeId)
      .select(vec.as("probe_vec"))
    emb.select(id.as("id"), vec.as("vec"))
      .filter(col("id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("id"), cosine(col("vec"), col("probe_vec")).as("cos"))
      .orderBy(desc("cos"), asc("id"))
      .limit(k)
  }

  /** k-NN join: top-k neighbors for each probe row (window ranking
    * over the candidate cross product; probes must be a small set —
    * broadcast side).
    */
  def knnJoin(emb: DataFrame, id: Column, vec: Column, probeMaxId: Long, k: Int): DataFrame = {
    val probes = emb.filter(id < probeMaxId).select(id.as("pid"), vec.as("pvec"))
    val cands = emb.select(id.as("id"), vec.as("vec"))
    val scored = cands
      .join(broadcast(probes), col("id") =!= col("pid"))
      .select(col("pid"), col("id"), cosine(col("vec"), col("pvec")).as("cos"))
    val w = Window.partitionBy(col("pid")).orderBy(desc("cos"), asc("id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Random-hyperplane LSH bucket id: `planes` sign bits of
    * plane-projections packed into a long. Vectors in the same bucket
    * are near-duplicate candidates (verify with [[cosine]]). Native
    * codegen kernel; plane j's components are
    * plane(j)[d] = ((1103515245*(j*dim+d) + 12345) % 65536) / 65536 - 0.5,
    * the formula of the DuckDB twin `SparkEntry.lshBucketSql`
    * (single table, g = j in [[graft.functions.VectorMath.lshBuckets]]).
    */
  def lshBucket(vec: Column, dim: Int, planes: Int): Column =
    element_at(
      graft.functions.VectorExpressions.lshBuckets(vec, dim, tables = 1, planes), 1)

  /** Multi-table banded LSH — the version that survives 10⁹ vectors:
    *
    *  - `tables` independent hash tables (disjoint plane sets), so
    *    recall is 1-(1-p^planes)^tables instead of a single table's
    *    p^planes — more planes per table (smaller buckets) without
    *    giving up recall;
    *  - per-(table, bucket) self-joins only — the pair space is
    *    Σ bucket², never n²;
    *  - `maxBucketSize` drops degenerate hot buckets (near-constant
    *    vector regions) before they can quadratically explode a join,
    *    the same stop-guard idea as `Dedup.ngramJaccardJoin`'s
    *    maxShingleDf.
    *
    * Pairs colliding in several tables verify redundantly and dedup
    * after the tau filter (post-filter relation is the smallest point
    * in the plan to pay the exchange).
    */
  def lshCosinePairsMulti(
      emb: DataFrame,
      id: Column,
      vec: Column,
      dim: Int,
      tables: Int = 4,
      planesPerTable: Int = 6,
      tau: Double = 0.4,
      maxBucketSize: Int = 10000): DataFrame = {
    // All per-table buckets are computed in ONE narrow per-row pass
    // (native codegen kernel — a single static call per row) and
    // posexploded to (id, vec, tbl, bucket): no exchange, no persist,
    // no row ever leaves its input partition before the bucket join.
    // plane(g)[d] with g = tbl*planesPerTable + j is the DuckDB twin's
    // formula (SparkEntry.lshTableBucketSql).
    //
    // Vectors ride THROUGH the bucket shuffle so the exact-cosine
    // verify happens inside pair generation — candidates and
    // verification are one job, and the two id-keyed joins back
    // against the (corpus-sized) vector table are gone. Pair
    // generation is a grouped double-explode rather than a self-join:
    // a (tbl, bucket) self-join lands every member of a bucket in one
    // task anyway (the join key IS the bucket), but pastes the
    // entries subplan — including the hot-bucket count shuffle — into
    // BOTH join sides. Grouping bucket members into one row instead
    // makes the cap a FREE `size <= maxBucketSize` filter on the
    // aggregated array (no count shuffle, no broadcast anti-join) and
    // leaves exactly two real exchanges in the whole operator: the
    // bucket groupBy and the post-filter dedup.
    //
    // Byte tradeoff of carry-through: the bucket shuffle carries
    // `tables` copies of each vector (dim·4 bytes) instead of bare
    // ids, but the join formulation re-shuffled the full vector table
    // TWICE plus the candidate relation twice; for moderate dims
    // (≲256 floats) carry-through is strictly fewer bytes and three
    // fewer waves. Size maxBucketSize against dim: one bucket's
    // members (maxBucketSize · dim · 4 bytes) must fit a task
    // comfortably — the m² explode of a capped-but-hot bucket is that
    // task's work either way, identical to the self-join's per-key
    // fan-out.
    val bucketArr = graft.functions.VectorExpressions
      .lshBuckets(col("vec"), dim, tables, planesPerTable)
    val entries = emb.select(id.as("id"), vec.as("vec"))
      .select(col("id"), col("vec"), posexplode(bucketArr).as(Seq("tbl", "bucket")))
    val buckets = entries.groupBy(col("tbl"), col("bucket"))
      .agg(collect_list(struct(col("id"), col("vec"))).as("ms"))
      .filter(size(col("ms")) >= 2 && size(col("ms")) <= maxBucketSize)
    // pairs colliding in several tables verify redundantly (bounded by
    // `tables`) and dedup AFTER the tau filter, where the relation is
    // smallest — cheaper than an exchange over the full candidate set.
    // collect_list order is partition-arrival nondeterministic, which
    // is fine: the a×b product filtered to id_a < id_b is the same
    // SET under any member order.
    buckets
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine(col("a.vec"), col("b.vec")).as("cos"))
      .filter(col("cos") >= tau)
      .distinct()
  }

  // --------------------------------------------------------------- IVF

  /** IVF (inverted-file) coarse quantizer — the other classic ANN
    * scale path next to LSH (SURVEY prompt: "IVF or LSH-bucketed
    * variant"). Centroids are a deterministic id-stride SAMPLE of the
    * corpus rather than Lloyd-iterated k-means: sampling needs no
    * fixpoint iteration, is engine-portable bit-for-bit (the DuckDB
    * oracle replays it exactly — float k-means centroids would
    * accumulate in engine-dependent order), and is the standard cheap
    * initializer at 10⁹-vector scale where even one Lloyd pass is a
    * full corpus × centroids sweep. Swap in trained centroids by
    * passing any (cid, cvec) frame to [[ivfAssign]]/[[ivfTopK]].
    */
  def ivfCentroids(emb: DataFrame, id: Column, vec: Column, stride: Long): DataFrame =
    emb.filter(pmod(id, lit(stride)) === 0)
      .select(id.as("cid"), vec.as("cvec"))

  /** Assign every vector to its nearest (max-cosine) centroid: the
    * IVF build pass. Centroids broadcast (they are √n-ish by
    * construction); the n×k candidate product never shuffles — the
    * per-id argmax folds map-side via `max_by` partial aggregation,
    * so the only exchange carries one row per vector. Ties break to
    * the lowest cid (the `-cid` struct component), matching the
    * oracle's `ORDER BY ccos DESC, cid` exactly.
    *
    * @return (id, vec, cid) — the inverted-list membership table;
    *         at scale this is what you persist, bucketed by cid
    */
  def ivfAssign(emb: DataFrame, id: Column, vec: Column, centroids: DataFrame): DataFrame =
    emb.select(id.as("id"), vec.as("vec"))
      .crossJoin(broadcast(centroids))
      .select(col("id"), col("vec"), col("cid"),
        cosine(col("vec"), col("cvec")).as("ccos"))
      .groupBy(col("id"))
      .agg(
        max_by(col("cid"), struct(col("ccos"), (-col("cid")).as("nc"))).as("cid"),
        any_value(col("vec")).as("vec"))

  /** IVF top-k: each probe scans only its `nProbe` nearest inverted
    * lists (an equi-join on cid — the point of IVF: candidate volume
    * is nProbe/k of the corpus, not all of it), then exact cosine +
    * per-probe rank. With nProbe = number of centroids this is
    * exhaustive and equals [[knnJoin]] — the recall dial is explicit.
    * Probes must be a small set (broadcast side, like [[knnJoin]]).
    *
    * @param probes (pid, pvec)
    * @return (pid, id, cos, rank), rank 1..k per probe
    */
  def ivfTopK(
      emb: DataFrame,
      id: Column,
      vec: Column,
      probes: DataFrame,
      stride: Long,
      nProbe: Int,
      k: Int): DataFrame = {
    val cents = ivfCentroids(emb, id, vec, stride)
    ivfTopKAssigned(ivfAssign(emb, id, vec, cents), cents, probes, nProbe, k)
  }

  /** Query path over a PRE-BUILT assignment table — the production
    * IVF shape: [[ivfWrite]] persists (cid, id, vec) partitioned by
    * cid once, and every probe after that reads ONLY its nProbe
    * centroid directories (`cid IN (...)` is a partition filter — the
    * scan never touches the other lists' files). The assignment sweep
    * (n × centroids cosines) is paid at build time, like the posting
    * index.
    */
  def ivfTopKAssigned(
      assigned: DataFrame,
      centroids: DataFrame,
      probes: DataFrame,
      nProbe: Int,
      k: Int): DataFrame =
    ivfCandidateTopK(assigned, probeCidLists(centroids, probes, nProbe), k)

  /** Per-probe routing table (pid, pvec, cid): each probe's nProbe
    * nearest centroids by (pcos desc, cid asc) — the IVF analog of the
    * BM25 dictionary's shard lists.
    */
  private def probeCidLists(
      centroids: DataFrame, probes: DataFrame, nProbe: Int): DataFrame = {
    val wp = Window.partitionBy(col("pid")).orderBy(desc("pcos"), asc("cid"))
    probes
      .crossJoin(broadcast(centroids))
      .select(col("pid"), col("pvec"), col("cid"),
        cosine(col("pvec"), col("cvec")).as("pcos"))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nProbe)
      .select(col("pid"), col("pvec"), col("cid"))
  }

  /** Exact-cosine rank over the routed candidate lists. One candidate
    * row per (pid, id): assignment is unique per id and a probe's
    * nProbe cids are distinct, so no dedup is needed.
    */
  private def ivfCandidateTopK(
      assigned: DataFrame, probeLists: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("pid")).orderBy(desc("cos"), asc("id"))
    assigned.join(broadcast(probeLists), "cid")
      .filter(col("id") =!= col("pid"))
      .select(col("pid"), col("id"), cosine(col("vec"), col("pvec")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("pid"), col("id"), col("cos"), col("rank"))
  }

  /** Serving path over a PERSISTED index dir ([[ivfWrite]] output):
    * probe→centroid routing runs ON THE DRIVER — the centroid table is
    * √n-ish by construction and probes are a bounded set, so ranking
    * nProbe lists per probe is a collected-table computation using the
    * SAME kernel the codegen expression calls
    * ([[graft.functions.VectorMath.cosine]] float-array overload,
    * bit-equal fold) with the same (pcos desc, cid asc) tie order.
    * The routed cid set then pushes into the lists scan as a STATIC
    * `cid IN (...)` predicate — a partition filter that prunes the
    * non-probed inverted-list directories at planning time, so the
    * scan's file listing never touches the other (numCentroids −
    * nProbe) lists, and the whole query is ONE Spark job (the
    * candidate join). This is the IVF analog of the BM25 path's
    * dictionary-routed shard fan-out (routing structures live at the
    * coordinator; data-sized work stays distributed). The assignment
    * sweep was paid once at [[ivfWrite]] time, like the posting
    * index's build.
    */
  /** Driver-resident centroid cache per index dir: the centroid table
    * is the IVF index's routing structure (the analog of the BM25
    * driver dictionary cache) — √n-ish rows, collected once and
    * reused by every probe; whole-entry eviction on overwrite is the
    * caller's job (SparkEntry writes each q-index dir once, in its
    * own process, before any probe reads it, so its entries never go
    * stale).
    */
  private val centCache =
    new scala.collection.concurrent.TrieMap[String, Array[(Long, Array[Float])]]

  def ivfTopKPruned(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      probes: DataFrame,
      nProbe: Int,
      k: Int): DataFrame = {
    import spark.implicits._
    val (assigned, cents) = ivfRead(spark, dir)
    val centRows: Array[(Long, Array[Float])] =
      centCache.getOrElseUpdate(dir,
        cents.select(col("cid"), col("cvec")).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)))
    val probeRows: Array[(Long, Array[Float])] =
      probes.select(col("pid"), col("pvec")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // (pcos desc, cid asc) with Spark's NaN placement: Spark orders
    // NaN as the LARGEST value, so desc(pcos) ranks a NaN cosine (zero
    // vector) first — a plain sortBy(-pc) would rank it last and route
    // a zero-vector probe to different lists than the Spark/oracle
    // twin. TotalOrdering.reverse reproduces Spark exactly.
    val byPcosDescCidAsc: Ordering[(Long, Double)] =
      Ordering.by[(Long, Double), Double](_._2)(Ordering.Double.TotalOrdering.reverse)
        .orElseBy(_._1)
    val pl: Array[(Long, Seq[Float], Long)] = probeRows.flatMap { case (pid, pv) =>
      centRows
        .map { case (cid, cv) =>
          (cid, graft.functions.VectorMath.cosine(pv, cv))
        }
        .sorted(byPcosDescCidAsc)
        .take(nProbe)
        .map { case (cid, _) => (pid, pv.toSeq, cid) }
    }
    val cids = pl.map(_._3).distinct.toSeq
    val plDf = pl.toSeq.toDF("pid", "pvec", "cid")
      .select(col("pid"), col("pvec").cast("array<float>").as("pvec"), col("cid"))
    ivfCandidateTopK(assigned.filter(col("cid").isin(cids: _*)), plDf, k)
  }

  /** Persist the IVF index: inverted lists partitioned by cid (probe
    * reads prune at the directory level) plus the centroid table.
    */
  def ivfWrite(emb: DataFrame, id: Column, vec: Column, stride: Long,
      dir: String): Unit = {
    val cents = ivfCentroids(emb, id, vec, stride)
    ivfAssign(emb, id, vec, cents)
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/lists")
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Incremental append to a persisted IVF index — the ANN analog of
    * the posting index's `appendBuild` (and of FAISS's `index.add`):
    * new vectors are assigned against the STORED centroids (the
    * routing structure never changes, so existing lists, the driver
    * centroid cache, and every in-flight probe stay valid) and
    * appended to their inverted lists. Cost is one broadcast argmax
    * over the NEW batch plus an id anti-join against only the cid
    * partitions the batch routes to — never a full-index rewrite.
    *
    * Idempotent by construction FOR IMMUTABLE IDS: the anti-join
    * scans only the cid partitions the NEW batch routes to, which
    * catches an id re-appended with the SAME vector (it routes to the
    * same centroid it already lives under). Re-running after a torn
    * append (parquet job commit is per-attempt, not transactional
    * across cid dirs) therefore converges to the complete state
    * instead of duplicating rows. Ids are immutable once indexed:
    * re-appending an id with a DIFFERENT vector that routes to a
    * different centroid is NOT detected (it would land in a second
    * inverted list); updates go through a rebuild ([[ivfWrite]]), or
    * — when strict id uniqueness against arbitrary batches is worth a
    * full-lists scan per append — anti-join against the unfiltered
    * lists relation instead. A reader racing the append sees a prefix
    * of the new lists — for ANN that is a transient recall dip, not
    * corruption.
    *
    * Centroid drift note: appends reuse the build-time quantizer, so
    * a corpus whose distribution shifts far from the original sample
    * degrades list balance (the standard IVF tradeoff); re-train by
    * rebuilding with [[ivfWrite]] when skew warrants it.
    *
    * @return number of genuinely new vectors appended
    */
  def ivfAppend(
      spark: SparkSession,
      dir: String,
      newVecs: DataFrame,
      id: Column,
      vec: Column): Long = {
    val (lists, cents) = ivfRead(spark, dir)
    // the assignment feeds two actions (cid collect + the write), so
    // persist it — batch-sized, never corpus-sized — to pay the
    // broadcast argmax exactly once
    val asg = ivfAssign(newVecs, id, vec, cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // routed cids are bounded by the centroid count; pushing them as
      // a static IN-filter prunes the untouched list dirs from the
      // anti-join's scan, same trick as ivfTopKPruned
      val newCids = asg.select(col("cid")).distinct()
        .collect().map(_.getLong(0)).toSeq
      if (newCids.isEmpty) return 0L
      val existingIds = lists.filter(col("cid").isin(newCids: _*)).select(col("id"))
      val fresh = asg.join(existingIds, Seq("id"), "left_anti")
        .select(col("id"), col("cid"), col("vec"))
      val obs = new org.apache.spark.sql.Observation(s"ivf-append-${System.nanoTime()}")
      fresh.observe(obs, count(lit(1)).as("n"))
        .write.mode("append").partitionBy("cid").parquet(s"$dir/lists")
      Option(obs.get("n")).map(_.asInstanceOf[Long]).getOrElse(0L)
    } finally {
      asg.unpersist()
    }
  }

  /** Read back a persisted IVF index as (assigned, centroids). When
    * the probe set is known, filter `assigned` with `cid isin(...)`
    * BEFORE any action so the partition filter prunes list dirs (the
    * equi-join in [[ivfTopKAssigned]] does this implicitly via
    * broadcast-join pruning only at runtime; an explicit filter shows
    * up as PartitionFilters in the scan).
    */
  def ivfRead(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val assigned = spark.read.parquet(s"$dir/lists")
      .select(col("id"), col("vec"), col("cid").cast("long").as("cid"))
    (assigned, spark.read.parquet(s"$dir/centroids"))
  }
}
