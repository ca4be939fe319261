package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.tokenize.Tokenizer

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash groupBy), MinHash+LSH (shingle → signature → banded
  * bucket grouping → verified Jaccard), SimHash, and n-gram Jaccard
  * similarity join.
  *
  * Scale notes: every stage is shuffle-bounded (no driver
  * collection); LSH banding replaces the O(n²) pair space with
  * per-bucket pairs; the exact-Jaccard verification only touches LSH
  * candidates. Hot buckets (boilerplate shingles) are bounded by
  * dropping shingles with document frequency above `maxShingleDf`
  * (the standard stop-shingle guard).
  */
object Dedup {

  /** Exact duplicate groups by content hash. */
  def exact(df: DataFrame, id: Column, content: Column): DataFrame =
    df.groupBy(md5(content).as("content_hash"))
      .agg(count(lit(1)).as("n"), min(id).as("keep_id"))
      .filter(col("n") > 1)

  /** Embedding-cosine near-duplicate detection — the semantic member
    * of the dedup family (exact / MinHash / SimHash / n-gram /
    * embedding): candidate pairs from the multi-table LSH scale path
    * ([[Similarity.lshCosinePairsMulti]] — per-bucket joins, hot-bucket
    * cap, exact-cosine verify ≥ tau fused into pair generation), then
    * the standard greedy keep-lowest-id policy: a document is a
    * duplicate iff it has ANY qualifying neighbor with a smaller id.
    * One aggregation over the (bounded) verified-pair relation — no
    * iterative connected components, no second corpus pass.
    *
    * GREEDY, not transitive-closure, dedup: under a similarity chain
    * a↔b↔c with cos(a,c) < tau, b and c are BOTH dropped (each has a
    * smaller qualifying neighbor) and c's keep_id is b — a doc that
    * was itself dropped. keep_id is therefore "the lowest-id
    * qualifying NEIGHBOR", which under chains is not guaranteed to be
    * a survivor; the survivor set is exactly {docs with no row here},
    * which is what dedup needs. Pipelines that need the transitive
    * group (one id per connected component) compose the same verified
    * pairs with [[clusterIds]] instead. Chain behavior is pinned by
    * PipelineOpsSpec.
    *
    * @return (doc_id, keep_id, n_smaller, max_cos) — one row per
    *         DROPPED doc: its lowest-id qualifying neighbor (possibly
    *         itself dropped — see above), how many smaller neighbors
    *         it had, and its strongest similarity
    */
  def embeddingNearDup(
      emb: DataFrame,
      id: Column,
      vec: Column,
      dim: Int,
      tables: Int = 4,
      planesPerTable: Int = 6,
      tau: Double = 0.8,
      maxBucketSize: Int = 10000): DataFrame =
    Similarity.lshCosinePairsMulti(emb, id, vec, dim, tables, planesPerTable,
        tau, maxBucketSize)
      .groupBy(col("id_b").as("doc_id"))
      .agg(min(col("id_a")).as("keep_id"),
        count(lit(1)).as("n_smaller"),
        max(col("cos")).as("max_cos"))

  /** Transitive near-dup CLUSTER ids over a verified pair relation
    * (id_a, id_b): every doc appearing in a pair gets the MINIMUM doc
    * id of its connected component as `cluster` — the partition-level
    * dedup-group id that the greedy [[embeddingNearDup]] policy
    * deliberately does not compute. Singleton docs (no pairs) are
    * absent; they are their own cluster by definition.
    *
    * Bounded-round min-label propagation WITH path compression
    * (pointer jumping), fused (r6): each round every vertex takes the
    * min label over its neighbors, itself, AND its own label's vertex
    * — the last via per-round (v → label(v)) SHORTCUT EDGES unioned
    * into the neighbor relation, which realizes the
    * label := label(label) pointer-jump hop inside the same single
    * min-aggregation (labels always point at smaller ids of the same
    * component, so the hop is sound and monotone). Compression halves
    * remaining label-chain lengths, so convergence is O(log diameter)
    * rounds instead of O(diameter) — a 10⁶-long duplicate chain
    * resolves in ~20 rounds, and the common shallow components in
    * 2-3. A round that changes no label terminates the loop; hitting
    * `maxRounds` without convergence throws rather than returning
    * silently-partial clusters. Each round is ONE equi-join + ONE
    * min-aggregation over the EDGE/LABEL relations only (never the
    * corpus), so cost is O(log(diam) · |pairs|) shuffle.
    * Deterministic and partition-invariant: every step is a min over
    * a set.
    *
    * The returned frame is local-checkpointed (lineage-free: the
    * propagation loop's caches are already released by the time it
    * returns) — downstream actions re-read materialized blocks, never
    * replay rounds, and the blocks are GC-reclaimed with the frame.
    */
  def clusterIds(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    // symmetric edge relation, self-loop per vertex: one join per
    // round then covers "self and neighbors" in a single min.
    // Self-loop duplicates are NOT distinct'd: every consumer is a
    // min-aggregation, so duplicates cost bytes but never correctness,
    // and the distinct was a whole extra exchange in round 1.
    val p = pairs.select(col("id_a"), col("id_b"))
    val edges = p
      .union(p.select(col("id_b"), col("id_a")))
      .union(p.select(col("id_a"), col("id_a")))
      .union(p.select(col("id_b"), col("id_b")))
      .toDF("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Loop shape (r6, guide §2.4 — fewest jobs per round): each
      // round localCheckpoints its label output, which both
      // materializes it and TRUNCATES the logical plan to the
      // checkpointed blocks. Truncation is load-bearing, not an
      // optimization: a round references the previous labels TWICE
      // (shortcut-edge arm + join side), so an un-truncated plan
      // would reference round k-1's plan twice, k-2's four times, ...
      // — 2^rounds plan nodes. persist() caches DATA but keeps the
      // logical plan, so Catalyst analysis / AQE explain-string work
      // still grows exponentially and OOMs around round 8-10 (pinned
      // by the 1500-vertex deep-chain test). With the checkpoint,
      // round k's whole plan is (edges ∪ ckptEdges) ⋈ ckpt — never
      // deeper. Checkpoints are LAZY: the convergence-sum aggregate
      // below is the one action per round, materializing the blocks
      // as a side effect (an eager checkpoint would be a second job).
      //
      // Convergence probe: labels only SHRINK (each round is a min
      // over a superset that includes the vertex's own label via its
      // self-loop), so the label sum is strictly monotone-decreasing
      // until the fixpoint — comparing successive round sums
      // (decimal: overflow-proof under ANSI at any scale) detects the
      // fixpoint with one tiny aggregate instead of the former
      // next-vs-previous equi-JOIN (a full extra shuffle per round).
      // Soundness: sum(prop_k) == sum(prop_{k-1}) plus pointwise
      // prop_k <= prop_{k-1} forces pointwise equality, i.e. a stable
      // round; stability under the fused min makes labels constant
      // per component (adjacent vertices bound each other), which is
      // the true closure. Any real change keeps sums strictly
      // decreasing.
      def labelSum(df: DataFrame): java.math.BigDecimal = {
        val r = df.agg(sum(col("label").cast("decimal(38,0)"))).head()
        if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
      }
      // round 1: propagate over identity labels = plain min(dst) —
      // the former identity-label init plus first-round join, fused
      // into one aggregation (one fewer checkpoint round)
      var labels = edges
        .groupBy(col("src").as("id")).agg(min(col("dst")).as("label"))
        .localCheckpoint(false)
      var sumPrev = labelSum(labels)
      var round = 1
      var converged = false
      while (!converged && round < maxRounds) {
        // path compression fused into the propagate join as SHORTCUT
        // EDGES: unioning the per-round (v → label(v)) edges into the
        // neighbor relation makes the one min-aggregation compute
        // min(neighbors' labels, label(label(v))) — the pointer-jump
        // hop — in a single join + groupBy (2 shuffles/round) instead
        // of a separate label-keyed self-join (the r5/early-r6 shape:
        // 2 joins, 3+ shuffles). Soundness: label(v) is a vertex of
        // v's component and label(x) <= x holds inductively, so the
        // shortcut edge only shrinks labels; halving along the label
        // chain keeps convergence O(log diameter) (pinned by the
        // 100- and 1500-vertex chain tests).
        val labelEdges = labels.select(col("id").as("src"), col("label").as("dst"))
        val prop = edges.unionByName(labelEdges)
          .join(labels.select(col("id").as("dst"), col("label")), "dst")
          .groupBy(col("src").as("id")).agg(min(col("label")).as("label"))
          .localCheckpoint(false)
        val s = labelSum(prop)
        converged = s.compareTo(sumPrev) == 0
        sumPrev = s
        labels = prop
        round += 1
      }
      require(converged,
        s"clusterIds did not converge in $maxRounds rounds (with path " +
          "compression = component diameter > ~2^" + maxRounds + "); " +
          "raise maxRounds")
      // projection over the final checkpointed blocks: lineage-free,
      // cache-manager-free, GC-reclaimed with the frame
      labels.select(col("id"), col("label").as("cluster"))
    } finally {
      edges.unpersist()
    }
  }

  /** Token n-gram shingles per document: (id, sh) with portable
    * 32-bit hashes. Shingles are hashed in the projection so no
    * downstream stage ever shuffles shingle strings — only fixed-width
    * longs.
    *
    * `distinct=false` skips the corpus-wide dedup shuffle and keeps
    * repeated (id, sh) rows. Only a consumer that is blind to repeats
    * may take it: [[minhashDedup]] is, since `min` ignores them and its
    * `collect_set` dedups each doc's shingles inside the one signature
    * groupBy (set size = size of that set). Anything that counts rows
    * as set sizes or intersections needs the default.
    */
  def shingles(df: DataFrame, id: Column, text: Column, n: Int,
      distinct: Boolean = true): DataFrame = {
    val toks = df.select(id.as("id"),
      split(lower(text), Tokenizer.SplitPattern).as("raw"))
      .select(col("id"), filter(col("raw"), t => length(t) >= Tokenizer.MinLen).as("tk"))
    // n-gram join: transform over a 0..len-n index sequence
    val exploded = toks
      .filter(size(col("tk")) >= n)
      .select(col("id"), explode(
        transform(sequence(lit(0), size(col("tk")) - n),
          i => Hashing.hash32(
            concat_ws(" ", (0 until n).map(j => element_at(col("tk"), i + j + 1)): _*))))
        .as("sh"))
    if (distinct) exploded.distinct() else exploded
  }

  /** Full MinHash+LSH near-dup pipeline: shingle → sign → band →
    * candidate pairs → exact-verify ≥ tau.
    *
    * Plan shape (r6): the shingle-hash SET rides the one signature
    * groupBy as a collected array and is carried THROUGH the band
    * exchange, so the exact-Jaccard verify is pair-local
    * `array_intersect` arithmetic inside pair generation — the former
    * formulation pasted the corpus-sized shingle relation into THREE
    * subplans (signature build, pair-explode side, semi-join side:
    * three full tokenize+md5 passes) and paid two more exchanges for
    * the verify joins. Same carry-through-vs-rejoin byte tradeoff as
    * `Similarity.lshCosinePairsMulti` (which carries vectors): the
    * band shuffle carries `bands` copies of each doc's ~dl shingle
    * hashes instead of bare (id, sz), but the join formulation
    * re-shuffled the whole shingle relation twice on top of the
    * candidate relation — for moderate documents carry-through is
    * fewer total bytes and three fewer stage waves. Size
    * maxBucketSize against document length: one collected bucket
    * (maxBucketSize · dl · 8 bytes) must fit a task, the same sizing
    * rule as the vector carry-through. Multi-band duplicate pairs
    * verify redundantly (bounded by `bands`) and dedup after the tau
    * filter, where the relation is smallest.
    *
    * Exact, not approximate: intersections are over the full distinct
    * shingle-hash sets (arrays are distinct by construction), so
    * jaccard values are bit-identical to the join formulation
    * (OpsSpec pins them against brute force).
    */
  def minhashDedup(
      df: DataFrame,
      id: Column,
      text: Column,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      tau: Double = 0.6,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // raw (non-distinct) shingles: min() is duplicate-insensitive and
    // collect_set dedups inside the ONE groupBy — the separate
    // corpus-wide distinct exchange the join formulation needed for
    // its set sizes is gone (sz = size of the collected set)
    val sh = shingles(df, id, text, shingleSize, distinct = false)
    val aggs = (0 until numHashes).map(i =>
      min(Hashing.minhashPerm(i, col("sh"))).as(s"mh$i")) :+
      collect_set(col("sh")).as("sharr")
    val sig = sh.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .withColumn("sz", size(col("sharr")).cast("long"))
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { bIdx =>
      struct(lit(bIdx).as("band"),
        Hashing.hash32(concat_ws(",",
          (bIdx * rows until (bIdx + 1) * rows).map(i => col(s"mh$i").cast("string")): _*))
          .as("bucket"))
    }
    sig
      .select(col("id"), col("sz"), col("sharr"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("sz"), col("sharr"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col("id"), col("sz"), col("sharr"))).as("ms"))
      .filter(size(col("ms")).between(2, maxBucketSize))
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (size(array_intersect(col("a.sharr"), col("b.sharr"))).cast("double") /
          (col("a.sz") + col("b.sz") -
            size(array_intersect(col("a.sharr"), col("b.sharr")))))
          .as("jaccard"))
      .filter(col("jaccard") >= tau)
      .distinct()
  }

  /** 32-bit SimHash per document: bit b of the signature is the sign
    * of Σ_terms tf * (bit_b(hash(term)) ? +1 : -1).
    */
  def simhash(df: DataFrame, id: Column, text: Column): DataFrame = {
    val tf = df.select(id.as("id"),
      explode(split(lower(text), Tokenizer.SplitPattern)).as("term"))
      .filter(length(col("term")) >= Tokenizer.MinLen)
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("h", Hashing.hash32(col("term")))
    val bitSums = (0 until 32).map(bit =>
      sum(when(shiftright(col("h"), bit) % 2 === 1, col("tf"))
        .otherwise(-col("tf"))).as(s"s$bit"))
    val sums = tf.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 32)
      .map(bit => when(col(s"s$bit") > 0, lit(1L << bit)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("id"), sig.as("simhash"))
  }

  /** SimHash near-duplicate PAIRS via a banded bit-chunk join: the
    * 32-bit signature splits into `bands` equal chunks; documents
    * sharing any chunk value become candidates; exact Hamming
    * distance (bit_count of xor) <= maxDist verifies.
    *
    * LOSSLESS for maxDist < bands (pigeonhole: <= maxDist differing
    * bits touch <= maxDist chunks, so at least one chunk matches
    * exactly) — so with the default 4 bands / distance 3 this finds
    * EVERY qualifying pair while only ever joining on chunk equality,
    * never all-pairs. This is the pair-finding stage the signature
    * alone can't provide at scale.
    */
  def simhashPairs(
      df: DataFrame,
      id: Column,
      text: Column,
      maxDist: Int = 3,
      bands: Int = 4): DataFrame = {
    require(maxDist < bands, "banded join is only lossless for maxDist < bands")
    val sig = simhash(df, id, text)
    val bits = 32 / bands
    val mask = (1L << bits) - 1
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * bits).bitwiseAND(lit(mask)).as("chunk"))
    }
    // Pair generation is a grouped double-explode, not a chunk-keyed
    // self-join (r6, guide §2.4): the join pasted the whole signature
    // subplan (tf + bit-sum aggregations over the corpus) into BOTH
    // sides — two full signature computations — while a chunk-keyed
    // self-join lands every chunk's members in one task anyway. Same
    // shape as minhashDedup / Similarity.lshCosinePairsMulti. Exact
    // Hamming verify before the dedup exchange so the distinct runs
    // over the smallest relation.
    val chunks = sig
      .select(col("id"), col("simhash"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.band").as("band"),
        col("bb.chunk").as("chunk"))
    chunks
      .groupBy(col("band"), col("chunk"))
      .agg(collect_list(struct(col("id"), col("simhash"))).as("ms"))
      .filter(size(col("ms")) >= 2)
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct() // a close pair matches in several bands
  }

  /** Exact n-gram Jaccard similarity join over the full corpus:
    * shared-shingle equi-join prefilter (only pairs with ≥1 common
    * shingle are materialized), then exact verification. Stop-shingle
    * guard caps join fan-out for boilerplate n-grams.
    */
  def ngramJaccardJoin(
      df: DataFrame,
      id: Column,
      text: Column,
      n: Int = 3,
      tau: Double = 0.5,
      maxShingleDf: Int = 1000): DataFrame = {
    val sh0 = shingles(df, id, text, n).select(col("id"), col("sh"))
    // Pair generation is a grouped double-explode per shingle (r6,
    // guide §2.4), fusing the stop-shingle guard into the SAME
    // groupBy as a free size filter: the former rare-filter semi-join
    // + shingle-keyed self-join pasted the shingle subplan into four
    // copies (four corpus tokenize+hash passes) — a shingle-keyed
    // self-join lands a shingle's members in one task anyway, so the
    // fan-out profile is unchanged (the df cap bounds the m² explode
    // exactly as before). sh0 is now consumed twice (pair pass +
    // size pass), the same residual-recompute tradeoff as
    // HeavyHitters' two passes.
    val grp = sh0.groupBy(col("sh")).agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxShingleDf))
    val inter = grp
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = sh0.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= tau)
  }
}
