package graft

import graft.gen.TranscriptGen
import graft.index.{IndexBuilder, Varbyte}
import graft.index.SegmentIO.{PostingBlock, ResidentShard}
import graft.query.{Bm25, LocalIndex, LocalOracle, ShardSearch, Wand}

/** The shard-search kernel's one heap per call: `ShardSearch.searchShards`
  * searches a run of shards in ascending order into one bounded top-k
  * heap, so the k-th best of the earlier shards prunes the later ones.
  * It must return exactly what a fresh heap per shard followed by
  * `ShardSearch.merge` returns — equal scores at the k-th place across a
  * shard boundary included, where the lower doc_id wins.
  */
class ShardSearchSpec extends SparkSpec {

  private type Hits = Seq[(Long, Double)]

  /** `q` over `shards` in one heap, and the merge of one heap per shard. */
  private def oneHeapAndMerged(q: ShardSearch.Query, shards: Array[Int])(
      search: (ShardSearch.Query, Array[Int]) => Array[(Long, Double)]): (Hits, Hits) =
    (search(q, shards).toSeq,
      ShardSearch.merge(shards.toSeq.map(sh => search(q, Array(sh))), q.k).toSeq)

  test("Wand.TopK keeps the earliest of equal scores; canEnter is strict when full") {
    val top = new Wand.TopK(2)
    assert(top.canEnter(0.5, 0.5) && !top.canEnter(0.4, 0.5)) // not full: >= minScore
    Seq(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 0.5).foreach { case (d, s) => top.offer(d, s, 0.0) }
    assert(top.full && top.worst == 1.0)
    assert(!top.canEnter(1.0, 0.0) && top.canEnter(1.0 + 1e-9, 0.0)) // full: > worst
    assert(top.result().toSeq == Seq(1L -> 1.0, 2L -> 1.0))
    val better = new Wand.TopK(2)
    Seq(1L -> 1.0, 2L -> 1.0, 3L -> 2.0).foreach { case (d, s) => better.offer(d, s, 0.0) }
    assert(better.result().toSeq == Seq(3L -> 2.0, 1L -> 1.0)) // the later equal one goes

    val none = new Wand.TopK(0)
    none.offer(1L, 1.0, 0.0)
    assert(!none.canEnter(9.0, 0.0) && none.result().isEmpty)
    val cut = new Wand.TopK(3)
    Seq(1L -> 0.2, 2L -> 0.7, 3L -> 0.5).foreach { case (d, s) => cut.offer(d, s, 0.5) }
    assert(cut.result().toSeq == Seq(2L -> 0.7, 3L -> 0.5))
  }

  test("Wand.TopK: the top k by (score desc, doc_id asc) of docs offered in doc_id order") {
    val rnd = new scala.util.Random(17)
    for (k <- Seq(1, 2, 5, 64); n <- Seq(0, 1, 7, 300)) {
      // few distinct scores, so ties are everywhere
      val offers = (0 until n).map(d => d.toLong -> rnd.nextInt(6) * 0.25)
      val top = new Wand.TopK(k)
      offers.foreach { case (d, s) => top.offer(d, s, 0.25) }
      val expected = offers.filter(_._2 >= 0.25).sortBy { case (d, s) => (-s, d) }.take(k)
      assert(top.result().toSeq == expected, s"k=$k n=$n")
    }
  }

  // A hand-made index of 3 shards × 4 docs: doc_id = shard × 4 + offset.
  // Docs 3 (shard 0) and 4 (shard 1) score the same on every query, and
  // doc 4's block shares its bounds with doc 5 (tf 1 but a shorter dl),
  // so its block bound passes its score and the kernel offers it.
  private val DocsPerShard = 4
  private val dls = Array(10, 10, 10, 10, 10, 8, 10, 10, 10, 10, 10, 10)
  private val avgdl = dls.sum.toDouble / dls.length
  private val postings: Map[String, Seq[(Long, Int)]] = Map(
    "a" -> Seq(1L -> 3, 3L -> 2, 4L -> 2, 5L -> 1, 9L -> 1),
    "b" -> Seq(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 1, 9L -> 1, 11L -> 2))

  private def handShard(sh: Int): ResidentShard = {
    val base = sh.toLong * DocsPerShard
    val terms = postings.map { case (t, ps) =>
      val mine = ps.filter { case (d, _) => d / DocsPerShard == sh }
      // blocks of two postings, so block-max bounds and skipping both act
      t -> mine.grouped(2).zipWithIndex.map { case (g, bid) =>
        PostingBlock(t, bid, g.length, g.head._1, g.last._1,
          Varbyte.encodeDeltas(g.map(_._1).toArray), Varbyte.encodeInts(g.map(_._2).toArray),
          g.map(_._2).max, g.map(p => dls(p._1.toInt)).min, g.map(_._2.toLong).sum, sh)
      }.toArray
    }.filter(_._2.nonEmpty)
    ResidentShard(Array(dls.slice(base.toInt, base.toInt + DocsPerShard)),
      collection.mutable.HashMap.from(terms))
  }
  private val handShards = (0 until 3).map(handShard)

  private def handQuery(terms: Seq[String], k: Int, minScore: Double, conj: Boolean) =
    ShardSearch.Query(terms.sorted.map { t =>
      val ps = postings(t)
      val idf = Bm25.idf(dls.length, ps.length)
      ShardSearch.Term(t, idf,
        Bm25.boundScore(idf, ps.map(_._2).max, ps.map(p => dls(p._1.toInt)).min, avgdl))
    }.toArray, avgdl, DocsPerShard, DocsPerShard, k, minScore, conj)

  private def handSearch(q: ShardSearch.Query, shards: Array[Int]) =
    ShardSearch.searchIn(q, shards)(handShards)

  test("searchShards over a hand-made index: equal scores across a shard boundary keep the lower doc") {
    val all = Array(0, 1, 2)
    for (conj <- Seq(false, true)) {
      val terms = if (conj) Seq("a", "b") else Seq("a")
      // docs 3 (shard 0) and 4 (shard 1) tie for the 2nd place
      val three = handSearch(handQuery(terms, 3, 0.0, conj), all).toSeq
      assert(three.map(_._1) == Seq(1L, 3L, 4L) && three(1)._2 == three(2)._2, s"conj=$conj")
      val q = handQuery(terms, 2, 0.0, conj)
      val got = handSearch(q, all).toSeq
      assert(got == three.take(2), s"conj=$conj")
      assert(handSearch(q, Array(2, 1, 0)).toSeq == got) // a non-ascending list is sorted
      assert(handSearch(q, Array(0, 1, 1, 2, 0)).toSeq == got) // and de-duplicated
    }
    for (terms <- Seq(Seq("a"), Seq("b"), Seq("a", "b")); conj <- Seq(false, true);
         k <- 0 to 9; minScore <- Seq(0.0, 0.5, 1.0, 1.3)) {
      val q = handQuery(terms, k, minScore, conj)
      val (one, merged) = oneHeapAndMerged(q, Array(0, 1, 2))(handSearch)
      assert(one == merged, s"terms=$terms conj=$conj k=$k minScore=$minScore")
      assert(one.length <= k)
    }
  }

  test("searchShards over a built multi-shard index equals the merge of per-shard top-k and the oracle") {
    val (nConvs, seed) = (90L, 5L)
    val dir = tempDir("graft-shardsearch")
    IndexBuilder.build(spark, TranscriptGen.corpus(spark, nConvs, seed), dir,
      IndexBuilder.Config(blockSize = 8, numShards = 6, numPartitions = 4))
    val oracle = LocalOracle.buildCorpus(TranscriptGen.localCorpus(nConvs, seed))
    val s = ShardSearch.snapshot(dir)
    val search = (q: ShardSearch.Query, shards: Array[Int]) => ShardSearch.searchShards(q, s, shards)
    var nonEmpty = 0
    for ((text, conj) <- Seq("t00000 t00001" -> false, "t00003 needle2alpha t00010" -> false,
           "t00005" -> false, "t00000 t00002" -> true, "needle5alpha needle5beta" -> true);
         k <- Seq(0, 1, 7, 100000); minScore <- Seq(0.0, 1.5)) {
      val (q, routed) = ShardSearch.plan(s, text, k, minScore, conj).get
      val (one, merged) = oneHeapAndMerged(q, routed)(search)
      val expected = LocalOracle.topK(oracle, text, k, conj, minScore).map { case (d, sc) =>
        (d.docId, sc)
      }
      val tag = s"'$text' conj=$conj k=$k minScore=$minScore"
      assert(one == merged, tag)
      assert(one == expected, tag)
      assert(search(q, routed.reverse).toSeq == one, tag)
      if (one.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 20)
  }

  test("LocalIndex.retrieve with k = Int.MaxValue returns every match, as the oracle") {
    val (nConvs, seed) = (40L, 3L)
    val dir = tempDir("graft-shardsearch-all")
    IndexBuilder.build(spark, TranscriptGen.corpus(spark, nConvs, seed), dir,
      IndexBuilder.Config(blockSize = 8, numShards = 3, numPartitions = 2))
    val li = new LocalIndex(spark, dir)
    val oracle = LocalOracle.buildCorpus(TranscriptGen.localCorpus(nConvs, seed))
    for ((text, conj) <- Seq("t00000 t00001 t00004" -> false, "t00000 t00001" -> true)) {
      val expected = LocalOracle.topK(oracle, text, Int.MaxValue, conj).map { case (d, sc) =>
        (d.docId, sc)
      }
      assert(expected.length > 100, text) // a dense query: far more matches than a heap's first slots
      assert(li.retrieve(text, Int.MaxValue, conjunctive = conj).toSeq == expected, text)
    }
  }
}
