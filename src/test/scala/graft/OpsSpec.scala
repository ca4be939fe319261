package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Similarity, TextOps}

/** Training-data ops: planted-case correctness. */
class OpsSpec extends SparkSpec {

  import scala.jdk.CollectionConverters._

  private lazy val docsDF = {
    import spark.implicits._
    Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 0
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // near dup of 0
      (3L, "completely different words here nothing shared whatsoever really"),
      (4L, "theta eta zeta epsilon delta gamma beta alpha"), // same set, reversed
      (5L, "mid overlap alpha beta gamma something else entirely now"))
      .toDF("doc_id", "text")
  }

  test("exact dedup finds the planted duplicate group") {
    val groups = Dedup.exact(docsDF, col("doc_id"), col("text")).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("n") == 2 && groups(0).getAs[Long]("keep_id") == 0L)
  }

  test("fingerprint dedup is word-order insensitive") {
    val fps = docsDF.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(0L) == fps(1L) && fps(0L) == fps(4L)) // reversal collapses
    assert(fps(0L) != fps(2L) && fps(0L) != fps(3L))
  }

  test("minhash LSH surfaces near-dups, verified jaccard is exact") {
    val pairs = Dedup.minhashDedup(docsDF, col("doc_id"), col("text"),
      shingleSize = 1, numHashes = 16, bands = 8, tau = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // exact dups and the reversal must collide in every band
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) == 1.0)
    assert(pairs.contains((0L, 4L)) && pairs((0L, 4L)) == 1.0)
    // near-dup 0-2: unigram jaccard = 7/9
    pairs.get((0L, 2L)).foreach(j => assert(math.abs(j - 7.0 / 9) < 1e-12))
    // unrelated docs must not pair
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("minhash hot-bucket cap drops oversized buckets in the carry-through plan") {
    import spark.implicits._
    // 10 identical docs collide in every band: with the cap below the
    // bucket size the r6 grouped-explode formulation must emit NO
    // pairs (the capped bucket row is filtered before the m² explode);
    // with the cap at the bucket size, all 45 exact-dup pairs surface
    val docs = (0L until 10L).map(i => (i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    def run(cap: Int) = Dedup.minhashDedup(docs, col("doc_id"), col("text"),
      shingleSize = 1, numHashes = 16, bands = 4, tau = 0.5,
      maxBucketSize = cap).collect()
    assert(run(5).isEmpty, "cap below bucket size must suppress the bucket")
    val full = run(10).map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(full.length == 45 && full.forall(_._2 == 1.0))
  }

  test("minhash verify is exact under a planted corpus-wide boilerplate shingle") {
    import spark.implicits._
    // every doc shares the same boilerplate token (max-df shingle);
    // single-row bands make pairs collide whenever boilerplate is both
    // docs' min for one permutation, and the carry-through verify must
    // stay exact on every pair that surfaces
    val texts = (0L until 40L).map { i =>
      i -> s"boilerplate ${(0 until 6).map(j => s"tok${i}x$j").mkString(" ")}"
    }.toMap
    val docs = texts.toSeq.toDF("doc_id", "text")
    val got = Dedup.minhashDedup(docs, col("doc_id"), col("text"),
      shingleSize = 1, numHashes = 16, bands = 16, tau = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(got.nonEmpty, "boilerplate collisions must surface pairs")
    def tokens(id: Long) = texts(id).split(" ").toSet
    got.foreach { case ((a, b), j) =>
      val expected = (tokens(a) & tokens(b)).size.toDouble / (tokens(a) | tokens(b)).size
      assert(expected == 1.0 / 13)
      assert(math.abs(j - expected) < 1e-12, s"pair ($a, $b)")
    }
  }

  test("simhash: identical sets equal, near-dups close, distinct far") {
    val sh = Dedup.simhash(docsDF, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sh(0L) == sh(1L) && sh(0L) == sh(4L))
    assert(hamming(sh(0L), sh(2L)) <= 10)
    assert(hamming(sh(0L), sh(3L)) > hamming(sh(0L), sh(2L)))
  }

  test("simhash banded pair join == brute force for maxDist < bands") {
    val sigs = Dedup.simhash(docsDF, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h)).toSet
    val got = Dedup.simhashPairs(docsDF, col("doc_id"), col("text"),
      maxDist = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected, "banding must be lossless at maxDist < bands")
    assert(expected.nonEmpty, "planted dups must produce at least one pair")
  }

  test("ngram jaccard join matches a local brute-force computation") {
    val got = Dedup.ngramJaccardJoin(docsDF, col("doc_id"), col("text"), n = 2, tau = 0.01)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val local = docsDF.collect().map(r => (r.getLong(0),
      graft.tokenize.Tokenizer.SplitPattern.r.split(r.getString(1).toLowerCase)
        .filter(_.length >= 3).sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet))
    for {
      (ia, sa) <- local
      (ib, sb) <- local
      if ia < ib
    } {
      val inter = (sa intersect sb).size
      if (inter > 0) {
        val j = inter.toDouble / (sa.size + sb.size - inter)
        if (j >= 0.01)
          assert(math.abs(got((ia, ib)) - j) < 1e-12, s"pair ($ia,$ib)")
        else assert(!got.contains((ia, ib)))
      } else assert(!got.contains((ia, ib)))
    }
  }

  private lazy val embDF = {
    import spark.implicits._
    // deterministic vectors: v(i)[d] = sin-free pure function; v(1) = 2*v(0)
    def vec(i: Int): Seq[Float] =
      (0 until 8).map(d => ((i * 31 + d * 17) % 13 - 6).toFloat / 7f)
    (Seq(0, 2, 3, 4, 5).map(i => (i.toLong, vec(i))) :+
      (1L, vec(0).map(_ * 2f))) // colinear with 0 → cosine 1
      .toDF("vec_id", "embedding")
  }

  test("cosine top-k: colinear vector ranks first with cosine 1") {
    val top = Similarity.cosineTopK(embDF, col("vec_id"), col("embedding"), 0L, 3)
      .collect()
    assert(top(0).getLong(0) == 1L && math.abs(top(0).getDouble(1) - 1.0) < 1e-12)
    // matches a local brute force over all candidates
    val local = embDF.collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
      .filter(_._1 != 0L)
    val q = local.find(_._1 == 1L).get._2.map(_ / 2) // = vec(0)
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = local.map { case (id, v) => (id, cos(v, q)) }
      .sortBy { case (id, c) => (-c, id) }.take(3)
    assert(top.map(_.getLong(0)).toSeq == expected.map(_._1).toSeq)
    top.zip(expected).foreach { case (g, (_, c)) =>
      assert(math.abs(g.getDouble(1) - c) < 1e-9)
    }
  }

  test("LSH cosine: colinear vectors share a bucket and verify at cos=1") {
    val pairs = Similarity.lshCosinePairsMulti(embDF, col("vec_id"), col("embedding"),
      dim = 8, tables = 1, planesPerTable = 6, tau = 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)), "colinear pair must share every hyperplane side")
  }

  test("IVF with every list probed equals brute-force kNN; partial probe is a subset") {
    import spark.implicits._
    // 40 deterministic 8-dim vectors, probes = ids 0 and 1
    def vec(i: Int): Seq[Float] =
      (0 until 8).map(d => ((i * 31 + d * 17) % 13 - 6).toFloat / 7f)
    val emb = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("pid"), col("embedding").as("pvec"))
    val numCents = emb.filter(col("vec_id") % 8 === 0).count().toInt

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("pid"), col("id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    // exhaustive probing == knnJoin (same ordering contract)
    val exhaustive = rows(Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
      probes, stride = 8L, nProbe = numCents, k = 5))
    val brute = Similarity.knnJoin(emb, col("vec_id"), col("embedding"),
      probeMaxId = 2L, k = 5)
      .select(col("pid"), col("id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exhaustive == brute)

    // partial probing returns ranked results per probe drawn only from
    // probed lists — every hit must also appear in the exhaustive pool
    val partial = Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
      probes, stride = 8L, nProbe = 2, k = 5)
      .select(col("pid"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pool = exhaustive.map(t => (t._1, t._2)) ++
      brute.map(t => (t._1, t._2)) // k=5 exhaustive set
    assert(partial.nonEmpty)
    // recall@5 with 2 of 5 lists probed on this fixture: at least half
    val recall = partial.count(pool.contains).toDouble / brute.size
    assert(recall >= 0.5, s"recall@5 was $recall")
  }

  test("persisted IVF index: probe over read-back lists equals the in-memory path") {
    import spark.implicits._
    def vec(i: Int): Seq[Float] =
      (0 until 8).map(d => ((i * 31 + d * 17) % 13 - 6).toFloat / 7f)
    val emb = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("pid"), col("embedding").as("pvec"))

    val dir = tempDir("ivf")
    Similarity.ivfWrite(emb, col("vec_id"), col("embedding"), stride = 8L, dir)
    val (assigned, cents) = Similarity.ivfRead(spark, dir)

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("pid"), col("id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val persisted = rows(Similarity.ivfTopKAssigned(assigned, cents, probes,
      nProbe = 2, k = 5))
    val inMemory = rows(Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
      probes, stride = 8L, nProbe = 2, k = 5))
    assert(persisted == inMemory && persisted.nonEmpty)

    // the serving path (static cid pruning pushed into the lists scan)
    // must return exactly the same rows as the unpruned persisted path
    val pruned = rows(Similarity.ivfTopKPruned(spark, dir, probes,
      nProbe = 2, k = 5))
    assert(pruned == persisted)

    // an explicit cid filter on the read-back lists prunes at the
    // partition-directory level
    val plan = assigned.filter(col("cid").isin(0L, 8L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"))
  }

  test("hybrid fusion: normalized bounds, alpha weighting, missing-side zero") {
    import spark.implicits._
    import graft.ops.Hybrid
    val docs = Seq(
      (0L, "spark query engine spark"),   // strongest keyword match
      (1L, "spark query"),
      (2L, "nothing relevant here"),
      (3L, "query engine once")
    ).toDF("doc_id", "text")
    def vec(i: Int): Seq[Float] =
      (0 until 4).map(d => ((i * 13 + d * 7) % 11 - 5).toFloat / 6f)
    // ids 0,1,3,9: doc 2 has no embedding; 9 has no text match
    val emb = (Seq(0, 1, 3, 9).map(i => (i.toLong, vec(i))) :+
      (7L, vec(3).map(_ * 3f))) // probe, colinear with 3
      .toDF("vec_id", "embedding")

    val out = Hybrid.hybridTopK(docs, col("doc_id"), col("text"),
      emb, col("vec_id"), col("embedding"),
      "spark query engine", probeId = 7L, alpha = 0.6, n = 10, k = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap

    out.values.foreach { case (b, c, f) =>
      assert(b >= 0.0 && b <= 1.0 && c >= 0.0 && c <= 1.0)
      assert(math.abs(f - (0.6 * b + 0.4 * c)) < 1e-12)
    }
    // strongest keyword match normalizes to 1.0 on the bm25 side
    assert(out(0L)._1 == 1.0)
    // colinear vector tops the cosine side
    assert(out(3L)._2 == 1.0)
    // doc 2 never retrieved (no query term, no embedding near probe —
    // it HAS no embedding at all, so only the bm25 list could surface
    // it, and it matches no term)
    assert(!out.contains(2L))
    // id 9: vector-only hit — bm25 side must be exactly 0
    assert(out.contains(9L) && out(9L)._1 == 0.0)
  }

  test("hybrid fusion edge cases: empty keyword side, degenerate one-element lists") {
    import spark.implicits._
    import graft.ops.Hybrid
    val docs = Seq((0L, "alpha beta"), (1L, "gamma delta")).toDF("doc_id", "text")
    def vec(i: Int): Seq[Float] =
      (0 until 4).map(d => ((i * 13 + d * 7) % 11 - 5).toFloat / 6f)
    val emb = Seq((0L, vec(0)), (1L, vec(1)), (7L, vec(0).map(_ * 2f)))
      .toDF("vec_id", "embedding")

    // no query term matches any doc → keyword list empty → results are
    // vector-only, bm25_norm exactly 0, fused = (1-alpha) * cos_norm
    val vOnly = Hybrid.hybridTopK(docs, col("doc_id"), col("text"),
      emb, col("vec_id"), col("embedding"),
      "zzznotaterm", probeId = 7L, alpha = 0.6, n = 10, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(vOnly.nonEmpty)
    vOnly.foreach { case (_, b, c, f) =>
      assert(b == 0.0 && math.abs(f - 0.4 * c) < 1e-12)
    }
    // id 0 is colinear with the probe → cosine side normalizes it to 1
    assert(vOnly.find(_._1 == 0L).get._3 == 1.0)

    // a one-element list has max == min → that side normalizes to 1.0
    // (the max>min guard), never NaN from a 0/0 division
    val oneHit = Hybrid.hybridTopK(docs, col("doc_id"), col("text"),
      emb, col("vec_id"), col("embedding"),
      "alpha", probeId = 7L, alpha = 0.6, n = 10, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(3)))
    val kwHit = oneHit.find(_._1 == 0L).get
    assert(kwHit._2 == 1.0 && !kwHit._3.isNaN)
    assert(oneHit.forall(t => !t._3.isNaN))
  }

  test("language ID on real sentences") {
    assert(TextOps.langId("the quick brown fox is in the garden with a dog") == "en")
    assert(TextOps.langId("der hund ist nicht mit der katze und das haus") == "de")
    assert(TextOps.langId("le chat est dans la maison et les oiseaux") == "fr")
    assert(TextOps.langId("el perro es grande y los gatos no son una cosa") == "es")
    assert(TextOps.langId("xyzzy qwerty plugh") == "und")
    // column twin agrees — including the regexp_count boundary cases
    // (r6: markers count via non-letter lookarounds, which must see
    // exactly the `[^\p{L}]+`-split tokens): digits are non-letters
    // (so break tokens), accents are letters (so extend them),
    // adjacent markers, marker-as-substring, repeated markers, and
    // uppercase folding
    import spark.implicits._
    val texts = Seq("the cat is on the mat", "der hund und die katze",
      "le chat et la souris", "el gato y los perros", "zzz qqq",
      "the5and thé theory other12the THE the",
      "lesles les le la", "", "und7und a-the-b")
    val got = texts.toDF("text").select(TextOps.langIdCol(col("text"))).collect()
      .map(_.getString(0))
    assert(got.toSeq == texts.map(TextOps.langId))
  }

  test("quality metrics hand-check") {
    import spark.implicits._
    val m = TextOps.qualityMetrics(
      Seq((1L, "The cat SAT on, the mat!")).toDF("id", "t"), col("id"), col("t"))
      .collect()(0)
    assert(m.getAs[Long]("n_chars") == 24)
    assert(m.getAs[Long]("n_ws_tokens") == 6)
    // stop words among ws tokens (lowercased): the, on(,)?  "on," is not
    // in the list (punctuation attached) → the, the = 2/6
    assert(math.abs(m.getAs[Double]("stopword_ratio") - 2.0 / 6) < 1e-6)
    assert(math.abs(m.getAs[Double]("upper_ratio") - 4.0 / 24) < 1e-6) // T,SAT
    assert(math.abs(m.getAs[Double]("punct_ratio") - 2.0 / 24) < 1e-6) // , !
  }

  test("rolling hash: deterministic, order-sensitive") {
    assert(TextOps.rollingHash("abc") == TextOps.rollingHash("abc"))
    assert(TextOps.rollingHash("abc") != TextOps.rollingHash("acb"))
    assert(TextOps.rollingHash("") == 0L)
    assert(TextOps.rollingHash("a") == 'a'.toLong)
  }

  test("multimodal plumbing: stub decode features are well-formed") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(0L, "image", Array.fill[Byte](64)(7), 16, 16, 0),
      Multimodal.MediaRow(1L, "audio", (0 until 256).map(_.toByte).toArray, 0, 0, 4000),
      Multimodal.MediaRow(2L, "video", Array.tabulate[Byte](128)(i => (i % 2).toByte), 32, 32, 2500))
      .toDS()
    val feats = Multimodal.extractFeatures(spark, media, frameSampleEvery = 1000)
      .collect().sortBy(_.media_id)
    assert(feats(0).byte_entropy == 0.0) // constant bytes → zero entropy
    assert(math.abs(feats(1).byte_entropy - 8.0) < 1e-9) // uniform 256 → 8 bits
    assert(math.abs(feats(2).byte_entropy - 1.0) < 1e-9) // two equiprobable
    assert(feats(0).frames_sampled == 1) // image
    assert(feats(1).frames_sampled == 4) // 4000/1000
    assert(feats(2).frames_sampled == 2) // 2500/1000
    assert(feats.forall(_.feature.length == 8))
  }

  test("multimodal resize: dims/bytes updated, deterministic, non-image passthrough") {
    import spark.implicits._
    // 4x4 gradient raster: pixel(y, x) = y*4 + x
    val media = Seq(
      Multimodal.MediaRow(0L, "image", Array.tabulate[Byte](16)(_.toByte), 4, 4, 0),
      Multimodal.MediaRow(1L, "audio", Array.fill[Byte](32)(5), 0, 0, 1000))
      .toDS()
    val out = Multimodal.resize(spark, media, newW = 2, newH = 2)
      .collect().sortBy(_.media_id)
    // nearest-neighbor 4x4 -> 2x2 samples pixels (0,0),(0,2),(2,0),(2,2)
    assert(out(0).width == 2 && out(0).height == 2)
    assert(out(0).bytes.toSeq == Seq[Byte](0, 2, 8, 10))
    // audio rows pass through untouched
    assert(out(1).width == 0 && out(1).bytes.length == 32)
    // deterministic: second run bit-identical
    val again = Multimodal.resize(spark, media, 2, 2).collect().sortBy(_.media_id)
    assert(again(0).bytes.toSeq == out(0).bytes.toSeq)
    // identity resize preserves the raster
    val id4 = Multimodal.resize(spark, media, 4, 4).collect().sortBy(_.media_id)
    assert(id4(0).bytes.toSeq == (0 until 16).map(_.toByte))
  }

  test("BMP codec: byte-exact round-trip, real feature/resize kernels, strict fallback") {
    import spark.implicits._
    import Multimodal.BmpCodec
    // 5x3 raster with distinct pixels: width 5 forces row padding to 8
    val w = 5; val h = 3
    val raster = Array.tabulate[Byte](w * h)(i => (i * 7 + 3).toByte)
    val bmp = BmpCodec.encode(w, h, raster)
    // decode inverts encode byte-exactly (dims from the header)
    assert(BmpCodec.decode(bmp) match {
      case Some((dw, dh, r)) => dw == w && dh == h && r.toSeq == raster.toSeq
      case None => false
    })
    // strictness: a flipped magic byte falls out of the codec path
    val broken = bmp.clone(); broken(0) = 'X'.toByte
    assert(BmpCodec.decode(broken).isEmpty)
    // truncated payload rejected (declared size no longer matches)
    assert(BmpCodec.decode(bmp.dropRight(1)).isEmpty)
    // non-identity palette rejected: pixels would be palette INDICES,
    // not luminance — an inverted-palette BMP must fall back to the
    // stub, never report index statistics as pixel statistics
    val tinted = bmp.clone()
    tinted(54 + 10 * 4 + 1) = 99.toByte // entry 10's G channel != 10
    assert(BmpCodec.decode(tinted).isEmpty)
    // biHeight = Int.MinValue: abs() stays negative and would defeat
    // the bounds check — must reject like any malformed header
    // (ADVICE r5)
    val minH = bmp.clone()
    val hb = java.nio.ByteBuffer.wrap(minH)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hb.putInt(22, Int.MinValue) // biHeight field offset
    assert(BmpCodec.decode(minH).isEmpty)

    // extractFeatures computes over the DECODED raster for BMP rows
    // (metadata dims deliberately wrong: the header wins), over raw
    // file bytes for non-BMP rows
    val media = Seq(
      Multimodal.MediaRow(0L, "image", bmp, 999, 999, 0),
      Multimodal.MediaRow(1L, "image", broken, 999, 999, 0)).toDS()
    val feats = Multimodal.extractFeatures(spark, media).collect().sortBy(_.media_id)
    assert(feats(0).n_bytes == (w * h).toLong) // pixels, not file bytes
    val rasterMean = raster.map(_ & 0xff).sum.toDouble / (w * h)
    assert(math.abs(feats(0).mean_byte - rasterMean) < 1e-9)
    assert(feats(1).n_bytes == broken.length.toLong) // stub fallback

    // resize decodes, resamples at TRUE dims, re-encodes a valid BMP
    val out = Multimodal.resize(spark, media, newW = 2, newH = 2)
      .collect().sortBy(_.media_id)
    val want = Seq(raster(0), raster(2), raster(w), raster(w + 2)) // rows 3/2=1, cols 5/2=2
    assert(BmpCodec.decode(out(0).bytes) match {
      case Some((2, 2, r)) => r.toSeq == want
      case _ => false
    })
    assert(out(0).width == 2 && out(0).height == 2)
    // non-BMP image row keeps the raw-grid fallback (metadata dims)
    assert(out(1).bytes.length == 4 && BmpCodec.decode(out(1).bytes).isEmpty)
  }

  test("redact: typed placeholders, rule order, replace-all; counts per rule") {
    import spark.implicits._
    val txt = "mail a.b+x@ex-1.org or c@d.io, host 10.0.0.1, " +
      "call 555-123-4567, txn 99887766554, pin 123456, short 12345"
    val row = Seq(txt).toDF("t")
      .select(Seq(TextOps.redact(col("t")).as("r")) ++ TextOps.piiCounts(col("t")): _*)
      .head()
    val red = row.getString(0)
    assert(red.contains("<EMAIL>") && red.contains("<IP>") &&
      red.contains("<PHONE>") && red.contains("<NUM>"))
    assert(!red.matches(".*\\d{6,}.*"), s"no long digit run survives: $red")
    assert(red.startsWith("mail <EMAIL> or <EMAIL>,"), "replace-all, not first-match")
    // independent pre-redaction counts: 2 emails, 1 ip, 2 phone-shaped
    // (the 10-digit txn run also matches the phone rule), 3 long runs?
    // no: 99887766554 and 123456 -> 2 long runs (12345 is 5 digits)
    assert((row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4)) ==
      ((2L, 1L, 2L, 2L)))
  }

  test("slidingChunks: exact window geometry, clamped tail, empty docs vanish") {
    import spark.implicits._
    val docs = Seq(
      (0L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 words
      (1L, "a b"),                                    // < size: one chunk
      (2L, "!!! ???")                                 // 0 words: no rows
    ).toDF("doc_id", "text")
    val got = TextOps.slidingChunks(docs, col("doc_id"), col("text"), size = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // step 3: chunks start at words 1, 4, 7, 10 -> ceil(6/3)=2 extra
    assert(got == Seq(
      (0L, 0L, "w1 w2 w3 w4", 4L),
      (0L, 1L, "w4 w5 w6 w7", 4L),
      (0L, 2L, "w7 w8 w9 w10", 4L),
      (1L, 0L, "a b", 2L)), s"got $got")
  }
}
