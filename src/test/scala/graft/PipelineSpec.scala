package graft

import graft.ann.Ann
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior tests for the approximate training-data pipeline paths that
  * the DuckDB oracle can't cover (LSH recall, SimHash, language ID,
  * multimodal plumbing). */
class PipelineSpec extends AnyFunSuite with CacheHygiene {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  import spark.implicits._

  val sfDir = "/root/testdata/sf0.01"

  test("MinHash-LSH finds the same pairs as exact jaccard (full recall here)") {
    val docs = Tables.documents(spark, sfDir)
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // exact: all pairs >= 0.8 trigram jaccard (known: 25 planted pairs)
    val sh = docs.select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("sh"))
    val exact = sh.as("x").join(sh.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        Dedup.jaccard(col("x.sh"), col("y.sh")).as("j"))
      .filter(col("j") >= 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "test data lost its planted near-dups?")
    assert(lsh == exact, s"LSH missed ${exact -- lsh}, extra ${lsh -- exact}")
  }

  test("LSH hot-bucket cap: generous cap is lossless, tight cap sheds the hot bucket") {
    // 30 identical docs (every band bucket holds all 30 → hot) plus one
    // small near-dup pair that lands in its own buckets
    val boiler = (0 until 30).map(i => (100L + i, "lorem ipsum dolor sit amet consectetur"))
    val pairA = (1L, "alpha beta gamma delta epsilon zeta eta theta")
    val pairB = (2L, "alpha beta gamma delta epsilon zeta eta iota")
    val docs = (boiler :+ pairA :+ pairB).toDF("doc_id", "text")
    val uncapped = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val generous = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5,
        maxBucket = 1000)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(generous == uncapped, "cap above every bucket size must be lossless")
    val tight = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5,
        maxBucket = 10)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(tight == Set((1L, 2L)),
      s"tight cap should keep only the small-bucket pair, got $tight")
  }

  test("duplicateClusters equals union-find on a chain + separate cluster") {
    // chain 1-2-3-4 (diameter 3: needs multi-round propagation) + pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val got = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("duplicateClustersLogD: identical components, O(log d) on a long chain") {
    // 24-hop chain: min-label needs 24+ rounds (maxIters=20 throws);
    // star contraction must close it comfortably within 8 alternations
    val chain = (1L until 25L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      Dedup.duplicateClusters(chain, maxIters = 20).collect()
    }
    val logd = Dedup.duplicateClustersLogD(chain, maxIters = 8)
      .as[(Long, Long)].collect().toMap
    assert(logd == (1L to 25L).map(_ -> 1L).toMap,
      s"chain must collapse to rep=1: $logd")
    // and on a mixed shape both regimes answer identically
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (7L, 5L), (5L, 9L)).toDF("a", "b")
    val a = Dedup.duplicateClusters(pairs).as[(Long, Long)].collect().toMap
    val b = Dedup.duplicateClustersLogD(pairs).as[(Long, Long)].collect().toMap
    assert(a == b, s"regimes disagree: $a vs $b")
  }

  test("duplicateClustersAuto warm start: failed probe's contraction equals cold star contraction") {
    // exactly the shape that trips the probe: a 40-hop chain (diameter
    // 40 >> probeIters) + a blob + an isolated pair + a component the
    // probe DOES fully collapse before the budget hits (diameter 2 —
    // its quotient node must come back unchanged via the coalesce arm)
    val pairs = ((1L until 41L).map(i => (i, i + 1)) ++
        Seq((100L, 101L), (100L, 102L), (101L, 102L), (200L, 201L),
          (300L, 301L), (301L, 302L))).toDF("a", "b")
    // fastPathMaxEdges = 0 pins the distributed warm-start path (the
    // default census gate would otherwise collect this small graph)
    val warm = Dedup.duplicateClustersAuto(pairs, maxIters = 20,
        probeIters = 4, fastPathMaxEdges = 0L).as[(Long, Long)].collect().toMap
    val cold = Dedup.duplicateClustersLogD(pairs, maxIters = 20)
      .as[(Long, Long)].collect().toMap
    assert(warm == cold, s"warm-start drifted: $warm vs $cold")
    val expected = (1L to 41L).map(_ -> 1L).toMap ++
      Map(100L -> 100L, 101L -> 100L, 102L -> 100L, 200L -> 200L,
        201L -> 200L, 300L -> 300L, 301L -> 300L, 302L -> 300L)
    assert(warm == expected, s"wrong components: $warm")
    // a converged probe still answers exactly (the fast path)
    val blob = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    assert(Dedup.duplicateClustersAuto(blob, probeIters = 8)
      .as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("duplicateClustersAuto small-quotient fast path equals the distributed loop") {
    // a chain FLEET (the p25/m19 regime: many >probe-diameter chains)
    // plus blobs, an isolated pair, and a probe-collapsible component —
    // quotient is tiny, so the default threshold takes the driver
    // union-find; fastPathMaxEdges = 0 pins the distributed loop
    val fleet = (0L until 12L).flatMap { c =>
      (0L until 40L).map(i => (c * 1000 + i, c * 1000 + i + 1))
    } ++ Seq((90001L, 90002L), (90001L, 90003L), (90002L, 90003L),
      (95000L, 95001L))
    val pairs = fleet.toDF("a", "b")
    val fast = Dedup.duplicateClustersAuto(pairs, maxIters = 40,
        probeIters = 4).as[(Long, Long)].collect().toMap
    // ~952 pairs > 200 forces the probe; the 4-round quotient (~100
    // edges) then fits — exercises the POST-quotient fast-path arm
    val quot = Dedup.duplicateClustersAuto(pairs, maxIters = 40,
        probeIters = 4, fastPathMaxEdges = 200L)
      .as[(Long, Long)].collect().toMap
    val loop = Dedup.duplicateClustersAuto(pairs, maxIters = 40,
        probeIters = 4, fastPathMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    val logd = Dedup.duplicateClustersLogD(pairs, maxIters = 40)
      .as[(Long, Long)].collect().toMap
    assert(fast == loop, "pre-probe fast path drifted from the loop")
    assert(quot == loop, "post-quotient fast path drifted from the loop")
    assert(fast == logd, "fast path drifted from cold star contraction")
    // every chain must collapse to its minimum id
    assert((0L until 12L).forall(c => fast(c * 1000 + 40) == c * 1000))
  }

  test("capped audio append: batch-fp-pruned census equals the full-store census") {
    // store: a hot fp (111, 20 clips), a normal shared fp (222), and 200
    // fps the batch never touches (the mass the prune must keep out of
    // the census shuffle); batch: one hot-fp clip, two on 222, one new
    val oldFps = ((0L until 20L).map(i => (i, 111L)) ++
      Seq((50L, 222L), (51L, 222L)) ++
      (0L until 200L).map(i => (300L + i, 3000L + i))).toDF("id", "fp")
    val newFps = Seq((9000L, 111L), (9001L, 222L), (9002L, 222L),
      (9003L, 7777L)).toDF("id", "fp")
    val cap = 6L
    val mat = new graft.dedup.Census.Materialised
    val got = try Multimodal.audioAppendPairsTracked(oldFps, newFps, 1, cap,
        mat)._1.as[(Long, Long, Long)].collect().toSet
      finally mat.release()
    // the round-13 form: census over the FULL old∪new store (explicit
    // cap ⇒ provably the same verdict per batch fp, since non-batch fps
    // generate no pairs either way)
    val fullCensus = oldFps.unionByName(newFps).groupBy(col("fp"))
      .agg(count(lit(1)).as("n")).filter(col("n").between(2, cap))
      .select("fp")
    val okNew = newFps.join(fullCensus, Seq("fp"))
    val okOld = oldFps.join(fullCensus, Seq("fp"))
    val nvo = okOld.join(okNew.withColumnRenamed("id", "nid"), Seq("fp"))
      .filter(col("id") =!= col("nid"))
      .select(least(col("id"), col("nid")).as("a"),
        greatest(col("id"), col("nid")).as("b"))
    val nvn = okNew.as("l").join(okNew.as("r"),
        col("l.fp") === col("r.fp") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
    val want = nvo.unionByName(nvn).groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("sw")).filter(col("sw") >= 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want, s"pruned census drifted: ${got -- want} / ${want -- got}")
    // the hot fp must be capped out, the normal fp fully paired
    assert(!got.exists(p => p._1 < 20L || p._1 == 9000L),
      s"hot-fp pairs leaked through the cap: $got")
    assert(got.map(p => (p._1, p._2)) == Set((50L, 9001L), (51L, 9001L),
      (50L, 9002L), (51L, 9002L), (9001L, 9002L)))
  }

  test("unionFindLocal: string ids use Spark's UTF-8 collation for the min rep") {
    // adversarial component {😀, Ａ}: the fullwidth A (U+FF21, UTF-8
    // EF BC A1) precedes 😀 (U+1F600, UTF-8 F0 9F 98 80) in Spark's
    // UTF-8 byte order, but Scala/Java String ordering compares UTF-16
    // code units (surrogate 0xD83D < 0xFF21) and would pick 😀 — the
    // fast path must agree with Spark's least(), not the JVM default
    val pairs = Seq(("😀", "Ａ"), ("zz", "yy")).toDF("a", "b")
    val local = Dedup.unionFindLocal(pairs)
      .as[(String, String)].collect().toMap
    val sparkMin = pairs.filter(col("b") === "Ａ")
      .select(least(col("a"), col("b"))).as[String].head()
    assert(sparkMin == "Ａ", s"Spark collation witness moved: $sparkMin")
    assert(local("😀") == "Ａ" && local("Ａ") == "Ａ",
      s"fast path used JVM string order, not UTF-8: $local")
    assert(local("zz") == "yy" && local("yy") == "yy")
    // and the distributed regime agrees end-to-end on string ids
    val dist = Dedup.duplicateClustersLogD(pairs)
      .as[(String, String)].collect().toMap
    assert(local == dist, s"string-id fast path drifted: $local vs $dist")
  }

  test("SimHash flags synthetic near-identical docs, not unrelated ones") {
    val base = (0 until 200).map(i => s"tok${i % 37}").mkString(" ")
    val nearDup = base.replace("tok1 ", "tok999 ") // few-token edit
    val other = (0 until 200).map(i => s"zzz${i * 7 % 91}").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "near-dup not flagged")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      "unrelated docs flagged")
  }

  test("simhashPairs degenerate corpus: default cap bounds pair generation") {
    // 10k identical docs collapse to ONE signature, so every 16-bit band
    // bucket holds all 10k ids — uncapped, the within-bucket self-join
    // would emit 4 bands x 10k^2/2 = 2e8 raw pairs before distinct. The
    // default census cap (1000) sheds those buckets, and the honest
    // near-dup pair in its own small buckets still pairs; this test
    // finishing in seconds IS the boundedness proof.
    val boiler = (0 until 10000).map(i => (1000L + i, "lorem ipsum dolor sit amet"))
    val base = (0 until 200).map(i => s"tok${i % 37}").mkString(" ")
    val nearDup = base.replace("tok1 ", "tok999 ")
    val docs = (boiler :+ ((1L, base)) :+ ((2L, nearDup))).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)),
      s"capped run should keep only the small-bucket pair, got ${pairs.size} pairs")
  }

  test("simhashPairsWithStats: capped loss is observable, clean runs report empty census") {
    // degenerate corpus: 2k identical docs -> every band bucket holds 2k
    // ids, all four shed by the default cap -> census must SAY so
    val boiler = (0 until 2000).map(i => (1000L + i, "lorem ipsum dolor sit amet"))
    val base = (0 until 200).map(i => s"tok${i % 37}").mkString(" ")
    val docs = (boiler :+ ((1L, base))).toDF("doc_id", "text")
    val (_, dropped, h) = Dedup.simhashPairsWithStats(docs, "doc_id", "text")
    val shed = dropped.as[(Int, Long, Long)].collect().toSeq
    h.unpersist()
    assert(shed.length == 4 && shed.forall(_._3 == 2000L),
      s"expected 4 shed buckets of 2000 docs, got $shed")
    // honest corpus under the same cap: nothing shed
    val clean = Tables.documents(spark, sfDir).limit(200)
    val (_, d2, h2) = Dedup.simhashPairsWithStats(clean, "doc_id", "text")
    val n2 = d2.count(); h2.unpersist()
    assert(n2 == 0, s"honest corpus must shed no buckets, got $n2")
    // maxBucket = 0 (uncapped): census statically empty even when hot
    val (_, d3, h3) = Dedup.simhashPairsWithStats(docs, "doc_id", "text",
      maxBucket = 0)
    val n3 = d3.count(); h3.unpersist()
    assert(n3 == 0, "uncapped run must report an empty census")
  }

  test("tracked dedup handles: invoking the handle empties the cache manager") {
    val docs = Tables.documents(spark, sfDir).limit(100)
    val (pairs, h1) = Dedup.minhashLshPairsTracked(docs, "doc_id", "text")
    pairs.write.format("noop").mode("overwrite").save() // terminal action
    assert(!spark.sharedState.cacheManager.isEmpty,
      "operator should have persisted plan-internal frames")
    h1.unpersist()
    assert(spark.sharedState.cacheManager.isEmpty,
      "minhash handle must drop every plan-internal persist")
    val (spairs, h2) = Dedup.simhashPairsTracked(docs, "doc_id", "text")
    spairs.write.format("noop").mode("overwrite").save()
    assert(!spark.sharedState.cacheManager.isEmpty)
    h2.unpersist()
    assert(spark.sharedState.cacheManager.isEmpty,
      "simhash handle must drop the signature persist")
    // CacheHandle uniformity (r8 verdict #6): the other persisting
    // operators return the same handle type with the same contract
    import graft.operators.LanguageModel
    val (buckets, h3) = LanguageModel.perplexityBucketsScalableTracked(
      docs, "doc_id", "text", "lang")
    buckets.write.format("noop").mode("overwrite").save()
    assert(!spark.sharedState.cacheManager.isEmpty,
      "scalable bucketing should persist its range-sorted projection")
    h3.unpersist()
    assert(spark.sharedState.cacheManager.isEmpty,
      "perplexityBucketsScalableTracked handle must drop its persist")
    val (nb, h4) = graft.operators.Classifier.naiveBayesScoresTracked(
      docs, "doc_id", "text", col("lang") === "en")
    nb.write.format("noop").mode("overwrite").save()
    assert(!spark.sharedState.cacheManager.isEmpty,
      "NB scoring should persist its vocabulary table")
    h4.unpersist()
    assert(spark.sharedState.cacheManager.isEmpty,
      "naiveBayesScoresTracked handle must drop the vocabulary persist")
    // the auto form's handle releases uniformly whichever regime ran
    val (auto, h5) = LanguageModel.perplexityBucketsAutoTracked(
      docs, "doc_id", "text", "lang")
    auto.write.format("noop").mode("overwrite").save()
    h5.unpersist()
    assert(spark.sharedState.cacheManager.isEmpty,
      "auto handle must leave no cached frames behind")
  }

  test("PNG codec: P6->PNG->P6 roundtrip is byte-identical; normalizeImages dispatches") {
    import graft.multimodal.Multimodal
    // a real-sized image exercising every byte value (not just the tiny
    // synthetic 5x5s): 64x48 RGB with pixel byte i = (i*7+3) % 256
    val w = 64; val h = 48
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val px = Array.tabulate(w * h * 3)(i => ((i * 7 + 3) % 256).toByte)
    val ppm = header ++ px
    val png = Multimodal.ppmToPng(ppm).get
    assert(Multimodal.isPng(png), "encoder must emit a signed PNG")
    val back = Multimodal.pngToPpm(png).get
    assert(java.util.Arrays.equals(back, ppm),
      "PNG roundtrip must be byte-identical (8-bit RGB decode is exact)")
    // features through the PNG path == features from the original
    assert(Multimodal.dhashPpm(back) == Multimodal.dhashPpm(ppm))
    assert(Multimodal.sobelEnergyPpm(back) == Multimodal.sobelEnergyPpm(ppm))
    // normalizeImages: PNG transcoded, P6 passed through, junk AND null
    // bytes dropped (a null cell is an undecodable row, not an NPE)
    val media = Seq((1L, png), (2L, ppm), (3L, "not an image".getBytes),
      (4L, null: Array[Byte])).toDF("media_id", "bytes")
    val normed = Multimodal.normalizeImages(media)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(normed.keySet == Set(1L, 2L),
      s"junk and null rows must drop: ${normed.keySet}")
    assert(java.util.Arrays.equals(normed(1L), ppm) &&
      java.util.Arrays.equals(normed(2L), ppm))
  }

  test("JPEG codec: real-size tolerance <= 2, dims exact, front door dispatches") {
    import graft.multimodal.Multimodal
    // real-sized images (64x48): one smooth gradient, one blocky texture
    val w = 64; val h = 48
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    def img(tex: Boolean) = header ++ Array.tabulate(w * h * 3) { i =>
      val p = i / 3; val x = p % w; val y = p / w
      (if (tex) ((x / 4 + y / 4) * 37 + i % 3 * 11) % 256
       else (x * 2 + y + i % 3) % 256).toByte
    }
    for (ppm <- Seq(img(false), img(true))) {
      val jpg = Multimodal.transcodeToJpeg(
          Seq((1L, ppm)).toDF("media_id", "bytes"), quality = 0.95f)
        .collect()(0).getAs[Array[Byte]](1)
      assert(Multimodal.isJpeg(jpg), "encoder must emit SOI-signed JPEG")
      val back = Multimodal.jpegToPpm(jpg).get
      // dims survive the lossy roundtrip exactly
      assert(Multimodal.ppmDims(back).get == ((w, h)))
      // at real sizes the m11 tolerances tighten to <= 2 (the gate's
      // 16/24 bounds are the measured worst case of <=5x5 images where
      // 4:2:0 subsampling dominates)
      val hd = java.lang.Long.bitCount(
        Multimodal.dhashPpm(ppm).get ^ Multimodal.dhashPpm(back).get)
      assert(hd <= 2, s"real-size dHash drift $hd > 2")
      val (r1, g1, b1) = Multimodal.meanRgbPpm(ppm).get
      val (r2, g2, b2) = Multimodal.meanRgbPpm(back).get
      val md = Seq(math.abs(r1 - r2), math.abs(g1 - g2), math.abs(b1 - b2)).max
      assert(md <= 2.0, s"real-size mean-RGB drift $md > 2")
      // the ingest front door dispatches JPEG alongside PNG and P6
      val png = Multimodal.ppmToPng(ppm).get
      val normed = Multimodal.normalizeImages(
          Seq((1L, jpg), (2L, png), (3L, ppm)).toDF("media_id", "bytes"))
        .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
      assert(normed.keySet == Set(1L, 2L, 3L))
      assert(java.util.Arrays.equals(normed(2L), ppm) &&
        java.util.Arrays.equals(normed(3L), ppm),
        "PNG/P6 paths must stay pixel-exact next to the JPEG branch")
      assert(Multimodal.ppmDims(normed(1L)).get == ((w, h)))
    }
  }

  test("MJPEG: frame walker splits exactly, real-size tolerance <= 2, frameStats dispatches") {
    import graft.multimodal.Multimodal
    // three REAL-SIZED distinct frames (64x48), encoded individually so
    // the expected frame boundaries are known exactly
    val w = 64; val h = 48
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val ppms = (0 until 3).map { f =>
      header ++ Array.tabulate(w * h * 3) { i =>
        val p = i / 3; val x = p % w; val y = p / w
        ((x * (f + 2) + y * 3 + i % 3 * 7 + f * 31) % 256).toByte
      }
    }
    val jpgs = ppms.map { ppm =>
      Multimodal.transcodeToJpeg(Seq((1L, ppm)).toDF("media_id", "bytes"),
        quality = 0.95f).collect()(0).getAs[Array[Byte]](1)
    }
    val mjpeg = jpgs.reduce(_ ++ _)
    // the walker must recover the EXACT encode boundaries — a naive FFD9
    // scan that split inside entropy data would disagree
    val frames = Multimodal.mjpegFrames(mjpeg)
    assert(frames.map(_._2) == jpgs.map(_.length),
      s"walked lengths ${frames.map(_._2)} != encoded ${jpgs.map(_.length)}")
    // per-frame decode: dims exact, real-size tolerance <= 2 (m11 bounds)
    frames.zip(ppms).foreach { case ((off, len), ppm) =>
      val back = Multimodal.jpegToPpm(
        java.util.Arrays.copyOfRange(mjpeg, off, off + len)).get
      assert(Multimodal.ppmDims(back).get == ((w, h)))
      val hd = java.lang.Long.bitCount(
        Multimodal.dhashPpm(ppm).get ^ Multimodal.dhashPpm(back).get)
      assert(hd <= 2, s"real-size frame dHash drift $hd > 2")
    }
    // truncation and trailing junk mean "not an MJPEG stream", not a
    // partial parse
    assert(Multimodal.mjpegFrames(mjpeg.dropRight(10)).isEmpty)
    assert(Multimodal.mjpegFrames(mjpeg ++ "junk".getBytes).isEmpty)
    assert(Multimodal.mjpegFrames("not a jpeg".getBytes).isEmpty)
    assert(Multimodal.mjpegFrames(Array.empty[Byte]).isEmpty)
    // frameStats dispatches both stream formats to the same stat rows
    val p6Stream = ppms.reduce(_ ++ _)
    val media = Seq((1L, p6Stream)).toDF("media_id", "bytes")
    val viaP6 = Multimodal.frameStats(media)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    val viaMj = Multimodal.frameStats(Multimodal.transcodeToMjpeg(media))
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    assert(viaP6.length == 3 && viaMj.length == 3)
    assert(viaP6.map(t => (t._1, t._2, t._3)).toSeq ==
      viaMj.map(t => (t._1, t._2, t._3)).toSeq,
      "frame indices and dims must agree across the two stream formats")
    viaP6.zip(viaMj).foreach { case ((_, _, _, d1), (_, _, _, d2)) =>
      assert(java.lang.Long.bitCount(d1 ^ d2) <= 2,
        "per-frame dHash must agree within real-size JPEG tolerance")
    }
  }

  test("FLAC front door: normalizeAudio dispatches FLAC/WAV, drops junk and null") {
    import graft.multimodal.{Flac, Multimodal}
    val wav = Multimodal.wavFromId(13L)
    val pcm = Multimodal.decodeWavSamples(wav).get
    val flac = Flac.encode(pcm, 12000, blockSize = 16)
    val media = Seq((1L, flac), (2L, wav), (3L, "noise".getBytes),
      (4L, null: Array[Byte])).toDF("media_id", "bytes")
    val normed = Multimodal.normalizeAudio(media)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(normed.keySet == Set(1L, 2L), s"junk/null must drop: ${normed.keySet}")
    // FLAC row re-emits canonical WAV with the SAME samples (lossless)
    val (rate, back) = Multimodal.decodeWavPcm(normed(1L)).get
    assert(rate == 12000 && back.sameElements(pcm))
    // WAV row passes through untouched
    assert(java.util.Arrays.equals(normed(2L), wav))
    // staging direction: transcodeToFlac emits decodable signed streams
    val staged = Multimodal.transcodeToFlac(media)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(staged.keySet == Set(2L), "only the WAV row stages to FLAC")
    assert(Flac.isFlac(staged(2L)) &&
      Flac.decodeSamples(staged(2L)).get._2.sameElements(pcm))
  }

  test("extractFeatures/sceneCuts dispatch the compressed containers (FLAC, MJPEG)") {
    import graft.multimodal.{Flac, Multimodal}
    // audio: FLAC features == WAV features (lossless decode)
    val wav = Multimodal.wavFromId(25L) // kind audio (25 % 3 == 1)
    val pcm = Multimodal.decodeWavSamples(wav).get
    val flac = Flac.encode(pcm, (8000 + (25L % 4) * 4000).toInt)
    val audio = Seq((1L, "audio", wav), (2L, "audio", flac))
      .toDF("media_id", "kind", "bytes")
    val af = Multimodal.extractFeatures(audio).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(af(1L) == af(2L),
      "FLAC features must equal the WAV twin's (lossless decode)")
    // video: MJPEG frame count and dims match the P6-stream twin;
    // pixel-sum features within lossy tolerance, never the stub
    val p6Stream = Multimodal.ppmStreamFromId(23L) // kind video (23 % 3 == 2)
    val mjpeg = Multimodal.transcodeToMjpeg(
        Seq((1L, p6Stream)).toDF("media_id", "bytes"))
      .collect()(0).getAs[Array[Byte]](1)
    val video = Seq((1L, "video", p6Stream), (2L, "video", mjpeg))
      .toDF("media_id", "kind", "bytes")
    val vf = Multimodal.extractFeatures(video).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(vf(1L).take(2) == vf(2L).take(2) &&
      vf(1L)(5) == vf(2L)(5) && vf(1L)(6) == vf(2L)(6),
      s"frame count / sampled count / first dims must be exact: ${vf(1L)} vs ${vf(2L)}")
    assert(vf(2L) != Multimodal.decodeStub(mjpeg).toSeq,
      "MJPEG must take the real branch, not the stub")
    // sceneCuts: same frame census over both containers
    val sc = Multimodal.sceneCuts(Seq((1L, p6Stream), (2L, mjpeg))
        .toDF("media_id", "bytes"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sc(1L)._1 == sc(2L)._1 && sc(1L)._1 == (23L % 4 + 2),
      s"both containers must census the same frames: $sc")
  }

  test("videoDupPairs: planted shared frames found; hot-hash cap sheds ubiquitous frames") {
    import graft.multimodal.Multimodal
    // distinct real-size frames (dhash collisions implausible at 64x48)
    val w = 64; val h = 48
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    def frame(f: Int) = header ++ Array.tabulate(w * h * 3) { i =>
      val p = i / 3; val x = p % w; val y = p / w
      ((x * (f + 2) + y * (f + 3) + i % 3 * 7 + f * 31) % 256).toByte
    }
    val common = frame(0)
    // videos 1,2,3 all contain the common frame; 1 and 2 ALSO share frame(9)
    val media = Seq(
      (1L, common ++ frame(1) ++ frame(9)),
      (2L, common ++ frame(2) ++ frame(9)),
      (3L, common ++ frame(3))).toDF("media_id", "bytes")
    val uncapped = Multimodal.videoDupPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(uncapped == Map((1L, 2L) -> 2L, (1L, 3L) -> 1L, (2L, 3L) -> 1L),
      s"uncapped pairs wrong: $uncapped")
    // cap 2: the common frame (in 3 videos) is shed; only (1,2) survive
    // via frame(9), now with ONE shared fingerprint
    val capped = Multimodal.videoDupPairs(media, maxVideosPerHash = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped == Map((1L, 2L) -> 1L), s"capped pairs wrong: $capped")
    // the synthetic corpus plants real overlaps: video 2 (frames 2-5)
    // and video 5 (frames 5-7) share frame image 5
    val synth = Seq((2L, Multimodal.ppmStreamFromId(2L)),
      (5L, Multimodal.ppmStreamFromId(5L))).toDF("media_id", "bytes")
    val sp = Multimodal.videoDupPairs(synth).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sp.exists(p => p._1 == 2L && p._2 == 5L && p._3 >= 1),
      s"planted synthetic overlap missed: ${sp.toSeq}")
    // STRIDED fingerprinting (the 100x-frame lever — decode is the
    // measured dominant cost): same-alignment copies are always found
    // (both sides sample the same indices), here an exact re-encode...
    val copies = Seq((7L, media.collect()(0).getAs[Array[Byte]](1)),
      (8L, media.collect()(0).getAs[Array[Byte]](1)))
      .toDF("media_id", "bytes")
    val strided = Multimodal.videoDupPairs(copies, stride = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(strided.toSeq == Seq((7L, 8L, 2L)),
      s"stride-2 copy pair: ${strided.toSeq}") // frames 0,2 of 3 sampled
    // ...while an arbitrarily-CUT overlap can fall off the lattice:
    // videos 2 (fids 2..5) and 5 (fids 5..7) share only fid 5, which
    // stride 2 samples on neither side (indices {0,2} -> fids {2,4} vs
    // {5,7}... fid 5 IS video 5's index 0 but video 2's index 3) — the
    // documented graceful-degradation semantics, pinned
    assert(Multimodal.videoDupPairs(synth, stride = 2).collect().isEmpty,
      "cut overlap off the stride lattice must (documentedly) drop")
  }

  test("audioDupPairs: planted window overlaps found across WAV and FLAC; silence capped and observable") {
    import graft.multimodal.{Flac, Multimodal}
    val W = 64
    def seg(k: Long) = Array.tabulate(W)(i =>
      (((k * 1009 + i * 17) % 3001) - 1500).toInt)
    // 6 clips: clip j = silence ++ seg(j) ++ seg(j+1), alternating
    // containers — FLAC is lossless so fingerprints must agree
    val media = (0 until 6).map { j =>
      val pcm = Array.fill(W)(0) ++ seg(j) ++ seg(j + 1)
      (j.toLong,
        if (j % 2 == 0) Flac.encode(pcm, 8000)
        else Multimodal.wavFromPcm(8000, pcm))
    }.toDF("media_id", "bytes")
    val (pairs, dropped) = Multimodal.audioDupPairsWithStats(media,
      windowLen = W, minShared = 1, maxClipsPerFingerprint = 4)
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == (0 until 5).map(j => (j.toLong, j + 1L, 1L)).toSet,
      s"adjacent clips share exactly seg(j+1): $got")
    // the silence fingerprint (all-zero bands -> fp 0) is in all 6
    // clips > cap 4: dropped AND observable, never silent
    val dr = dropped.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(dr == Seq((0L, 6L, 4L)), s"dropped census: $dr")
    // cap off: the silence window makes every pair adjacent (15 = C(6,2))
    assert(Multimodal.audioDupPairs(media, windowLen = W,
      maxClipsPerFingerprint = 0).count() == 15)
    // census-derived default: the 256 floor never binds at this scale
    assert(Multimodal.audioDupPairs(media, windowLen = W).count() == 15)
    // partial tail windows drop: a 1.5-window clip fingerprints once
    val tail = Seq((9L, Multimodal.wavFromPcm(8000,
        seg(0) ++ seg(1).take(W / 2))))
      .toDF("media_id", "bytes")
    assert(Multimodal.audioFingerprints(tail, W).count() == 1)
  }

  test("hot-key cap observability: videoDupPairs dropped census names the shed fingerprint") {
    import graft.multimodal.Multimodal
    val w = 64; val h = 48
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    def frame(f: Int) = header ++ Array.tabulate(w * h * 3) { i =>
      val p = i / 3; val x = p % w; val y = p / w
      ((x * (f + 2) + y * (f + 3) + i % 3 * 7 + f * 31) % 256).toByte
    }
    val common = frame(0)
    val media = Seq(
      (1L, common ++ frame(1)), (2L, common ++ frame(2)),
      (3L, common ++ frame(3))).toDF("media_id", "bytes")
    val (pairs, dropped) = Multimodal.videoDupPairsWithStats(media,
      maxVideosPerHash = 2)
    assert(pairs.count() == 0, "the only shared frame is over the cap")
    val dr = dropped.collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(dr == Seq((3L, 2L)),
      s"one dropped fingerprint in 3 videos at cap 2: $dr")
    // auto default at this scale: floor 256 keeps everything
    val (autoPairs, autoDropped) = Multimodal.videoDupPairsWithStats(media)
    assert(autoPairs.count() == 3 && autoDropped.count() == 0)
  }

  test("imageDupClusters: chain-shaped hash graph defeats min-label, auto measures and collapses it") {
    // image i's dHash has exactly bits 0..i-1 set, so Hamming(i,j) =
    // |i-j|: the Hamming<=3 graph is a window-3 chain with diameter
    // ceil(63/3) = 21 > min-label's 20-round budget — the gradual-crop
    // chain shape, the image twin of the d06b transcript-chain spec
    def chainImg(k: Int): Array[Byte] = {
      val w = 9; val h = 8
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val px = new Array[Byte](w * h * 3)
      for (y <- 0 until h) {
        var g = 128
        for (x <- 0 until w) {
          if (x > 0) g += (if (y * 8 + (x - 1) < k) 8 else -8)
          val p = (y * w + x) * 3
          px(p) = g.toByte; px(p + 1) = g.toByte; px(p + 2) = g.toByte
        }
      }
      header ++ px
    }
    assert(Multimodal.dhashPpm(chainImg(0)).contains(0L))
    assert(Multimodal.dhashPpm(chainImg(3)).contains(7L))
    val media = (0 until 64).map(i => (i.toLong, chainImg(i)))
      .toDF("media_id", "bytes")
    intercept[IllegalStateException] {
      Multimodal.imageDupClusters(media, ccRegime = "minlabel").collect()
    }
    // auto: the probe's non-convergence IS the diameter signal -> log-d
    val out = Multimodal.imageDupClusters(media).collect()
    assert(out.length == 1 && out(0).getLong(0) == 0L &&
      out(0).getLong(1) == 0L && out(0).getLong(2) == 64 &&
      out(0).getLong(3) == 64,
      s"one 64-image chain cluster rooted at hash 0 expected: ${out.toSeq}")
    // the explicit log-d regime agrees (one output contract)
    val ld = Multimodal.imageDupClusters(media, ccRegime = "logd").collect()
    assert(ld.toSeq == out.toSeq)
  }

  test("imageDupClusters invariants: mass preserved, reps are member hashes, cap isolates") {
    import graft.multimodal.Multimodal
    val media = Multimodal
      .mediaFromDocuments(Tables.documents(spark, "/root/testdata/sf0.001"))
      .filter(col("kind") === "image")
      .select(col("media_id"), col("bytes"))
    val hashes = media.collect()
      .flatMap(r => Multimodal.dhashPpm(r.getAs[Array[Byte]](1)))
    assert(hashes.nonEmpty)
    val out = Multimodal.imageDupClusters(media).collect()
      .map(r => ((r.getLong(0) << 32) | r.getLong(1), r.getLong(2), r.getLong(3)))
    // every image lands in exactly one cluster; hash census preserved
    assert(out.map(_._2).sum == hashes.length,
      s"image mass ${out.map(_._2).sum} != ${hashes.length}")
    assert(out.map(_._3).sum == hashes.distinct.length,
      s"hash mass ${out.map(_._3).sum} != ${hashes.distinct.length}")
    // each cluster rep IS one of the corpus hashes (the unsigned min)
    val hs = hashes.toSet
    assert(out.forall(c => hs.contains(c._1)),
      s"non-member rep in ${out.toSeq}")
    // maxPerBand = 1 excludes every band key (a shared key needs >= 2):
    // all hashes become singleton clusters, mass unchanged
    val capped = Multimodal.imageDupClusters(media, maxPerBand = 1).collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    assert(capped.forall(_._2 == 1) && capped.map(_._1).sum == hashes.length,
      s"cap must isolate: ${capped.toSeq}")
  }

  test("keepBestPerCluster survives a chain deeper than min-label's round budget") {
    // the regime p25's sf0.1 audio corpus actually produced (stride-3
    // near-dup chains cross-linked by sample-formula aliasing into
    // >20-diameter components): a 41-node path graph defeats plain
    // min-label (20 rounds) — the auto dispatch must probe, fall back
    // to star contraction, and still keep exactly the best member
    val pairs = (0 until 40).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    val docs = (0 to 40).map(i => (i.toLong, (i % 7).toLong))
      .toDF("id", "score")
    intercept[IllegalStateException] {
      Dedup.keepBestPerCluster(docs, "id", "score", pairs,
        ccRegime = "minlabel").collect()
    }
    val kept = Dedup.keepBestPerCluster(docs, "id", "score", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // one component, best score 6 first reached at id 6 (ties -> min id)
    assert(kept.toSeq == Seq((6L, 6L)), s"got ${kept.toSeq}")
  }

  test("hopped audio fingerprints: grid provably misses the offset plant, hop=W/2 recovers it") {
    import graft.multimodal.Multimodal
    val W = 64
    val mk = udf((id: Long) => Multimodal.offsetClipFromId(id, W))
    val media = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") % 3 === 1)
      .select(col("doc_id").as("media_id"), mk(col("doc_id")).as("bytes"))
      .localCheckpoint()
    // every PLANTED (id, id+3) dup pair flips parity, so the shared
    // segment is half-window-offset in exactly one side: the grid
    // lattice misses every planted pair (whatever it does report is
    // quantization ALIASING between unrelated segs — the fingerprint
    // keeps 7 bits/band, and the p25 corpus showed the same effect;
    // aliases replay in the oracle, so they are not wrong answers,
    // just not the plant)
    val ids = media.select(col("media_id")).as[Long].collect().toSet
    val planted = ids.filter(id => ids.contains(id + 3))
      .map(id => (id, id + 3))
    val grid = Multimodal.audioDupPairs(media, windowLen = W,
        maxClipsPerFingerprint = 16)
      .as[(Long, Long, Long)].collect().map(p => (p._1, p._2)).toSet
    assert(grid.intersect(planted).isEmpty,
      s"grid lattice must miss every planted offset pair: " +
        s"${grid.intersect(planted).take(5)}")
    // hop = W/2 recovers every planted pair
    val hopped = Multimodal.audioDupPairs(media, windowLen = W,
        maxClipsPerFingerprint = 16, hop = W / 2)
      .as[(Long, Long, Long)].collect().map(p => (p._1, p._2)).toSet
    assert(planted.subsetOf(hopped),
      s"hopped lattice must recover every planted pair: missing " +
        s"${planted.diff(hopped).take(5)}")
    // 2x lattice density costs ~2x fingerprint mass (the documented
    // price): count the raw fingerprints both ways
    val g = Multimodal.audioFingerprints(media, W).count()
    val h = Multimodal.audioFingerprints(media, W, hop = W / 2).count()
    assert(h > g && h <= 2 * g, s"hopped mass $h vs grid $g")
    // hop must divide the window
    intercept[IllegalArgumentException] {
      Multimodal.audioFingerprints(media, W, hop = 24)
    }
  }

  test("audio/video cluster fronts agree with pairs + CC + keepBest composition") {
    import graft.multimodal.Multimodal
    val W = 64
    val mk = udf((id: Long) => Multimodal.overlapClipFromId(id, W))
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val aud = docs.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id").as("media_id"), mk(col("doc_id")).as("bytes"))
      .localCheckpoint()
    val pairs = Multimodal.audioDupPairs(aud, windowLen = W,
      maxClipsPerFingerprint = 16)
    val asg = Multimodal.audioDupAssign(aud, windowLen = W,
      maxClipsPerFingerprint = 16)
    // the assign covers every decodable clip; pair members carry the CC
    // rep, singletons their own id
    val cc = Dedup.duplicateClustersAuto(pairs.select(col("a"), col("b")))
      .as[(Long, Long)].collect().toMap
    val got = asg.as[(Long, Long)].collect().toMap
    val ids = aud.select(col("media_id")).as[Long].collect().toSet
    assert(got.keySet == ids, "assign must cover every decodable clip")
    assert(got.forall { case (id, rep) => cc.getOrElse(id, id) == rep },
      "assign reps must match CC (singletons = own id)")
    // the census is the assign's groupBy — and total mass is the corpus
    val cen = Multimodal.audioDupClusters(aud, windowLen = W,
      maxClipsPerFingerprint = 16).as[(Long, Long)].collect()
    assert(cen.map(_._2).sum == ids.size, "census mass must be the corpus")
    assert(cen.toMap == got.groupBy(_._2).map { case (r, m) =>
      (r, m.size.toLong) }, "census != assign rollup")
    // keepBestAssigned over the assign == keepBestPerCluster over pairs
    val weights = aud.select(col("media_id"),
      (col("media_id") % 7).as("score"))
    val viaAssign = Dedup.keepBestAssigned(weights, "media_id", "score",
      asg).as[(Long, Long)].collect().toSet
    val viaPairs = Dedup.keepBestPerCluster(weights, "media_id", "score",
      pairs.select(col("a"), col("b"))).as[(Long, Long)].collect().toSet
    assert(viaAssign == viaPairs,
      s"keep-best fronts disagree: $viaAssign vs $viaPairs")
    // video front: census mass equals the video universe
    val vid = Multimodal.mediaFromDocuments(docs)
      .filter(col("kind") === "video")
      .select(col("media_id"), col("bytes"))
    val vcen = Multimodal.videoDupClusters(vid, maxVideosPerHash = 64)
      .as[(Long, Long)].collect()
    val nVid = vid.count()
    assert(vcen.map(_._2).sum == nVid,
      s"video census mass ${vcen.map(_._2).sum} != $nVid")
    assert(vcen.exists(_._2 > 1), "planted video dups must cluster")
  }

  test("imageDupAssign: per-media reps carry exactly the cluster census mass") {
    import graft.multimodal.Multimodal
    val media = Multimodal
      .mediaFromDocuments(Tables.documents(spark, "/root/testdata/sf0.001"))
      .filter(col("kind") === "image")
      .select(col("media_id"), col("bytes"))
    val asg = Multimodal.imageDupAssign(media).collect()
      .map(r => (r.getLong(0), (r.getLong(1) << 32) | r.getLong(2)))
    // one assignment per DECODABLE image (the normalizeImages contract)
    val decodable = media.collect().flatMap(r =>
      Multimodal.dhashPpm(r.getAs[Array[Byte]](1)).map(_ => r.getLong(0)))
    assert(asg.map(_._1).sorted.toSeq == decodable.sorted.toSeq,
      "every decodable image must be assigned exactly once")
    // media-granularity rep counts == the cluster census (one contract,
    // two granularities: p25 composes keep-best on top of this equality)
    val clusters = Multimodal.imageDupClusters(media).collect()
      .map(r => ((r.getLong(0) << 32) | r.getLong(1), r.getLong(2))).toMap
    val counts = asg.groupBy(_._2).map { case (k, v) => (k, v.length.toLong) }
    assert(counts == clusters,
      s"assignment mass diverges from the cluster census: $counts vs $clusters")
    // a singleton's rep is its own hash
    val hashByMedia = media.collect().flatMap(r =>
      Multimodal.dhashPpm(r.getAs[Array[Byte]](1))
        .map(h => r.getLong(0) -> h)).toMap
    val singletonReps = counts.filter(_._2 == 1L).keySet
    asg.filter(a => singletonReps(a._2)).foreach { case (id, rep) =>
      assert(hashByMedia(id) == rep, s"singleton $id rep != own hash")
    }
  }

  test("all-ones dHash is a legitimate hash, not the undecodable sentinel") {
    // a horizontal gradient brightens strictly left-to-right, so every
    // neighbor pair sets its bit: dhash == -1L (all 64 ones). The old
    // -1L undecodable sentinel silently dropped such images from
    // clustering AND the census; null is the only safe encoding.
    val w = 9; val h = 8
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val px = Array.tabulate(w * h * 3)(i => (((i / 3) % w) * 28).toByte)
    val grad = header ++ px
    assert(Multimodal.dhashPpm(grad).contains(-1L),
      "gradient must produce the all-ones hash")
    val media = Seq((1L, grad), (2L, grad), (3L, "junk".getBytes))
      .toDF("media_id", "bytes")
    val out = Multimodal.imageDupClusters(media).collect()
    assert(out.length == 1 && out(0).getLong(2) == 2 && out(0).getLong(3) == 1,
      s"gradient images must cluster, not vanish: ${out.toSeq}")
    // the unsigned rep of the all-ones hash splits to 0xFFFFFFFF halves
    assert(out(0).getLong(0) == 0xFFFFFFFFL && out(0).getLong(1) == 0xFFFFFFFFL,
      s"rep halves must replay the unsigned all-ones hash: ${out(0)}")
  }

  test("sceneCuts skips deltas across undecodable frames instead of flattening the gap") {
    // dark frame, STRUCTURALLY-complete-but-undecodable JPEG, bright
    // frame: the walker censuses 3 frames; flattening the failed decode
    // out of the means list would compare dark vs bright ACROSS the gap
    // and invent a cut between frames that were never adjacent
    def p6(v: Int): Array[Byte] = {
      val header = s"P6\n16 16\n255\n".getBytes("US-ASCII")
      header ++ Array.fill(16 * 16 * 3)(v.toByte)
    }
    val mjpeg2 = Multimodal.transcodeToMjpeg(
        Seq((1L, p6(10) ++ p6(245))).toDF("media_id", "bytes"))
      .collect()(0).getAs[Array[Byte]](1)
    val frames = Multimodal.mjpegFrames(mjpeg2)
    assert(frames.length == 2)
    // SOI + empty COM + EOI: jpegFrameEnd walks it, ImageIO cannot
    // decode it (no SOF) — the undecodable-frame shape
    val junk = Array(0xFF, 0xD8, 0xFF, 0xFE, 0x00, 0x02, 0xFF, 0xD9)
      .map(_.toByte)
    assert(Multimodal.mjpegFrames(junk).length == 1)
    val (o2, l2) = frames(1)
    val spliced = mjpeg2.take(o2) ++ junk ++ mjpeg2.slice(o2, o2 + l2)
    assert(Multimodal.mjpegFrames(spliced).length == 3)
    val sc = Multimodal.sceneCuts(
        Seq((1L, mjpeg2), (2L, spliced)).toDF("media_id", "bytes"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sc(1L) == (2L, 1L),
      s"adjacent dark->bright must cut (the control): $sc")
    assert(sc(2L) == (3L, 0L),
      s"no delta may span the undecodable frame: $sc")
  }

  test("ivfTopKReplay: forced regime is run-to-run identical and recall-usable") {
    val emb = Tables.embeddings(spark, sfDir)
    def run() = Ann.ivfTopKReplay(emb, "vec_id", "embedding",
        col("vec_id") < 3, k = 10, nLists = 4, nProbe = 2,
        iters = 3, initIdx = Seq(0, 125, 250, 375))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val first = run()
    assert(first == run(), "forced regime must be bit-stable across runs")
    // and it still finds real neighbors: >= 40% of brute-force top-10
    val exact = Ann.bruteForceTopK(emb, "vec_id", "embedding",
        col("vec_id") < 3, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = first.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val recall = exact.keys.map { q =>
      got.getOrElse(q, Set.empty).count(exact(q)).toDouble / exact(q).size
    }.sum / exact.size
    assert(recall >= 0.4, s"replay-regime recall too low: $recall")
  }

  test("ANN LSH recall vs brute force is usable (>= 40% of true top-10)") {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Ann.bruteForceTopK(emb, "vec_id", "embedding", col("vec_id") < 5, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Ann.lshTopK(emb, "vec_id", "embedding", col("vec_id") < 5, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.4, s"LSH mean recall $meanRecall too low")
  }

  test("quantized ANN: int8-reconstructed top-10 keeps >= 80% of exact neighbors") {
    val d = sfDir
    def sets(name: String) =
      graft.operators.PipelineQueries.queries(name)(spark, d)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = sets("a01_ann_bruteforce")
    val quant = sets("a06_ann_quantized")
    val recalls = exact.map { case (q, truth) =>
      quant.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.8,
      s"quantized mean recall $meanRecall — SQ8 should barely perturb ranking")
  }

  test("ANN IVF recall vs brute force is usable (>= 40% of true top-10)") {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Ann.bruteForceTopK(emb, "vec_id", "embedding", col("vec_id") < 5, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivf = Ann.ivfTopK(emb, "vec_id", "embedding", col("vec_id") < 5, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, truth) =>
      ivf.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.4, s"IVF mean recall $meanRecall too low")
  }

  test("language ID picks the right language on real-language samples") {
    val samples = Seq(
      ("en", "the cat sat on the mat and it was happy with the fish"),
      ("de", "der hund ist ein guter freund und die katze ist nicht böse"),
      ("es", "el perro es un buen amigo y la casa es grande por la noche"),
      ("fr", "le chien est un bon ami et la maison est grande dans la nuit"),
      ("zh", "我 是 一 个 人 他 有 不 少 的 书 都 在 上 面"))
    samples.foreach { case (expected, text) =>
      val got = Seq(text).toDF("t").select(TextFunctions.langId(col("t"))).head().getString(0)
      assert(got == expected, s"langId($expected-text) = $got")
    }
  }

  test("subword token estimate splits punctuation and scales with length") {
    val df = Seq("hello, world! it's fine", "short").toDF("t")
      .select(TextFunctions.subwordTokenEstimate(col("t")).as("n"))
    val ns = df.as[Int].collect()
    assert(ns(0) > 4, s"punct-split estimate too low: ${ns(0)}") // hello , world ! it ' s fine
    assert(ns(1) == 1)
  }

  test("winnowing fingerprint: equal for identical, differing for different") {
    val a = TextFunctions.winnowingFingerprint("the quick brown fox jumps over the lazy dog")
    val b = TextFunctions.winnowingFingerprint("the quick brown fox jumps over the lazy dog")
    val c = TextFunctions.winnowingFingerprint("a completely different text with other content")
    assert(a == b && a != c)
  }

  test("fingerprintRelational: winnowing structure in-plan, edge fallbacks, no UDF") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog"),
      ("b", "the quick brown fox jumps over the lazy dog"),
      ("c", "a completely different text with other content"),
      ("d", "short"),       // 5..7 chars: grams exist, no full window
      ("e", "abc"),         // < k chars
      ("f", null: String))
      .toDF("id", "t")
    val got = df.select(col("id"),
        TextFunctions.fingerprintRelational(col("t")).as("fp"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("a") == got("b"), "identical texts must share the digest")
    assert(got("a") != got("c"), "different texts must differ")
    assert(Seq("d", "e", "f").map(got).distinct.size == 3,
      "fallback digests must still separate distinct short texts")
    // stays a pure expression plan — no BatchEvalPython/ScalaUDF node
    val plan = df.select(TextFunctions.fingerprintRelational(col("t")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"relational twin must not plan a UDF:\n$plan")
  }

  test("normalize/scrub: punctuation-case-space variants collapse; PII masked") {
    val df = Seq(
      ("Hello,   World!", "hello world"),
      ("hello world", "hello world"),
      ("HELLO-WORLD", "helloworld")).toDF("t", "want")
    val got = df.select(TextFunctions.normalize(col("t")).as("n"), col("want"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1)))
    val scrubbed = Seq("mail me at jo.doe+x@example.org or 555-123-4567 " +
        "from 192.168.0.1 ref 123456789012").toDF("t")
      .select(TextFunctions.scrubPii(col("t"))).head().getString(0)
    assert(scrubbed == "mail me at <EMAIL> or <PHONE> from <IP> ref <NUM>",
      s"got: $scrubbed")
    // SSN's 3-2-4 goes BEFORE the 3-3-4 phone and neither bites the
    // other; parenthesized area codes are phones too
    val s2 = Seq("ssn 123-45-6789 tel (303) 555-0147 alt 555.123.4567")
      .toDF("t").select(TextFunctions.scrubPii(col("t"))).head().getString(0)
    assert(s2 == "ssn <SSN> tel <PHONE> alt <PHONE>", s"got: $s2")
    // census counts on raw text, per type
    val c = Seq("a@b.co 123-45-6789 555-123-4567 (303) 555-0147 1.2.3.4 987654321")
      .toDF("t").select(TextFunctions.piiCensus(col("t")).as("p"))
      .select("p.n_email", "p.n_ssn", "p.n_phone", "p.n_ip", "p.n_digit9")
      .head()
    assert((c.getInt(0), c.getInt(1), c.getInt(2), c.getInt(3), c.getInt(4))
      == ((1, 1, 2, 1, 1)), s"census: $c")
  }

  test("htmlExtract: chrome drops, body paragraphs survive, entities decode") {
    val page = "<html><head><title>T</title>" +
      "<style>p { color: red; }</style><script>var a = '<p>not a block</p>';" +
      "</script></head><body>" +
      "<nav><a href=\"/\">Home</a> <a href=\"/x\">Products and services</a></nav>" +
      "<h1>Short</h1>" +
      "<p>The quick brown fox jumps over the lazy dog near the river bank.</p>" +
      "<p>Tom &amp; Jerry said &quot;hello&quot; &lt;twice&gt; before lunch today.</p>" +
      "<!-- <p>commented out paragraph that would otherwise be kept here</p> -->" +
      "<div class=\"share\"><a>Tweet</a> <a>Share this page with everyone</a></div>" +
      "<footer>Copyright <a href=\"/p\">Privacy policy</a> <a href=\"/t\">Terms</a></footer>" +
      "</body></html>"
    val got = Seq(page).toDF("h")
      .select(TextFunctions.htmlExtract(col("h")).as("c")).head().getString(0)
    assert(got ==
      "The quick brown fox jumps over the lazy dog near the river bank." +
        "\nTom & Jerry said \"hello\" <twice> before lunch today.",
      s"got: $got")
    // no-anchor short block drops by length; link-dense long block drops
    // by the 1/3 anchor-density rule even though it clears minChars
    val dense = "<div>read <a href=\"/l\">this very long related article link" +
      " text here</a> now</div>"
    val d2 = Seq(dense).toDF("h")
      .select(TextFunctions.htmlExtract(col("h")).as("c")).head().getString(0)
    assert(d2 == "", s"link-dense block must drop, got: $d2")
    // boundary: exactly minChars of text with zero links is kept
    val edge25 = "a".repeat(25)
    val e = Seq(s"<p>$edge25</p>").toDF("h")
      .select(TextFunctions.htmlExtract(col("h")).as("c")).head().getString(0)
    assert(e == edge25)
    val e24 = Seq("<p>" + "a".repeat(24) + "</p>").toDF("h")
      .select(TextFunctions.htmlExtract(col("h")).as("c")).head().getString(0)
    assert(e24 == "")
    // attribute-bearing block tags split too; <pre> is not mistaken for <p>
    val attrs = "<div id=\"m\" data-x=\"1\">This paragraph carries enough " +
      "characters to be retained easily.</div><pre>short pre block</pre>"
    val a2 = Seq(attrs).toDF("h")
      .select(TextFunctions.htmlExtract(col("h")).as("c")).head().getString(0)
    assert(a2 == "This paragraph carries enough characters to be retained easily.")
    // whole-stage-codegen'd column composition: no UDF in the plan
    val plan = Seq(page).toDF("h")
      .select(TextFunctions.htmlExtract(col("h")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"htmlExtract must stay native:\n$plan")
    // outlinks: hrefs in document order; <article> is not an anchor and
    // href-less anchors contribute nothing
    val links = Seq("<article><a href=\"/a\">x</a><a>no href</a>" +
        "<A HREF=\"/B\">caps</A><a rel=\"x\" href=\"/c\">y</a></article>")
      .toDF("h").select(TextFunctions.htmlLinks(col("h")).as("l"))
      .head().getSeq[String](0)
    assert(links == Seq("/a", "/B", "/c"), s"got: $links")
  }

  test("repetition ratio: 0 for unique/short, 1 for fully repeated bigrams") {
    val got = Seq("a b c d e", "x", "", "a a a a a a", "a b a b a b")
      .toDF("t").select(TextFunctions.repetitionRatio(col("t")).as("r"))
      .as[Double].collect().toSeq
    assert(got(0) == 0.0 && got(1) == 0.0 && got(2) == 0.0)
    assert(got(3) == 0.8) // 5 bigrams, 1 distinct -> 1 - 1/5
    assert(got(4) == 0.6) // 5 bigrams, 2 distinct
  }

  test("stratified sample: every stratum within Bernoulli bounds, deterministic") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val langs = docs.select("lang").distinct().as[String].collect()
    val frac = langs.map(_ -> 0.5).toMap
    val s1 = docs.stat.sampleBy("lang", frac, 42L)
    val s2 = docs.stat.sampleBy("lang", frac, 42L)
    assert(s1.orderBy("doc_id").collect().sameElements(s2.orderBy("doc_id").collect()),
      "sampleBy with fixed seed must be deterministic")
    val perLang = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    s1.groupBy("lang").count().as[(String, Long)].collect().foreach {
      case (lang, n) =>
        val total = perLang(lang)
        // 5-sigma Bernoulli(0.5) bounds
        val slack = 5.0 * math.sqrt(total * 0.25)
        assert(math.abs(n - total * 0.5) <= slack,
          s"stratum $lang sampled $n of $total")
    }
  }

  test("sequence packing: bins independent of partitioning, equal to serial scan") {
    import org.apache.spark.sql.functions._
    val docs = (0L until 400L).map(i => (i, 50L + (i * 37) % 300)).toDF("doc_id", "toks")
    val cap = 1000L
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Packing.packByOrder(df, "doc_id", "toks", cap)
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(2)))
    val a = run(docs.repartition(1))
    val b = run(docs.repartition(13))
    assert(a.sameElements(b), "bin assignment depends on partitioning")
    // serial reference: running offset in doc_id order
    var off = 0L
    val want = (0L until 400L).map { i =>
      val t = 50L + (i * 37) % 300
      val bin = off / cap; off += t; (i, bin)
    }
    assert(a.toSeq == want)
  }

  test("contamination: flags exactly the docs sharing an 8-gram with the benchmark") {
    import org.apache.spark.sql.functions._
    val bench = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (0L, bench),                                      // benchmark doc
      (1L, s"prefix words $bench trailing"),            // contains the 8-gram
      (2L, "totally unrelated text with many distinct words here"),
      (3L, "one two three four five SIX seven eight nine")) // 8-gram broken
      .toDF("doc_id", "text")
    val b8 = docs.filter(col("doc_id") === 0)
      .select(explode(Dedup.wordShingles(col("text"), 8)).as("g8")).distinct()
    val flagged = docs.filter(col("doc_id") =!= 0)
      .select(col("doc_id"), explode(Dedup.wordShingles(col("text"), 8)).as("g8"))
      .join(broadcast(b8), "g8")
      .select(col("doc_id")).distinct().as[Long].collect().sorted
    assert(flagged.toSeq == Seq(1L))
  }

  test("IVF persistent index: bucket-pruned probe equals the in-plan IVF") {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = graft.ann.Ann.buildIvfIndex(emb, "vec_id", "embedding",
      "graft_ivf_idx_spec", nLists = 16, seed = 42L)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val indexed = graft.ann.Ann.ivfTopKIndexed(spark, "graft_ivf_idx_spec",
      cents, queries, k = 10)
    // same seed -> same centroids -> same assignment: results identical
    val direct = graft.ann.Ann.ivfTopK(emb, "vec_id", "embedding",
      col("vec_id") < 5, k = 10)
    val a = indexed.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, -t._3, t._2))
    val b = direct.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, -t._3, t._2))
    assert(a.sameElements(b), s"indexed probe diverged from in-plan IVF")
    // the probe scan must be bucket-pruned, not a full index read
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"),
      s"no bucket pruning in probe scan:\n${plan.take(800)}")
  }

  test("multimodal: PPM decoder parses header+pixels, rejects junk") {
    // 2x1 image, known pixels, comment in header
    val img = ("P6\n# a comment\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](10, 20, 30, 40, 50, 60))
    val f = Multimodal.decodePpm(img).get
    assert(f.toSeq == Seq(2f, 1f, 50f, 70f, 90f, 210f, 10f, 60f))
    // synthetic generator round-trips through the parser
    val g = Multimodal.decodePpm(Multimodal.ppmFromId(7L)).get
    assert(g(0) == (7 % 5 + 1).toFloat && g(1) == (7 % 4 + 2).toFloat)
    val n = (7 % 5 + 1) * (7 % 4 + 2) * 3
    assert(g(5) == (0 until n).map(i => (7 * 31 + i) % 256).sum.toFloat)
    // rejects: wrong magic, truncated pixel plane, absurd maxval
    assert(Multimodal.decodePpm("P5\n1 1\n255\n".getBytes ++ Array[Byte](1)).isEmpty)
    assert(Multimodal.decodePpm("P6\n2 2\n255\n".getBytes ++ Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodePpm("P6\n1 1\n999\n".getBytes ++ Array[Byte](1, 2, 3)).isEmpty)
    // hostile headers whose w*h*3 wraps Int must reject, not crash:
    // 46341^2*3 is negative in Int; 65536^2*3 wraps to exactly 0; and a
    // digit string overflowing the accumulator itself
    for (hdr <- Seq("P6\n46341 46341\n255\n", "P6\n65536 65536\n255\n",
        "P6\n99999999999999999999 1\n255\n")) {
      val junk = hdr.getBytes("US-ASCII") ++ Array.fill[Byte](64)(7)
      assert(Multimodal.decodePpm(junk).isEmpty, s"accepted $hdr")
      assert(Multimodal.resizePpm(junk, 2, 2).isEmpty, s"resize accepted $hdr")
      assert(Multimodal.ppmStreamFrames(junk).isEmpty, s"walk accepted $hdr")
    }
  }

  test("multimodal: WAV decoder parses RIFF chunks+samples, rejects junk") {
    // hand-built mono PCM16, 3 samples: 100, -200, 32767 @ 8000 Hz
    def wav(samples: Seq[Short], fmt: Short = 1, bits: Short = 16,
        channels: Short = 1): Array[Byte] = {
      val dataLen = samples.length * 2
      val b = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
      b.put("fmt ".getBytes).putInt(16).putShort(fmt).putShort(channels)
        .putInt(8000).putInt(16000).putShort(2).putShort(bits)
      b.put("data".getBytes).putInt(dataLen)
      samples.foreach(b.putShort)
      b.array()
    }
    val f = Multimodal.decodeWav(wav(Seq(100, -200, 32767))).get
    assert(f.toSeq == Seq(8000f, 3f, 32667f, 33067f, -200f, 32767f, 100f, 32767f))
    // synthetic generator round-trips through the parser
    val id = 11L
    val g = Multimodal.decodeWav(Multimodal.wavFromId(id)).get
    val n = (id % 50 + 20).toInt
    val samples = (0 until n).map(i => ((id * 37 + i * 13) % 4001 - 2000).toInt)
    assert(g(0) == (8000 + (id % 4) * 4000).toFloat && g(1) == n.toFloat)
    assert(g(2) == samples.sum.toFloat && g(4) == samples.min.toFloat)
    // rejects: non-RIFF, float format, odd data length, truncation
    assert(Multimodal.decodeWav("not a wav at all............................".getBytes).isEmpty)
    assert(Multimodal.decodeWav(wav(Seq(1, 2), fmt = 3)).isEmpty)
    assert(Multimodal.decodeWav(wav(Seq(1, 2)).dropRight(1)).isEmpty)
    assert(Multimodal.decodeWav(wav(Seq(1, 2), bits = 8)).isEmpty)
    // stereo would conflate interleaved channels into one stream — reject
    assert(Multimodal.decodeWav(wav(Seq(1, 2, 3, 4), channels = 2)).isEmpty)
  }

  test("multimodal: PPM nearest-neighbor resize resamples exact pixels") {
    // 2x1 source, pixels A=(10,20,30) B=(40,50,60)
    val src = ("P6\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](10, 20, 30, 40, 50, 60))
    // downscale to 1x1: NN picks sx = 0*2/1 = 0 -> pixel A
    val down = Multimodal.resizePpm(src, 1, 1).get
    assert(Multimodal.decodePpm(down).get.toSeq ==
      Seq(1f, 1f, 10f, 20f, 30f, 60f, 10f, 30f))
    // upscale to 4x1: x -> sx = x*2/4 = [0,0,1,1] -> A A B B
    val up = Multimodal.resizePpm(src, 4, 1).get
    val f = Multimodal.decodePpm(up).get
    assert(f(0) == 4f && f(2) == 2 * 10f + 2 * 40f, s"got ${f.toSeq}")
    // resize output is itself a valid P6 the decoder accepts; junk -> None
    assert(Multimodal.resizePpm("garbage".getBytes, 2, 2).isEmpty)
    // synthetic generator: resize(id) then decode == closed-form NN replay
    val id = 13L
    val w = (id % 5 + 1).toInt; val h = (id % 4 + 2).toInt
    val g = Multimodal.decodePpm(
      Multimodal.resizePpm(Multimodal.ppmFromId(id), 2, 2).get).get
    val expect = for (y <- 0 until 2; x <- 0 until 2; ch <- 0 until 3)
      yield (id * 31 + ((y * h / 2) * w + (x * w / 2)) * 3 + ch) % 256
    assert(g(5) == expect.sum.toFloat, s"NN replay mismatch: ${g.toSeq}")
  }

  test("multimodal: P6 stream walker splits frames; sampling strides and caps") {
    val f0 = Multimodal.ppmFromId(3L)
    val f1 = Multimodal.ppmFromId(4L)
    val f2 = Multimodal.ppmFromId(5L)
    val stream = f0 ++ f1 ++ f2
    val frames = Multimodal.ppmStreamFrames(stream)
    assert(frames == Seq((0, f0.length), (f0.length, f1.length),
      (f0.length + f1.length, f2.length)), s"got $frames")
    // sampled frames re-decode to the same features as standalone decode
    val sampled = Multimodal.sampleFrames(stream, stride = 2, maxFrames = 4).get
    assert(sampled.map(_._1) == Seq(0, 2))
    assert(sampled(0)._2.toSeq == Multimodal.decodePpm(f0).get.toSeq)
    assert(sampled(1)._2.toSeq == Multimodal.decodePpm(f2).get.toSeq)
    // cap binds before stride runs out
    assert(Multimodal.sampleFrames(stream, 1, 2).get.map(_._1) == Seq(0, 1))
    // trailing junk or a truncated last frame rejects the whole stream
    assert(Multimodal.ppmStreamFrames(stream ++ "x".getBytes).isEmpty)
    assert(Multimodal.ppmStreamFrames(stream.dropRight(1)).isEmpty)
    assert(Multimodal.sampleFrames("nope".getBytes, 2, 4).isEmpty)
  }

  test("multimodal: stub decode is deterministic, batched, schema-stable") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val media = Multimodal.mediaFromDocuments(docs)
    assert(media.schema.fieldNames.toSeq ==
      Seq("media_id", "kind", "bytes", "meta"))
    val f1 = Multimodal.extractFeatures(media, batchSize = 7)
      .orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(media.repartition(5), batchSize = 64)
      .orderBy("media_id").collect()
    assert(f1.sameElements(f2), "decode depends on batching/partitioning")
    val feats = f1.head.getSeq[Float](2)
    assert(feats.length == Multimodal.FeatureDim)
    assert(Multimodal.frameSampleIndices(100, 10, 5) == Seq(0, 10, 20, 30, 40))
  }

  test("incremental LSH index: build + two appends equals one-shot batch dedup") {
    import graft.dedup.Dedup
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    val dir = "target/qtmp/lsh_idx_spec"
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    Dedup.buildLshIndex(b0, "doc_id", "text", dir)
    val p0 = Dedup.minhashLshPairs(b0, "doc_id", "text", threshold = 0.8)
    val p1 = Dedup.appendToLshIndex(spark, dir, b1, "doc_id", "text", "b1", threshold = 0.8)
    val p2 = Dedup.appendToLshIndex(spark, dir, b2, "doc_id", "text", "b2", threshold = 0.8)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").as[(Long, Long)].collect().toSet
    val incremental = pairSet(p0) ++ pairSet(p1) ++ pairSet(p2)
    val oneShot = pairSet(
      Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8))
    assert(incremental == oneShot,
      s"incremental-only=${incremental -- oneShot} oneshot-only=${oneShot -- incremental}")
    assert(oneShot.nonEmpty, "fixture should contain near-dup pairs")
  }

  test("compactEvery: segment count stays bounded over 3N triggers, results unchanged") {
    import graft.dedup.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = "target/qtmp/lsh_autocompact_spec"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(dir))
    val n = 3 // compactEvery; 9 appends = 3N triggers
    Dedup.buildLshIndex(docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", dir)
    def segCount: Int = new java.io.File(s"$dir/bands")
      .listFiles().count(_.getName.startsWith("batch="))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").as[(Long, Long)].collect().toSet
    var pairs = pairSet(Dedup.minhashLshPairs(
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", threshold = 0.8))
    var maxSegs = segCount
    (1 until 10).foreach { i =>
      pairs ++= pairSet(Dedup.appendToLshIndex(spark, dir,
        docs.filter(col("doc_id") % 10 === i), "doc_id", "text", s"b$i",
        threshold = 0.8, compactEvery = n))
      maxSegs = math.max(maxSegs, segCount)
    }
    // the fold runs whenever the count exceeds N and folds everything
    // below the live batch, so the count never exceeds N+1 and always
    // returns to 2 (base + live) after a fold — bounded forever
    assert(maxSegs <= n + 1,
      s"auto-compaction let the store grow to $maxSegs segments")
    assert(segCount <= 2, s"final store not folded: $segCount segments")
    val oneShot = pairSet(
      Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8))
    assert(pairs == oneShot,
      s"auto-compaction changed results: extra=${pairs -- oneShot} " +
        s"missing=${oneShot -- pairs}")
  }

  test("incremental SimHash index: build + two appends equals one-shot pairs") {
    import graft.dedup.Dedup
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    val dir = "target/qtmp/simhash_idx_spec"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(dir))
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    Dedup.buildSimhashIndex(b0, "doc_id", "text", dir)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").as[(Long, Long)].collect().toSet
    // uncapped: banding completeness holds unconditionally, so the
    // three ingest modes partition the one-shot pair set exactly
    val p0 = pairSet(Dedup.simhashPairs(b0, "doc_id", "text", 3, maxBucket = 0))
    val p1 = pairSet(Dedup.appendToSimhashIndex(spark, dir, b1, "doc_id",
      "text", "b1", maxBucket = 0L))
    val p2 = pairSet(Dedup.appendToSimhashIndex(spark, dir, b2, "doc_id",
      "text", "b2", maxBucket = 0L))
    val oneShot = pairSet(
      Dedup.simhashPairs(docs, "doc_id", "text", 3, maxBucket = 0))
    assert(p0 ++ p1 ++ p2 == oneShot,
      s"incremental-only=${(p0 ++ p1 ++ p2) -- oneShot} " +
        s"oneshot-only=${oneShot -- (p0 ++ p1 ++ p2)}")
    assert(oneShot.nonEmpty, "fixture should contain hamming<=3 pairs")
  }

  test("capped SimHash append holds a hot boilerplate bucket; dropped census persisted") {
    import graft.dedup.{Dedup, HammingIndex}
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    // identical clones collapse to ONE signature ⇒ every band's bucket
    // is the clone count — over the cap from the base store on (no key
    // crosses the cap mid-stream, the regime where capped append ==
    // capped one-shot holds exactly; the st21 discipline)
    val boilerText = "the same boilerplate banner text repeated on every " +
      "page of the crawl over and over again without any variation at all"
    def boiler(ids: Range) = ids.map(i => (i.toLong + 100000L, boilerText))
      .toDF("doc_id", "text")
    val cap = 16L
    val base = docs.filter(col("doc_id") % 3 === 0)
      .unionByName(boiler(0 until 40))
    val b1 = docs.filter(col("doc_id") % 3 === 1)
      .unionByName(boiler(40 until 45))
    val dir = "target/qtmp/simhash_idx_capped_spec"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(dir))
    Dedup.buildSimhashIndex(base, "doc_id", "text", dir)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").as[(Long, Long)].collect().toSet
    val p1 = pairSet(Dedup.appendToSimhashIndex(spark, dir, b1, "doc_id",
      "text", "b1", maxBucket = cap))
    // the cap must have BOUND the clone bucket: no clone-clone pair
    // reported, and the dropped census names the over-cap buckets
    assert(!p1.exists { case (a, b) => a >= 100000L && b >= 100000L },
      "over-cap boilerplate bucket leaked pairs through the census gate")
    val dropped = spark.read.parquet(s"$dir/dropped")
    assert(dropped.columns.toSet == Set("band", "h", "n", "cap", "batch"))
    assert(dropped.filter(col("n") > col("cap")).count() > 0,
      "hot boilerplate bucket missing from the dropped census")
    // honest pairs among the real docs still flow in the capped regime
    val uncappedDir = "target/qtmp/simhash_idx_capped_spec_u"
    rm(new java.io.File(uncappedDir))
    Dedup.buildSimhashIndex(base, "doc_id", "text", uncappedDir)
    val u1 = pairSet(Dedup.appendToSimhashIndex(spark, uncappedDir, b1,
      "doc_id", "text", "b1", maxBucket = 0L))
    assert(p1 == u1.filterNot { case (a, b) => a >= 100000L && b >= 100000L },
      "cap changed pairs outside the hot bucket")
  }

  test("SimHash append: shuffle regime (broadcast gate at 0) preserves results") {
    import graft.dedup.Dedup
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val old = docs.filter(col("doc_id") % 4 =!= 0)
    val fresh = docs.filter(col("doc_id") % 4 === 0)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").as[(Long, Long)].collect().toSet
    val dirB = "target/qtmp/sh_bgate_b"; val dirS = "target/qtmp/sh_bgate_s"
    rm(new java.io.File(dirB)); rm(new java.io.File(dirS))
    Dedup.buildSimhashIndex(old, "doc_id", "text", dirB)
    Dedup.buildSimhashIndex(old, "doc_id", "text", dirS)
    val viaBroadcast = pairSet(Dedup.appendToSimhashIndex(spark, dirB,
      fresh, "doc_id", "text", "b1"))
    val viaShuffle = pairSet(Dedup.appendToSimhashIndex(spark, dirS,
      fresh, "doc_id", "text", "b1", broadcastMaxBatchRows = 0L))
    assert(viaBroadcast == viaShuffle && viaBroadcast.nonEmpty,
      s"broadcast-only=${viaBroadcast -- viaShuffle} " +
        s"shuffle-only=${viaShuffle -- viaBroadcast}")
  }

  test("capped LSH append equals capped one-shot; dropped census persisted") {
    import graft.dedup.Dedup
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    // hot bucket: identical boilerplate clones, OVER the cap from the
    // base store on — no key crosses the cap mid-stream, the regime
    // where capped append == capped one-shot holds exactly (the st21
    // discipline; see lshAppendPairs' scaladoc)
    val boilerText = "the same boilerplate banner text repeated on every " +
      "page of the crawl over and over again without any variation at all"
    def boiler(ids: Range) = ids.map(i => (i.toLong + 100000L, boilerText))
      .toDF("doc_id", "text")
    val cap = 16
    val base = docs.filter(col("doc_id") % 3 === 0)
      .unionByName(boiler(0 until 40)) // 40 > cap already in the store
    val b1 = docs.filter(col("doc_id") % 3 === 1)
      .unionByName(boiler(40 until 45))
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    val dir = "target/qtmp/lsh_idx_capped_spec"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(dir))
    Dedup.buildLshIndex(base, "doc_id", "text", dir)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").as[(Long, Long)].collect().toSet
    val p0 = pairSet(Dedup.minhashLshPairs(base, "doc_id", "text",
      threshold = 0.8, maxBucket = cap))
    val p1 = pairSet(Dedup.appendToLshIndex(spark, dir, b1, "doc_id", "text",
      "b1", threshold = 0.8, maxBucket = cap.toLong))
    val p2 = pairSet(Dedup.appendToLshIndex(spark, dir, b2, "doc_id", "text",
      "b2", threshold = 0.8, maxBucket = cap.toLong))
    val all = base.unionByName(b1).unionByName(b2)
    val oneShotCapped = pairSet(Dedup.minhashLshPairs(all, "doc_id", "text",
      threshold = 0.8, maxBucket = cap))
    assert(p0 ++ p1 ++ p2 == oneShotCapped,
      s"capped-append-only=${(p0 ++ p1 ++ p2) -- oneShotCapped} " +
        s"capped-oneshot-only=${oneShotCapped -- (p0 ++ p1 ++ p2)}")
    // the cap must have BOUND something: uncapped one-shot sees the 45
    // boilerplate clones' pairs, the capped views do not
    val oneShotUncapped = pairSet(
      Dedup.minhashLshPairs(all, "doc_id", "text", threshold = 0.8))
    assert((oneShotUncapped -- oneShotCapped)
      .exists { case (a, b) => a >= 100000L && b >= 100000L },
      "fixture's hot bucket never exceeded the cap")
    assert(!oneShotCapped.exists { case (a, b) => a >= 100000L && b >= 100000L })
    // dropped-bucket observability: persisted next to the pairs segment,
    // queryable, and naming an over-cap bucket
    val dropped = spark.read.parquet(s"$dir/dropped")
    assert(dropped.columns.toSet == Set("band", "h", "n", "cap", "batch"))
    assert(dropped.filter(col("n") > col("cap")).count() > 0,
      "hot boilerplate bucket missing from the dropped census")
  }

  test("streamed appends: shuffle regime (broadcast gate at 0) preserves results") {
    import graft.dedup.Dedup
    import graft.multimodal.Multimodal
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val old = docs.filter(col("doc_id") % 4 =!= 0)
    val fresh = docs.filter(col("doc_id") % 4 === 0)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").as[(Long, Long)].collect().toSet
    // LSH: one append in each regime over identical stores
    val dirB = "target/qtmp/lsh_bgate_b"; val dirS = "target/qtmp/lsh_bgate_s"
    rm(new java.io.File(dirB)); rm(new java.io.File(dirS))
    Dedup.buildLshIndex(old, "doc_id", "text", dirB)
    Dedup.buildLshIndex(old, "doc_id", "text", dirS)
    val viaBroadcast = pairSet(Dedup.appendToLshIndex(spark, dirB, fresh,
      "doc_id", "text", "b1", threshold = 0.8))
    val viaShuffle = pairSet(Dedup.appendToLshIndex(spark, dirS, fresh,
      "doc_id", "text", "b1", threshold = 0.8, broadcastMaxBatchRows = 0L))
    assert(viaBroadcast == viaShuffle && viaBroadcast.nonEmpty,
      s"broadcast-only=${viaBroadcast -- viaShuffle} " +
        s"shuffle-only=${viaShuffle -- viaBroadcast}")
    // audio: same discipline through appendToAudioIndex
    val W = 64
    val mk = udf((id: Long) => Multimodal.segClipFromId(id, W))
    def clips(ids: org.apache.spark.sql.DataFrame) = ids
      .select(col("doc_id").as("media_id"), mk(col("doc_id")).as("bytes"))
    val aud = docs.filter(col("doc_id") % 3 === 1)
    val aOld = clips(aud.filter(col("doc_id") % 4 =!= 0))
    val aNew = clips(aud.filter(col("doc_id") % 4 === 0))
    val adB = "target/qtmp/aud_bgate_b"; val adS = "target/qtmp/aud_bgate_s"
    rm(new java.io.File(adB)); rm(new java.io.File(adS))
    Multimodal.buildAudioIndex(aOld, adB, windowLen = W)
    Multimodal.buildAudioIndex(aOld, adS, windowLen = W)
    def aPairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("a"), col("b"), col("shared_windows"))
        .as[(Long, Long, Long)].collect().toSet
    val aB = aPairs(Multimodal.appendToAudioIndex(spark, adB, aNew, "b1",
      windowLen = W))
    val aS = aPairs(Multimodal.appendToAudioIndex(spark, adS, aNew, "b1",
      windowLen = W, broadcastMaxBatchRows = 0L))
    assert(aB == aS && aB.nonEmpty,
      s"audio broadcast-only=${aB -- aS} shuffle-only=${aS -- aB}")
  }

  test("audio append -1 cap: a hot-key-concentrated batch cannot inflate the cap") {
    import graft.multimodal.Multimodal
    val spark2 = spark; import spark2.implicits._
    val W = 64
    // store: 700 clips across 120 quantized amplitude levels -> mean
    // fingerprint bucket ~6, store-wide derived cap = max(256, 32*6) = 256
    def flatClip(level: Int) =
      Multimodal.wavFromPcm(8000, Array.fill(W)(16 * level))
    val mkStore = udf((id: Long) => flatClip((id % 120).toInt))
    val store = spark.range(0L, 700L)
      .select(col("id").as("media_id"), mkStore(col("id")).as("bytes"))
    val dir = "target/qtmp/aud_hotbatch_spec"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(dir))
    Multimodal.buildAudioIndex(store, dir, windowLen = W)
    // batch: 400 clips ALL on one level the store lacks. A
    // batch-restricted derive would read mean bucket = 400 and lift the
    // cap to 12800 — letting the hot key through (the round-14 ADVICE
    // failure mode). The store-wide stats read mean ~ (1100/121) -> cap
    // 320 < 400, so the hot fingerprint is DROPPED and reported.
    val mkHot = udf((id: Long) => flatClip(121))
    val hot = spark.range(1000L, 1400L)
      .select(col("id").as("media_id"), mkHot(col("id")).as("bytes"))
    val pairs = Multimodal.appendToAudioIndex(spark, dir, hot, "b1",
      windowLen = W) // maxClipsPerFingerprint = -1 (the default under test)
    assert(pairs.count() == 0,
      "hot batch fingerprint escaped the store-wide derived cap")
    val dropped = spark.read.parquet(s"$dir/dropped")
    val row = dropped.select(col("n"), col("cap")).as[(Long, Long)].collect()
    assert(row.length == 1 && row.head._1 == 400L,
      s"dropped census should name the n=400 hot fingerprint, got ${row.toSeq}")
    assert(row.head._2 < 400L && row.head._2 >= 256L,
      s"store-wide derived cap out of range: ${row.head._2}")
  }

  test("CC fast path: unsupported id types fall through to the distributed loop") {
    import graft.dedup.Dedup
    val spark2 = spark; import spark2.implicits._
    // BinaryType ids collect as Array[Byte] (not Comparable) — before the
    // round-15 gate the default-on fast path threw ClassCastException
    // where the distributed regimes would have worked
    val pairs = Seq(
      (Array[Byte](1), Array[Byte](2)), (Array[Byte](2), Array[Byte](3)),
      (Array[Byte](10), Array[Byte](11))).toDF("a", "b")
    val reps = Dedup.duplicateClustersAuto(pairs)
      .select(col("doc_id"), col("rep")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq))
      .toMap
    assert(reps(Seq[Byte](3)) == Seq[Byte](1) &&
      reps(Seq[Byte](2)) == Seq[Byte](1) &&
      reps(Seq[Byte](11)) == Seq[Byte](10),
      s"binary-id components wrong: $reps")
  }

  test("incremental audio index: build + two appends equals one-shot; re-ingest idempotent") {
    import graft.multimodal.Multimodal
    val W = 64
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val mk = udf((id: Long) => Multimodal.segClipFromId(id, W))
    def clips(ids: org.apache.spark.sql.DataFrame) = ids
      .select(col("doc_id").as("media_id"), mk(col("doc_id")).as("bytes"))
    val aud = docs.filter(col("doc_id") % 3 === 1)
    val dir = "target/qtmp/audio_idx_spec"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(dir))
    val b0 = aud.filter(col("doc_id") % 3 === 1 && col("doc_id") % 9 < 4)
    val b1 = aud.filter(col("doc_id") % 9 >= 4 && col("doc_id") % 9 < 7)
    val b2 = aud.filter(col("doc_id") % 9 >= 7)
    Multimodal.buildAudioIndex(clips(b0), dir, windowLen = W)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("a"), col("b"), col("shared_windows"))
        .as[(Long, Long, Long)].collect().toSet
    val p0 = pairSet(Multimodal.audioDupPairs(clips(b0), windowLen = W,
      maxClipsPerFingerprint = 0))
    val p1 = pairSet(Multimodal.appendToAudioIndex(spark, dir, clips(b1),
      "b1", windowLen = W, maxClipsPerFingerprint = 0))
    val p2 = pairSet(Multimodal.appendToAudioIndex(spark, dir, clips(b2),
      "b2", windowLen = W, maxClipsPerFingerprint = 0))
    val oneShot = pairSet(Multimodal.audioDupPairs(clips(aud),
      windowLen = W, maxClipsPerFingerprint = 0))
    assert((p0 ++ p1 ++ p2) == oneShot,
      s"inc-only=${(p0 ++ p1 ++ p2) -- oneShot} one-only=${oneShot -- (p0 ++ p1 ++ p2)}")
    assert(oneShot.nonEmpty, "fixture should contain planted audio pairs")
    assert(p1.intersect(p2).isEmpty, "a pair must be reported exactly once")
    // re-ingesting the SAME batch id overwrites its segments: the
    // report is unchanged and the store does not double-count
    val p2again = pairSet(Multimodal.appendToAudioIndex(spark, dir,
      clips(b2), "b2", windowLen = W, maxClipsPerFingerprint = 0))
    assert(p2again == p2, "re-ingest must be idempotent on batchId")
    // an explicit cap engages on the old∪new census: appending clips
    // that all share the silence fingerprint under cap 1 reports nothing
    val sil = udf((id: Long) =>
      Multimodal.wavFromPcm(8000, Array.fill(W)(0)))
    val silClips = docs.filter(col("doc_id") % 3 === 2).limit(8)
      .select(col("doc_id").as("media_id"), sil(col("doc_id")).as("bytes"))
    val capped = pairSet(Multimodal.appendToAudioIndex(spark, dir,
      silClips, "b3", windowLen = W, maxClipsPerFingerprint = 1))
    assert(capped.isEmpty, s"cap 1 must shed the shared key: $capped")
  }

  test("bloom filter: zero false negatives; prefiltered decontamination equals exact") {
    import graft.functions.BloomFunctions
    // no false negatives — every inserted member must probe true
    val members = (1 to 2000).map(i => s"member-$i")
    val mdf = members.toDF("g")
    val bloom = BloomFunctions.build(mdf, "g", expectedItems = 2000, numBits = 1 << 15)
    val probed = mdf.filter(BloomFunctions.mightContain(bloom, col("g"))).count()
    assert(probed == members.length, s"bloom false-negatived ${members.length - probed} members")
    // some selectivity on non-members (sized for ~2% fp at 16 bits/item)
    val non = (1 to 2000).map(i => s"other-$i").toDF("g")
    val fp = non.filter(BloomFunctions.mightContain(bloom, col("g"))).count()
    assert(fp < 400, s"bloom passed $fp of 2000 non-members — far above the sized fp rate")
    // the gate twin: d09 (bloom-prefilter + exact confirm) == d07 (exact)
    val d = "/root/testdata/sf0.001"
    val exact = graft.operators.PipelineQueries.queries("d07_contamination")(spark, d).collect()
    val bloomed = graft.operators.PipelineQueries.queries("d09_bloom_decontaminate")(spark, d).collect()
    assert(bloomed.sameElements(exact), "bloom-prefiltered decontamination diverged from exact")
  }

  test("sq8 quantization: roundtrip error within scale/2, codes in [-127,127]") {
    import graft.ann.Quantize
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.select(col("vec_id"), col("embedding"),
        Quantize.sq8Scale(col("embedding")).as("scale"))
      .select(col("vec_id"), col("embedding"), col("scale"),
        Quantize.sq8Quantize(col("embedding"), col("scale")).as("codes"),
        Quantize.sq8MaxError(col("embedding"), col("scale")).as("max_err"))
    val bad = q.filter(col("max_err") > col("scale") * 0.5 + 1e-15).count()
    assert(bad == 0, s"$bad vectors exceed the scale/2 SQ8 error bound")
    val outOfRange = q.select(explode(col("codes")).as("c"))
      .filter(abs(col("c").cast("int")) > 127).count()
    assert(outOfRange == 0, s"$outOfRange codes outside [-127,127]")
    // dequantize really reconstructs: cosine(orig, dequant) stays ~1
    val cos = q.select(graft.ann.Ann.cosine(col("embedding"),
        Quantize.sq8Dequantize(col("codes"), col("scale"))).as("c"))
      .agg(min(col("c"))).head.getDouble(0)
    assert(cos > 0.999, s"dequantized cosine dropped to $cos")
  }

  test("duplicateSpans: known planted duplicates merge into maximal spans") {
    // doc 1 and 2 share the 10-token prefix (positions 0..9 -> windows
    // 0,1,2 with k=8 -> one span [0,9]); doc 3 is unique; doc 4 repeats
    // doc 1's unique tail nowhere. Token streams built to avoid
    // accidental 8-gram collisions.
    val shared = (1 to 10).map(i => s"common$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared tail1a tail1b tail1c"),
      (2L, s"$shared tail2a tail2b tail2c"),
      (3L, (1 to 16).map(i => s"solo$i").mkString(" ")),
      (4L, (1 to 16).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", k = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(spans == Set((1L, 0L, 9L), (2L, 0L, 9L)),
      s"expected the shared 10-token prefix as one span per doc, got $spans")

    // same-doc repetition counts toward minOccurrences: one doc whose
    // 8-gram repeats within itself gets a span covering both copies
    // (windows at distance <= k merge across the repeat boundary)
    val selfRep = Seq((9L, ((1 to 8) ++ (1 to 8)).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val selfSpans = Dedup.duplicateSpans(selfRep, "doc_id", "text", k = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(selfSpans == Set((9L, 0L, 15L)), s"self-repeat span wrong: $selfSpans")
  }

  test("perplexityBucketsScalable == window ntile, at any partition count") {
    import graft.operators.LanguageModel
    val docs = Tables.documents(spark, sfDir)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("lang"), col("ll"), col("bucket").cast("long"))
        .as[(Long, String, Double, Long)].collect().sortBy(_._1).toSeq
    val window = norm(LanguageModel.perplexityBuckets(
      docs, "doc_id", "text", "lang", nBuckets = 3))
    val scalable = norm(LanguageModel.perplexityBucketsScalable(
      docs, "doc_id", "text", "lang", nBuckets = 3))
    assert(window.nonEmpty && scalable == window,
      "prefix-sum ntile must equal the window form row-for-row")
    // rank depends only on the total order: identical under a different
    // input partitioning
    val repart = norm(LanguageModel.perplexityBucketsScalable(
      docs.repartition(7), "doc_id", "text", "lang", nBuckets = 3))
    assert(repart == window, "partition layout must not change buckets")
    // closed-form ntile arithmetic: small-group edge (cnt < n -> one row
    // per bucket) via a 2-doc class against the window form
    val tiny = docs.filter(col("doc_id") < 2)
    val w2 = norm(LanguageModel.perplexityBuckets(
      tiny, "doc_id", "text", "lang", nBuckets = 3))
    val s2 = norm(LanguageModel.perplexityBucketsScalable(
      tiny, "doc_id", "text", "lang", nBuckets = 3))
    assert(s2 == w2, "cnt < nBuckets edge must match SQL ntile")
  }

  test("decontamination: hashed-gram broadcast (d07's 100 TB shape) == string grams") {
    import graft.dedup.Dedup
    val docs = Tables.documents(spark, sfDir)
    def overlaps(hash: Boolean): Map[Long, Long] = {
      val g = explode(Dedup.wordShingles(col("text"), 8)).as("g8")
      def key(df: org.apache.spark.sql.DataFrame) =
        if (hash) df.select(col("doc_id"), xxhash64(col("g8")).as("k"))
        else df.select(col("doc_id"), col("g8").as("k"))
      val bench = key(docs.filter(col("doc_id") % 10 === 0).select(col("doc_id"), g))
        .select(col("k")).distinct()
      key(docs.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"), g))
        .join(broadcast(bench), "k")
        .groupBy(col("doc_id")).agg(countDistinct(col("k")).as("n"))
        .as[(Long, Long)].collect().toMap
    }
    val plain = overlaps(hash = false)
    val hashed = overlaps(hash = true)
    assert(plain.nonEmpty, "benchmark overlap should exist on this corpus")
    assert(hashed == plain,
      "xxhash64 gram projection must not change per-doc overlap counts")
  }

  test("duplicateSpans/Stats: hashed-gram shuffle (100 TB shape) == string grams") {
    // hand-computed on string grams, k = 8: doc 2 repeats doc 1's only
    // window at position 0, so both carry span (0, 7); doc 3 is shorter
    // than one window
    val tiny = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h x y"),
      (3L, "p q r")).toDF("doc_id", "text")
    val tinySpans = Dedup.duplicateSpans(tiny, "doc_id", "text", k = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(tinySpans == Set((1L, 0L, 7L), (2L, 0L, 7L)), s"spans: $tinySpans")
    val tinyStats = Dedup.duplicateSpanStats(tiny, "doc_id", "text", k = 8)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(tinyStats == Seq((1L, 8L, 8L, 1.0), (2L, 10L, 8L, 0.8),
      (3L, 3L, 0L, 0.0)), s"stats: $tinyStats")
    val docs = Tables.documents(spark, sfDir)
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", k = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(spans.nonEmpty, "corpus should contain duplicated spans (d01 dups)")
    // stats: dup_frac in [0,1], exact-dup docs (same text twice) are 1.0
    val stats = Dedup.duplicateSpanStats(docs, "doc_id", "text", k = 8)
    val bad = stats.filter(col("dup_frac") < 0 || col("dup_frac") > 1).count()
    assert(bad == 0, "dup_frac out of [0,1]")
    val fullDup = docs.groupBy(md5(col("text"))).agg(
        count(lit(1)).as("n"), min(col("doc_id")).as("doc_id"))
      .filter(col("n") >= 2).select("doc_id")
    val notFull = fullDup.join(stats, "doc_id")
      .filter(col("dup_frac") < 1.0).count()
    assert(notFull == 0, "exact-duplicate docs must be fully covered by spans")
  }

  test("bigram LM: hand-computed likelihood on a tiny corpus; hashed == plain") {
    import graft.operators.LanguageModel
    // corpus = one doc "a b a b": bigrams (a,b),(b,a),(a,b)
    // cb(a,b)=2 cb(b,a)=1; ch(a)=2 ch(b)=1; V=2
    // ll = avg(ln(3/4), ln(2/3), ln(3/4))
    val docs = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val got = LanguageModel.bigramLogLikelihood(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toList
    val want = math.floor(
      (math.log(3.0 / 4) + math.log(2.0 / 3) + math.log(3.0 / 4)) / 3
        * 10000 + 0.5) / 10000
    assert(got == List((1L, 3L, want)), s"got $got, want ll=$want")

    // short docs (<2 tokens) have no bigrams and drop out
    val short = Seq((1L, "solo"), (2L, "a b")).toDF("doc_id", "text")
    val ids = LanguageModel.bigramLogLikelihood(short, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(2L), s"1-token doc must be absent, got $ids")
  }

  test("splits: deterministic, partition-invariant, proportional, key-coherent") {
    import graft.operators.Splits
    val docs = Tables.documents(spark, sfDir)
    val a = Splits.assign(docs, "doc_id", "s").select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    val b = Splits.assign(docs.repartition(13), "doc_id", "s")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a == b, "assignment must not depend on partitioning")
    // proportions: 90/5/5 within 5 sigma of binomial on 500 docs
    val n = a.size.toDouble
    val train = a.values.count(_ == "train") / n
    assert(math.abs(train - 230.0 / 256) < 5 * math.sqrt(0.9 * 0.1 / n),
      s"train fraction $train off")
    // same key -> same split regardless of other columns (leakage guard)
    val byLang = Splits.assign(docs, "lang", "s")
      .select("lang", "split").distinct().count()
    assert(byLang == docs.select("lang").distinct().count(),
      "all docs of one key must land in one split")
    // different salt re-splits
    val c = Splits.assign(docs, "doc_id", "other-salt")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(c != a, "salt must give an independent split")
    // 100%-boundary thresholds: the "100" > "ff" lexicographic trap
    val all95 = Splits.assign(docs, "doc_id", "s", trainPct = 95, valPct = 5)
      .select("split").distinct().as[String].collect().toSet
    assert(all95 == Set("train", "val"),
      s"95/5/0 must produce no test rows, got $all95")
    val all100 = Splits.assign(docs, "doc_id", "s", trainPct = 100, valPct = 0)
      .select("split").distinct().as[String].collect().toSet
    assert(all100 == Set("train"), s"100/0/0 must be all train, got $all100")
  }

  test("weighted sample: exact k, partition-invariant, salt-independent, weight-proportional") {
    import graft.operators.Splits
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("w"))
    val s1 = Splits.weightedSample(docs, "doc_id", "w", 50, "ws-spec")
      .select("doc_id").as[Long].collect().toSet
    val s2 = Splits.weightedSample(docs.repartition(13), "doc_id", "w", 50, "ws-spec")
      .select("doc_id").as[Long].collect().toSet
    assert(s1.size == 50, s"exact-k violated: ${s1.size}")
    assert(s1 == s2, "sample must not depend on partitioning")
    val s3 = Splits.weightedSample(docs, "doc_id", "w", 50, "other-salt")
      .select("doc_id").as[Long].collect().toSet
    assert(s3 != s1, "salt must give an independent draw")
    // proportional-to-weight: planted 250 heavy (w=200) vs 250 light (w=1)
    // rows; expected light-in-sample count ≈ 0.3, so ≥45 heavy is ~certain
    // under correct ES and fails for uniform sampling (which would draw
    // ~25 heavy) — a distribution bug, not a flake, trips this
    val planted = spark.range(500).select(col("id").as("k"),
      when(col("id") < 250, 200L).otherwise(1L).as("w"))
    val heavy = Splits.weightedSample(planted, "k", "w", 50, "ws-spec")
      .filter(col("w") === 200).count()
    assert(heavy >= 45, s"heavy-weight rows undersampled: $heavy/50")
  }

  test("gopher rules: each planted violation fails exactly its rule") {
    import graft.operators.QualityRules
    val okWords = (1 to 60).map(i => s"word$i").mkString(" ") + " the be"
    val docs = Seq[(Long, String)](
      1L -> okWords,                                      // passes all
      2L -> "too short the be",                           // r_word_count
      3L -> ((1 to 60).map(_ => "extraordinarily").mkString(" ") + " the be"), // r_mean_len (mean > 10)
      4L -> ((1 to 60).map(_ => "## #").mkString(" ") + " the be"),  // r_symbol (+ alpha fails too)
      5L -> ((1 to 60).map(i => s"word$i").mkString(" ") + (" 123 456 789 " * 20) + " the be"), // r_alpha
      6L -> (1 to 60).map(i => s"word$i").mkString(" ")   // r_stop (no stopwords)
    ).toDF("doc_id", "text")
    val g = docs.select(col("doc_id"),
      QualityRules.gopherRuleFlags(col("text")).as("g")).orderBy("doc_id")
    val rows = g.select(col("doc_id"), col("g.r_word_count"), col("g.r_mean_len"),
      col("g.r_symbol"), col("g.r_alpha"), col("g.r_stop"), col("g.keep"))
      .collect()
    def row(id: Long) = rows.find(_.getLong(0) == id).get
    assert(row(1).getBoolean(6), "clean doc must keep")
    assert(!row(2).getBoolean(1) && !row(2).getBoolean(6), "short doc fails word count")
    assert(!row(3).getBoolean(2), "long words fail mean length")
    assert(!row(4).getBoolean(3), "symbol-heavy fails symbol ratio")
    assert(!row(5).getBoolean(4), "digit-heavy fails alpha fraction")
    assert(!row(6).getBoolean(5) && !row(6).getBoolean(6), "no stopwords fails r_stop")
    // bullet/ellipsis line rules on a multi-line doc
    val lines = (("• a\n" * 95) + "tail the be " + (1 to 60).map(i => s"w$i").mkString(" "))
    val lr = Seq(7L -> lines).toDF("doc_id", "text")
      .select(QualityRules.gopherRuleFlags(col("text")).as("g"))
      .select(col("g.r_bullet")).head()
    assert(!lr.getBoolean(0), ">90% bullet lines must fail r_bullet")
    // filter form keeps exactly the keep=true docs
    assert(QualityRules.gopherFilter(docs, "text").count() ==
      rows.count(_.getBoolean(6)))
  }

  test("top-ngram fractions: known repetition mass, native == relational on the corpus") {
    import graft.operators.QualityRules
    // "ab ab ab cd" : bigram 'ab ab' occurs 2x (len 5) -> mass 10, chars 11
    val one = Seq(1L -> "ab ab ab cd").toDF("doc_id", "text")
    val r = QualityRules.topNgramCharFractions(one, "doc_id", "text", Seq(2))
      .select(col("chars"), col("top2_frac")).head()
    assert(r.getLong(0) == 11L)
    assert(math.abs(r.getDouble(1) - math.floor(10.0 / 11 * 10000 + 0.5) / 10000) < 1e-12,
      s"top2_frac = ${r.getDouble(1)}")
    // no repeated trigram -> 0.0
    val r3 = QualityRules.topNgramCharFractions(one, "doc_id", "text", Seq(3))
      .select(col("top3_frac")).head().getDouble(0)
    assert(r3 == 0.0, s"expected 0 trigram mass, got $r3")
    // native narrow form == relational string-gram exchange form
    // corpus-wide; the native plan carries no Exchange
    val corpus = Tables.documents(spark, sfDir)
    val native = QualityRules.topNgramCharFractions(corpus, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val relational = ParityWitnesses.topNgramCharFractionsRelational(corpus,
      "doc_id", "text").orderBy("doc_id").collect().toSeq
    assert(native == relational,
      "native per-row form must reproduce the relational result")
    assert(native.exists(_.getDouble(2) > 0), "corpus should have SOME repeated bigrams")
    val plan = QualityRules.topNgramCharFractions(corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"per-doc repetition stats must not shuffle:\n$plan")
  }

  test("perplexity buckets: per-class tiles balanced, head outranks tail") {
    import graft.operators.LanguageModel
    val docs = Tables.documents(spark, sfDir)
    val b = LanguageModel.perplexityBuckets(docs, "doc_id", "text", "lang",
      nBuckets = 3)
    val sizes = b.groupBy("lang", "bucket").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val langs = sizes.keys.map(_._1).toSet
    langs.foreach { l =>
      val s = (1L to 3L).map(i => sizes.getOrElse((l, i), 0L))
      assert(s.max - s.min <= 1, s"ntile must balance within 1 for $l: $s")
    }
    // every head doc's ll >= every tail doc's ll, per class
    val viol = b.filter(col("bucket") === 1).as("h")
      .join(b.filter(col("bucket") === 3).as("t"), col("h.lang") === col("t.lang"))
      .filter(col("h.ll") < col("t.ll")).count()
    assert(viol == 0, s"$viol head/tail inversions")
  }

  test("weighted sample: non-positive weight fails loudly, not silently") {
    import graft.operators.Splits
    // w=0 used to yield +Inf (row never sampled) and w<0 inverted the
    // race — both silent; the in-plan guard raises instead
    val bad = spark.range(10).select(col("id").as("k"),
      when(col("id") === 7, 0L).otherwise(5L).as("w"))
    val e = intercept[Exception] {
      Splits.weightedSample(bad, "k", "w", 3, "guard-spec").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("strictly positive")),
      s"expected the weight guard to fire, got: ${messages(e)}")
  }

  test("temperature mix: null-class rows are rated and kept, not silently dropped") {
    import graft.operators.Splits
    // 400 'common' + 100 NULL-class rows; the null class must behave as
    // its own stratum (not vanish in the rate join)
    val planted = spark.range(500).select(col("id").as("k"),
      when(col("id") < 400, "common").otherwise(lit(null: String)).as("c"))
    val mixed = Splits.temperatureMix(planted, "k", "c", 0.5, 200L, "tm-null")
    val nullKept = mixed.filter(col("c").isNull).count()
    // alpha=0.5 rate for the n=100 class is ~0.667 (same arithmetic as the
    // planted-imbalance test): expectation ~66.7, sigma ~4.7 — >= 40 is
    // ~5-sigma-safe and zero (the old silent-drop behavior) always fails
    assert(nullKept >= 40, s"null-class rows dropped or undersampled: $nullKept")
    val total = mixed.count()
    assert(math.abs(total - 200L) <= 55, s"budget missed with null class: $total")
  }

  test("span removal: null text yields (0, '') like dropDuplicateParagraphs") {
    val docs = Seq((1L, "some unique words here"), (2L, null: String))
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
    assert(out == Seq((1L, 4L, "some unique words here"), (2L, 0L, "")),
      s"null text must coalesce to (0, ''), got $out")
  }

  test("span removal: cuts exactly the d12 spans, keeps clean docs verbatim, hashed == plain") {
    // two docs share a 10-token run (covered by duplicated 8-grams);
    // the run must vanish from BOTH, surrounding text stitched in order
    val shared = (1 to 10).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"one two three $shared four"),
      (3L, "totally unique words with no repeats at all here")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 4L, "alpha beta gamma delta"),
      (2L, 4L, "one two three four"),
      (3L, 9L, "totally unique words with no repeats at all here")),
      s"wrong span removal: $out")
    // law: n_kept == n_toks - dup_toks from duplicateSpanStats, corpus-wide
    val corpus = Tables.documents(spark, sfDir)
    val removed = Dedup.removeDuplicateSpans(corpus, "doc_id", "text", k = 8)
    val stats = Dedup.duplicateSpanStats(corpus, "doc_id", "text", k = 8)
    val viol = removed.join(stats, "doc_id")
      .filter(col("n_kept") =!= col("n_toks") -
        coalesce(col("dup_toks"), lit(0L)))
      .count()
    assert(viol == 0, s"$viol docs break n_kept == n_toks - dup_toks")
    val kept = removed.as[(Long, Long, String)].collect().toSeq
    assert(kept.exists(r => r._2 == 0 || r._3.isEmpty) ||
      kept.map(_._2).sum < corpus.select(
        sum(size(split(col("text"), " ")))).as[Long].head(),
      "corpus must actually lose duplicated spans (vacuous test?)")
  }

  test("paragraph dedup: boilerplate dropped everywhere, order kept, hashed == plain") {
    // CCNet semantics: the shared banner paragraph vanishes from every
    // doc (including its first occurrence); unique paragraphs survive
    // in original order; an all-boilerplate doc reduces to ""
    val docs = Seq(
      (1L, "cookie banner\nalpha one\nbeta two"),
      (2L, "gamma three\ncookie banner\ndelta four"),
      (3L, "cookie banner")
    ).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateParagraphs(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, "alpha one\nbeta two"),
      (2L, 2L, "gamma three\ndelta four"),
      (3L, 0L, "")), s"wrong paragraph dedup: $out")
    // threshold: minOccurrences=3 spares a twice-occurring paragraph
    val spared = Dedup.dropDuplicateParagraphs(
        docs.filter(col("doc_id") =!= 3L), "doc_id", "text",
        minOccurrences = 3)
      .orderBy("doc_id").select("n_kept").as[Long].collect().toSeq
    assert(spared == Seq(3L, 3L), "below-threshold paragraphs must survive")
    // the real corpus (10-token pseudo-paragraph form, as in the gate)
    val toks = split(col("text"), " ")
    val nChunks = ((size(toks) + lit(9)) / lit(10)).cast("int")
    val chunked = Tables.documents(spark, sfDir).select(col("doc_id"),
      array_join(transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(toks, i * lit(10) + lit(1), lit(10)), " ")),
        "\n").as("text"))
    val kept = Dedup.dropDuplicateParagraphs(chunked, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
    assert(kept.nonEmpty)
    assert(kept.exists(_._2 == 0) || kept.map(_._2).sum <
      chunked.select(sum(size(split(col("text"), "\n")))).as[Long].head(),
      "corpus must actually lose duplicated paragraphs (vacuous test?)")
  }

  test("canonical keep: longest cluster member survives, singletons pass through") {
    // two planted clusters (by explicit pairs) + a singleton: the
    // highest-score member of each cluster is kept, ties break min-id
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 20L), // cluster {1,2,3} -> keep 2
      (4L, 5L), (5L, 5L),              // cluster {4,5}, tie -> keep 4
      (9L, 1L)                         // singleton -> kept
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val kept = Dedup.keepBestPerCluster(docs, "doc_id", "score", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L, 9L), s"wrong canonical set: $kept")
    // schema passes through unchanged
    assert(Dedup.keepBestPerCluster(docs, "doc_id", "score", pairs)
      .columns.toSeq == Seq("doc_id", "score"))
    // corpus-level: output size = corpus - (clustered - clusters), and
    // partition layout must not matter
    val corpus = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"),
        col("text"))
    val cPairs = Dedup.minhashLshPairs(corpus, "doc_id", "text", 3, 64, 16, 0.8)
    val k1 = Dedup.keepBestPerCluster(corpus, "doc_id", "n", cPairs)
      .select("doc_id").as[Long].collect().toSet
    val k2 = Dedup.keepBestPerCluster(corpus.repartition(13), "doc_id", "n", cPairs)
      .select("doc_id").as[Long].collect().toSet
    assert(k1 == k2, "canonical keep must not depend on partitioning")
    val lab = Dedup.duplicateClusters(cPairs)
    val clustered = lab.count()
    val nClusters = lab.select("rep").distinct().count()
    assert(k1.size == corpus.count() - (clustered - nClusters),
      "must drop exactly (clustered - clusters) docs")
    spark.catalog.clearCache() // minhashLshPairs persists internally
  }

  test("per-class weighted sample: exact k per class, partition-invariant, weight-biased within class") {
    import graft.operators.Splits
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("w"))
    val s1 = Splits.weightedSamplePerClass(docs, "doc_id", "lang", "w", 10, "wc-spec")
    val perClass = s1.groupBy("lang").count().select("count").as[Long].collect()
    val classSizes = docs.groupBy("lang").count().select("count").as[Long].collect()
    assert(perClass.forall(_ <= 10) && perClass.length == classSizes.length,
      s"per-class cap violated: ${perClass.mkString(",")}")
    assert(perClass.sum == classSizes.map(math.min(_, 10L)).sum,
      "classes smaller than k must be kept whole, others at exactly k")
    val m1 = s1.select("doc_id").as[Long].collect().toSet
    val m2 = Splits.weightedSamplePerClass(docs.repartition(13),
        "doc_id", "lang", "w", 10, "wc-spec")
      .select("doc_id").as[Long].collect().toSet
    assert(m1 == m2, "sample must not depend on partitioning")
    // within-class weight bias: one class, 50 heavy (w=200) + 200 light
    // (w=1), k=10 -> expected light draws ~0.25, so >=8 heavy is ~certain
    // under ES and fails uniform (expected 2 heavy)
    val planted = spark.range(250).select(col("id").as("k"), lit("c").as("c"),
      when(col("id") < 50, 200L).otherwise(1L).as("w"))
    val heavy = Splits.weightedSamplePerClass(planted, "k", "c", "w", 10, "wc-spec")
      .filter(col("w") === 200).count()
    assert(heavy >= 8, s"heavy rows undersampled within class: $heavy/10")
  }

  test("temperature mix: deterministic, budget-calibrated, upweights rare classes, caps at 1") {
    import graft.operators.Splits
    // planted 4:1 class imbalance; alpha=0.5 rates: common n=400 w=20,
    // rare n=100 w=10 -> targets 133.3/66.7 -> rates 0.333/0.667
    val planted = spark.range(500).select(col("id").as("k"),
      when(col("id") < 400, "common").otherwise("rare").as("c"))
    val mixed = Splits.temperatureMix(planted, "k", "c", 0.5, 200L, "tm-spec")
    val m1 = mixed.select("k").as[Long].collect().toSet
    val m2 = Splits.temperatureMix(planted.repartition(13), "k", "c", 0.5, 200L, "tm-spec")
      .select("k").as[Long].collect().toSet
    assert(m1 == m2, "mix must not depend on partitioning")
    // total within 5 sigma of the 200 budget (sigma = sqrt(sum n r(1-r)) ~ 10.5)
    assert(math.abs(m1.size - 200) <= 53, s"budget missed: ${m1.size} vs 200")
    // rare-class share must exceed its alpha=1 (proportional) share
    val rareAt05 = mixed.filter(col("c") === "rare").count().toDouble / m1.size
    val prop = Splits.temperatureMix(planted, "k", "c", 1.0, 200L, "tm-spec")
    val rareAt1 = prop.filter(col("c") === "rare").count().toDouble / prop.count()
    assert(rareAt05 > rareAt1 + 0.05,
      s"alpha=0.5 must upweight the rare class: $rareAt05 vs $rareAt1")
    // budget >= corpus: every rate caps at 1, nothing dropped
    val all = Splits.temperatureMix(planted, "k", "c", 0.5, 10000L, "tm-spec")
    assert(all.count() == 500, "capped rates must keep every row")
  }

  test("fuzzy decontamination: banded+verified == exhaustive jaccard; edit-noise leak caught") {
    val docs = Tables.documents(spark, sfDir)
    val bench = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val got = Dedup.fuzzyDecontaminate(corpus, "doc_id", bench, "bench_id", "text")
      .select("doc_id", "bench_id").as[(Long, Long)].collect().toSet
    val cs = corpus.select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("s"))
    val bs = bench.select(col("bench_id"), Dedup.wordShingles(col("text"), 3).as("t"))
    val exact = cs.crossJoin(bs)
      .filter(Dedup.jaccard(col("s"), col("t")) >= 0.8)
      .select("doc_id", "bench_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "test data lost its cross-split near-dups?")
    assert(got == exact, s"missed ${exact -- got}, extra ${got -- exact}")
    // a format-drifted eval leak (benchmark doc with 5% of its tail tokens
    // dropped — the case exact-gram decontamination misses) must be caught
    val benchText = bench.orderBy(col("bench_id")).select("text").as[String].head()
    val toks = benchText.split(" ")
    val drifted = toks.take(toks.length - math.max(1, toks.length / 20)).mkString(" ")
    val corpus2 = corpus.select(col("doc_id"), col("text"))
      .union(Seq((9001L, drifted)).toDF("doc_id", "text"))
    val flagged = Dedup.fuzzyDecontaminate(corpus2, "doc_id", bench, "bench_id", "text")
      .filter(col("doc_id") === 9001L)
      .select("bench_id").as[Long].collect().toSet
    assert(flagged.contains(
      bench.orderBy(col("bench_id")).select("bench_id").as[Long].head()),
      "drifted copy of a benchmark doc escaped fuzzy decontamination")
  }

  test("BPE: classic hug/pug/hugs corpus learns the textbook merges") {
    import graft.functions.Bpe
    // HF tokenizers' canonical example: hug x10, pug x5, hugs x5
    val words = Array(("hug", 10L), ("pug", 5L), ("hugs", 5L))
    val model = Bpe.trainFromWordCounts(words, nMerges = 3)
    // (u,g) at 20 wins round 1; (h,ug) ties (ug,</w>) at 15, lexicographic
    // tie-break picks "h" < "ug"; (hug,</w>) at 10 wins round 3
    assert(model.merges == Seq(("u", "g"), ("h", "ug"), ("hug", Bpe.EndOfWord)),
      s"got ${model.merges}")

    // distributed train over a DataFrame with those frequencies agrees
    val corpus = (Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++ Seq.fill(5)("hugs"))
      .map(Tuple1(_)).toDF("text")
    assert(Bpe.train(corpus, "text", nMerges = 3).merges == model.merges,
      "distributed word-count train must equal serial train")
    // the FULLY distributed trainer (per-round pair-count aggregates)
    // learns the identical model under the same argmax total order
    assert(Bpe.trainDistributed(corpus, "text", nMerges = 3,
        serialUnder = 0L).merges == model.merges,
      "trainDistributed must equal the serial trainer")

    // encode applies merges greedily lowest-rank-first
    val enc = corpus.limit(1).select(Bpe.encode(model)(lit("hug pug hugs")))
      .as[Seq[String]].head()
    assert(enc == Seq("hug" + Bpe.EndOfWord,
      "p", "ug", Bpe.EndOfWord, "hug", "s", Bpe.EndOfWord), s"got $enc")

    // nulls/empties are safe; token count matches encode length
    val cnt = corpus.limit(1)
      .select(Bpe.tokenCount(model)(lit("hug pug hugs")).as("n"),
        Bpe.tokenCount(model)(lit(null.asInstanceOf[String])).as("z"))
      .as[(Int, Int)].head()
    assert(cnt == ((7, 0)), s"got $cnt")

    // decode inverts encode up to whitespace normalization, including
    // repeated-space input and the empty string
    val dec = corpus.limit(1).select(
        Bpe.decode(Bpe.encode(model)(lit("hug  pug hugs"))).as("a"),
        Bpe.decode(Bpe.encode(model)(lit(""))).as("b"))
      .as[(String, String)].head()
    assert(dec == (("hug pug hugs", "")), s"got $dec")
  }

  test("BPE on the corpus: deterministic model, compression > 1 subword/word") {
    import graft.functions.Bpe
    val docs = Tables.documents(spark, sfDir)
    val m1 = Bpe.train(docs, "text", nMerges = 32)
    val m2 = Bpe.train(docs, "text", nMerges = 32)
    assert(m1.merges == m2.merges, "training must be deterministic")
    assert(m1.merges.size == 32, "corpus is rich enough for 32 merges")
    // the corpus vocabulary fits the serial cap, so the distributed
    // trainer must learn the exact same merge list on real text too
    val md = Bpe.trainDistributed(docs, "text", nMerges = 32,
      serialUnder = 0L)
    assert(md.merges == m1.merges,
      s"distributed trainer drifted: ${md.merges} vs ${m1.merges}")
    val stats = docs.select(
        size(split(col("text"), " ")).cast("double").as("w"),
        Bpe.tokenCount(m1)(col("text")).cast("double").as("b"))
      .agg(sum(col("b")).as("b"), sum(col("w")).as("w"))
      .as[(Double, Double)].head()
    // chars-per-word >> merges learned, so subwords/word stays > 1 but
    // far below chars/word: encode is actually merging
    val perWord = stats._1 / stats._2
    assert(perWord > 1.0 && perWord < 6.0,
      s"suspicious subwords/word ratio $perWord")
  }

  test("WordPiece: likelihood-scored merges on the textbook corpus; greedy longest-match encode") {
    import graft.functions.WordPiece
    // HF tokenizers' WordPiece example corpus: the likelihood ratio
    // count(ab)/(count(a)·count(b)) must pick (##g,##s) FIRST even
    // though its raw pair count (5) is the smallest — ##s only ever
    // follows ##g. Rounds 2 and 3 are all-tie rounds (every score
    // floors to 1e12/36 resp. 1e12/21), so they pin the quantized
    // integer argmax AND the utf8 lexicographic tie-break.
    val words = Array(("hug", 10L), ("pug", 5L), ("pun", 12L),
      ("bun", 4L), ("hugs", 5L))
    val model = WordPiece.trainFromWordCounts(words, nMerges = 3)
    assert(model.merges == Seq(("##g", "##s"), ("##u", "##g"),
      ("##u", "##gs")), s"got ${model.merges}")
    assert(model.vocab == Set("h", "##u", "##g", "p", "##n", "b", "##s",
      "##gs", "##ug", "##ugs"), s"got ${model.vocab}")

    // both DataFrame trainers agree with the serial word-count loop
    val corpus = (Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
        Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs"))
      .map(Tuple1(_)).toDF("text")
    assert(WordPiece.train(corpus, "text", nMerges = 3).merges ==
      model.merges, "word-count train must equal serial train")
    assert(WordPiece.trainDistributed(corpus, "text", nMerges = 3).merges ==
      model.merges, "trainDistributed must equal the serial trainer")

    // greedy longest-match-first: "hugs" takes ##ugs whole, never ##ug+s
    assert(WordPiece.encodeWord("hugs", model.vocab) ==
      Vector("h", "##ugs"))
    assert(WordPiece.encodeWord("pun", model.vocab) ==
      Vector("p", "##u", "##n"))
    // cross-word generalization: b + ##ug never co-occurred in training
    assert(WordPiece.encodeWord("bug", model.vocab) ==
      Vector("b", "##ug"))
    // unknown alphabet -> the whole word is one [UNK]
    assert(WordPiece.encodeWord("mug", model.vocab) ==
      Vector(WordPiece.Unk))
    // a word whose literal text starts with "##" must NOT match a
    // continuation piece at position 0 (decode would glue it onto the
    // previous word, breaking the round trip): "##ug" has no plain "#"
    // piece in this vocab, so it falls to [UNK] — never to ["##ug"]
    assert(WordPiece.encodeWord("##ug", model.vocab) ==
      Vector(WordPiece.Unk))

    // column paths: encode/tokenCount/decode with nulls and empties
    val enc = corpus.limit(1)
      .select(WordPiece.encode(model)(lit("hug pug hugs")))
      .as[Seq[String]].head()
    assert(enc == Seq("h", "##ug", "p", "##ug", "h", "##ugs"), s"got $enc")
    val cnt = corpus.limit(1)
      .select(WordPiece.tokenCount(model)(lit("hug pug hugs")).as("n"),
        WordPiece.tokenCount(model)(lit(null.asInstanceOf[String])).as("z"))
      .as[(Int, Int)].head()
    assert(cnt == ((6, 0)), s"got $cnt")
    val dec = corpus.limit(1).select(
        WordPiece.decode(WordPiece.encode(model)(lit("hug  pun hugs"))).as("a"),
        WordPiece.decode(WordPiece.encode(model)(lit(""))).as("b"),
        WordPiece.decode(WordPiece.encode(model)(lit("mug"))).as("c"))
      .as[(String, String, String)].head()
    assert(dec == (("hug pun hugs", "", WordPiece.Unk)), s"got $dec")
  }

  test("WordPiece vocab.txt round trip: byte-deterministic artifact, encode-identical import") {
    import graft.functions.WordPiece
    val words = Array(("hug", 10L), ("pug", 5L), ("pun", 12L),
      ("bun", 4L), ("hugs", 5L))
    val model = WordPiece.trainFromWordCounts(words, nMerges = 3)
    val dir = java.nio.file.Files.createTempDirectory("wpvocab")
    val p1 = dir.resolve("vocab.txt"); val p2 = dir.resolve("vocab2.txt")
    WordPiece.saveVocab(model, p1)
    // deterministic artifact: retraining writes identical bytes
    WordPiece.saveVocab(WordPiece.trainFromWordCounts(words, 3), p2)
    assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(p1),
      java.nio.file.Files.readAllBytes(p2)), "artifact must be byte-stable")
    // BERT convention: [UNK] line 0, base alphabet utf8-sorted, merges
    // in training order (id = line number)
    val lines = new String(java.nio.file.Files.readAllBytes(p1), "UTF-8")
      .split("\n").toSeq
    assert(lines.head == WordPiece.Unk, s"line 0 must be [UNK]: $lines")
    assert(lines.takeRight(3) == Seq("##gs", "##ug", "##ugs"),
      s"merged tokens must close the file in training order: $lines")
    // an imported model encodes identically (the encoder needs only
    // the vocabulary)
    val imported = WordPiece.loadVocab(p1)
    assert(imported.vocab == model.vocab)
    for (w <- Seq("hugs", "pun", "bug", "mug"))
      assert(WordPiece.encodeWord(w, imported.vocab) ==
        WordPiece.encodeWord(w, model.vocab), s"import drift on $w")
  }

  test("WordPiece on the corpus: deterministic, distributed parity, UNK-free self-encode") {
    import graft.functions.WordPiece
    val docs = Tables.documents(spark, sfDir)
    val m1 = WordPiece.train(docs, "text", nMerges = 32)
    val m2 = WordPiece.train(docs, "text", nMerges = 32)
    assert(m1.merges == m2.merges, "training must be deterministic")
    assert(m1.merges.size == 32, "corpus is rich enough for 32 merges")
    val md = WordPiece.trainDistributed(docs, "text", nMerges = 32)
    assert(md.merges == m1.merges,
      s"distributed trainer drifted: ${md.merges} vs ${m1.merges}")
    assert(md.vocab == m1.vocab, "vocabularies must agree too")
    // the training corpus' own alphabet is in the vocab, so encoding the
    // corpus never hits [UNK] and the per-word piece count is bounded by
    // the word's code-point count
    val stats = docs.select(
        size(split(col("text"), " ")).cast("double").as("w"),
        WordPiece.tokenCount(m1)(col("text")).cast("double").as("p"),
        (size(filter(WordPiece.encode(m1)(col("text")),
          t => t === WordPiece.Unk)) > 0).as("unk"))
      .agg(sum(col("p")).as("p"), sum(col("w")).as("w"),
        max(col("unk")).as("unk"))
      .as[(Double, Double, Boolean)].head()
    assert(!stats._3, "self-encode must be UNK-free")
    val perWord = stats._1 / stats._2
    assert(perWord > 1.0 && perWord < 6.0,
      s"suspicious pieces/word ratio $perWord")
  }

  test("ByteBpe: bytes_to_unicode bijection and byte base symbols") {
    import graft.functions.ByteBpe
    // 256 distinct single-BMP-char symbols; the bijection inverts
    assert(ByteBpe.byteToChar.length == 256)
    assert(ByteBpe.byteToChar.toSet.size == 256, "map must be injective")
    assert(ByteBpe.byteToChar.forall(_.length == 1), "all symbols 1 char")
    // the published landmarks: printable ASCII maps to itself, space to Ġ
    assert(ByteBpe.byteToChar(65) == "A")
    assert(ByteBpe.byteToChar(32) == "Ġ", "space must map to Ġ")
    // symbols are one per UTF-8 BYTE: é = C3 A9 (C3='Ã' printable-high,
    // A9=©' in the 161..172 printable run), 😀 = 4 bytes
    assert(ByteBpe.baseSymbols("hug") == Vector("h", "u", "g"))
    assert(ByteBpe.baseSymbols(" é") ==
      Vector("Ġ", "Ã", "©"))
    assert(ByteBpe.baseSymbols("😀").length == 4,
      "supplementary-plane cp is its 4 UTF-8 bytes, never a split pair")
  }

  test("ByteBpe: pre-tokenizer keeps spaces as data; column split agrees") {
    import graft.functions.ByteBpe
    val cases = Seq("a b", "a  b", " leading", "trailing ", "", " ",
      "tab\tand\nnewline", "x")
    assert(ByteBpe.pretokens("a b").toSeq == Seq("a", " b"))
    assert(ByteBpe.pretokens("a  b").toSeq == Seq("a", " ", " b"))
    assert(ByteBpe.pretokens(" leading").toSeq == Seq(" leading"))
    assert(ByteBpe.pretokens("").toSeq == Seq.empty)
    // concatenation is the identity — spaces are data, not separators
    for (s <- cases) assert(ByteBpe.pretokens(s).mkString == s)
    // the trainers' COLUMN-side split must agree with the Scala
    // pre-tokenizer (both use PretokPattern; this pins Spark's regex
    // split to Java's zero-width-lookahead semantics)
    val got = cases.toDF("t")
      .select(col("t"),
        filter(split(col("t"), ByteBpe.PretokPattern),
          w => length(w) > 0).as("p"))
      .as[(String, Seq[String])].collect().toMap
    for (s <- cases)
      assert(got(s) == ByteBpe.pretokens(s).toSeq,
        s"column split drift on '$s': ${got(s)}")
  }

  test("ByteBpe: merge training argmax; serial == distributed; encode merges") {
    import graft.functions.ByteBpe
    // pair counts: (u,g)=27 wins round 1; then (h,ug)=15; then (p,ug)=12
    val words = Array(("hug", 10L), (" hug", 5L), ("pug", 12L))
    val m = ByteBpe.trainFromWordCounts(words, nMerges = 3)
    assert(m.merges == Seq(("u", "g"), ("h", "ug"), ("p", "ug")),
      s"got ${m.merges}")
    assert(m.vocab.contains("hug") && m.vocab.contains("pug"))
    assert(m.vocab.size == 256 + 3, "vocab = 256 base + one per merge")
    // DataFrame trainers re-derive the same pretoken counts ("hug hug"
    // = pretokens hug + Ġhug, so 5 such docs + 5 bare "hug" = 10 plain
    // + 5 spaced) and the same model
    val corpus = (Seq.fill(5)("hug hug") ++ Seq.fill(5)("hug") ++
        Seq.fill(12)("pug")).map(Tuple1(_)).toDF("text")
    assert(ByteBpe.train(corpus, "text", nMerges = 3).merges == m.merges)
    assert(ByteBpe.trainDistributed(corpus, "text", nMerges = 3,
      serialUnder = 0L).merges ==
      m.merges, "distributed trainer must learn the identical model")
    // " pug" segments Ġ+pug (no Ġp merge learned; p+ug fires, then no
    // rank for (Ġ,pug))
    val enc = corpus.limit(1)
      .select(ByteBpe.encode(m)(lit("hug pug"))).as[Seq[String]].head()
    assert(enc == Seq("hug", "Ġ", "pug"), s"got $enc")
  }

  test("ByteBpe: decode∘encode is the identity on arbitrary text (no UNK, no sentinel)") {
    import graft.functions.ByteBpe
    val words = Array(("hug", 10L), (" hug", 5L), ("pug", 12L))
    val m = ByteBpe.trainFromWordCounts(words, nMerges = 3)
    // the OTHER families' in-band markers are just bytes here; so are
    // repeated/leading/trailing spaces, control chars, emoji, and the
    // literal Ġ glyph (its UTF-8 bytes C4 A0 encode through the byte
    // map, never through the single mapped symbol — bijection)
    val adv = Seq("## leading", "tail</w>", "[UNK]", "a  b", " lead",
      "trail ", "", " ", "😀🎈", "t\tn\nr\r", "Ġ glyph", "héllo wörld")
    val got = adv.toDF("t")
      .select(col("t"),
        ByteBpe.decode(ByteBpe.encode(m)(col("t"))).as("rt"),
        ByteBpe.tokenCount(m)(col("t")).as("n"),
        size(ByteBpe.encode(m)(col("t"))).as("sz"))
      .as[(String, String, Int, Int)].collect()
    for ((t, rt, n, sz) <- got) {
      assert(rt == t, s"round trip broke on '$t': '$rt'")
      assert(n == sz, s"tokenCount parity broke on '$t': $n vs $sz")
      val nBytes = t.getBytes("UTF-8").length
      assert(n <= nBytes, s"'$t': $n tokens > $nBytes bytes")
      assert(n >= ByteBpe.pretokens(t).length, s"'$t': too few tokens")
    }
    // null text -> empty tokens -> decode "" (not null)
    val nt = adv.toDF("t").limit(1)
      .select(ByteBpe.decode(ByteBpe.encode(m)(lit(null
        .asInstanceOf[String]))))
      .as[String].head()
    assert(nt == "", s"null text must encode to [] and decode to '': $nt")
  }

  test("ByteBpe: decode fails loud on a char outside the mapped alphabet") {
    import graft.functions.ByteBpe
    val bad = Seq(Seq("h", "☃")).toDF("toks")
    val e = intercept[Exception] {
      bad.select(ByteBpe.decode(col("toks"))).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(e).exists(_.isInstanceOf[IllegalArgumentException]),
      s"expected IllegalArgumentException in cause chain: $e")
  }

  test("ByteBpe merges.txt round trip: byte-deterministic artifact, rank-identical import") {
    import graft.functions.ByteBpe
    val words = Array(("hug", 10L), (" hug", 5L), ("pug", 12L))
    val model = ByteBpe.trainFromWordCounts(words, nMerges = 3)
    val dir = java.nio.file.Files.createTempDirectory("bbmerges")
    val p1 = dir.resolve("merges.txt"); val p2 = dir.resolve("merges2.txt")
    ByteBpe.saveMerges(model, p1)
    ByteBpe.saveMerges(ByteBpe.trainFromWordCounts(words, 3), p2)
    assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(p1),
      java.nio.file.Files.readAllBytes(p2)), "artifact must be byte-stable")
    val lines = new String(java.nio.file.Files.readAllBytes(p1), "UTF-8")
      .split("\n").toSeq
    assert(lines.head == "#version: 0.2", s"GPT-2 header expected: $lines")
    assert(lines.tail == Seq("u g", "h ug", "p ug"),
      s"merges in training order: $lines")
    // import carries FULL provenance: rank-identical, not merely
    // encode-identical (unlike vocab.txt)
    val imported = ByteBpe.loadMerges(p1)
    assert(imported.merges == model.merges, "rank drift on import")
    assert(imported.rank == model.rank)
    // a malformed line (two spaces = three tokens) fails loud
    val bad = dir.resolve("bad.txt")
    java.nio.file.Files.write(bad, "#version: 0.2\na b c\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException] { ByteBpe.loadMerges(bad) }
  }

  test("audioDupAssign universe excludes sub-window clips; keepBestAssigned passes them through") {
    // two planted dup clips (identical 128-sample PCM ≥ W) plus one
    // decodable clip SHORTER than the window (48 samples < W=64): the
    // assign has no row for it (zero full windows — documented), and
    // the keep-best composition must still keep it via the singleton arm
    val W = 64
    val pcmDup = Array.tabulate(128)(i => (i % 7) * 800)
    val pcmShort = Array.tabulate(48)(i => i * 100)
    val media = Seq(
      (1L, Multimodal.wavFromPcm(8000, pcmDup)),
      (2L, Multimodal.wavFromPcm(8000, pcmDup)),
      (3L, Multimodal.wavFromPcm(8000, pcmShort))).toDF("media_id", "bytes")
    val asg = Multimodal.audioDupAssign(media, windowLen = W)
      .as[(Long, Long)].collect().toMap
    assert(asg == Map(1L -> 1L, 2L -> 1L),
      s"universe must be clips with >=1 full window: $asg")
    val scored = Seq((1L, 10L), (2L, 99L), (3L, 5L)).toDF("media_id", "score")
    val kept = Dedup.keepBestAssigned(scored, "media_id", "score",
        Multimodal.audioDupAssign(media, windowLen = W))
      .as[(Long, Long)].collect().toMap
    assert(kept == Map(2L -> 99L, 3L -> 5L),
      s"short clip must survive via the singleton arm: $kept")
  }

  test("ByteBpe gpt2 pretokenizer: published boundary behavior, shared column/UDF paths") {
    import graft.functions.ByteBpe
    val g = ByteBpe.PretokGpt2
    def pt(s: String) = ByteBpe.pretokens(s, g).toSeq
    // contraction suffixes split off; the space glues to the next word
    assert(pt("don't stop") == Seq("don", "'t", " stop"))
    // letter/digit boundaries split runs
    assert(pt("abc123 def") == Seq("abc", "123", " def"))
    // punctuation runs (optional leading space)
    assert(pt("hello,world! ok") == Seq("hello", ",", "world", "!", " ok"))
    assert(pt("a (b)") == Seq("a", " (", "b", ")"))
    // interior multi-space: \s+(?!\S) peels all but the last space,
    // which attaches to the word — concatenation is still the identity
    assert(pt("a  b") == Seq("a", " ", " b"))
    assert(pt("a   b") == Seq("a", "  ", " b"))
    // trailing/leading whitespace kept as data
    assert(pt("ab ") == Seq("ab", " "))
    assert(pt(" ab") == Seq(" ab"))
    assert(pt("tab\tx\ny") == Seq("tab", "\t", "x", "\n", "y"))
    // concatenation identity on every battery string (spaces are data)
    val battery = Seq("don't", "abc123", "x  y ", " 'q'", "a\t\tb", "")
    battery.foreach(s => assert(pt(s).mkString == s, s"lossy pretok: '$s'"))
    // the column expression is the same pretokenization (shared pattern)
    val df = (battery :+ "don't stop abc123 hello,world").toDF("text")
    val colSide = df.select(
      ByteBpe.pretokensCol(col("text"), g).as("p")).as[Seq[String]].collect()
    val udfSide = df.as[String].collect().map(s => pt(s))
    assert(colSide.toSeq == udfSide.toSeq, "column/UDF pretok drift")
    // encode reads the mode off the model: a gpt2-trained model splits
    // "don't" into don|'t pieces even when no such merge trained
    val m = ByteBpe.trainFromWordCounts(
      Array(("don", 5L), ("'t", 5L)), nMerges = 2, pretok = g)
    assert(m.pretok == g)
    val enc = df.limit(1)
      .select(ByteBpe.decode(ByteBpe.encode(m)(lit("don't"))))
      .as[String].head()
    assert(enc == "don't", "gpt2-mode round trip broke")
    // loadMerges carries the declared mode
    val dir = java.nio.file.Files.createTempDirectory("gpt2m")
    val f = dir.resolve("merges.txt")
    ByteBpe.saveMerges(m, f)
    assert(ByteBpe.loadMerges(f, pretok = g).pretok == g)
    assert(ByteBpe.loadMerges(f).pretok == ByteBpe.PretokSpace)
    intercept[IllegalArgumentException] {
      ByteBpe.Model(Seq.empty, "wordpiece")
    }
  }

  test("trainDistributed census dispatch: driver-sized vocab skips the scheduled rounds") {
    import graft.functions.ByteBpe
    import java.util.concurrent.atomic.AtomicLong
    val docs = Tables.documents(spark, sfDir)
    val jobs = new AtomicLong(0)
    // scoped to a job GROUP (not a global counter) so concurrent or
    // background jobs cannot pollute the count, and settled by POLLING
    // the async listener bus to a stable value instead of fixed sleeps
    val group = "census-dispatch-spec"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def settled(): Long = {
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        var prev = -1L
        var cur = jobs.get()
        while (prev != cur && System.nanoTime() < deadline) {
          prev = cur; Thread.sleep(200); cur = jobs.get()
        }
        cur
      }
      def counted(f: => ByteBpe.Model): (ByteBpe.Model, Long) = {
        val j0 = settled()
        spark.sparkContext.setJobGroup(group, "census dispatch count")
        val m = try f finally spark.sparkContext.clearJobGroup()
        (m, settled() - j0)
      }
      val (auto, jAuto) = counted(
        ByteBpe.trainDistributed(docs, "text", nMerges = 24))
      val (dist, jDist) = counted(
        ByteBpe.trainDistributed(docs, "text", nMerges = 24, serialUnder = 0L))
      // identical model either regime (the t39 parity, re-pinned here
      // across the dispatch seam)...
      assert(auto.merges == dist.merges, "dispatch changed the model")
      // ...but the auto path must have COLLECTED (census + collect ≈ a
      // handful of jobs) while the pinned path schedules ≥1 argmax job
      // per round
      assert(jAuto < 10, s"auto path scheduled $jAuto jobs — dispatch dead?")
      assert(jDist >= 24, s"pinned path scheduled only $jDist jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ByteBpe trainDistributed maxWordRows guard fails loud on vocabulary overflow") {
    import graft.functions.ByteBpe
    val docs = Tables.documents(spark, sfDir).limit(50)
    intercept[IllegalArgumentException] {
      ByteBpe.trainDistributed(docs, "text", nMerges = 1, maxWordRows = 10L)
    }
  }

  test("ByteBpe on the corpus: deterministic, distributed parity, compresses") {
    import graft.functions.ByteBpe
    val docs = Tables.documents(spark, sfDir)
    val m1 = ByteBpe.train(docs, "text", nMerges = 32)
    assert(m1.merges.size == 32, "corpus is rich enough for 32 merges")
    assert(ByteBpe.train(docs, "text", nMerges = 32).merges == m1.merges,
      "training must be deterministic")
    val md = ByteBpe.trainDistributed(docs, "text", nMerges = 32,
      serialUnder = 0L)
    assert(md.merges == m1.merges,
      s"distributed trainer drifted: ${md.merges} vs ${m1.merges}")
    val stats = docs.select(
        expr("octet_length(text)").cast("double").as("b"),
        ByteBpe.tokenCount(m1)(col("text")).cast("double").as("n"))
      .agg(sum(col("n")).as("n"), sum(col("b")).as("b"))
      .as[(Double, Double)].head()
    assert(stats._1 < stats._2,
      s"32 merges must compress below the per-byte count: $stats")
    assert(stats._1 > stats._2 / 10.0,
      s"suspicious compression ratio: $stats")
  }

  test("Unigram: tiny corpus learns the frequent word as one piece; round-trips") {
    import graft.functions.Unigram
    val corpus = (Seq.fill(8)("ab") ++ Seq.fill(2)("abc") :+ "ab abc ab")
      .map(Tuple1(_)).toDF("text")
    val m = Unigram.train(corpus, "text", vocabSize = 64, emIters = 2,
      seedSize = 64)
    // determinism: the model is a pure function of the word counts
    val m2 = Unigram.train(corpus, "text", vocabSize = 64, emIters = 2,
      seedSize = 64)
    assert(m == m2, "training must be deterministic")
    // the dominant word segments as ONE piece after EM
    val enc = corpus.limit(1).select(Unigram.encode(m)(lit("ab abc")))
      .as[Seq[String]].head()
    assert(enc.head == Unigram.Boundary + "ab", s"got $enc")
    // decode inverts encode (repeated spaces collapse, like Bpe)
    val dec = corpus.limit(1).select(
        Unigram.decode(Unigram.encode(m)(lit("ab  abc ab"))).as("a"),
        Unigram.decode(Unigram.encode(m)(lit(""))).as("b"))
      .as[(String, String)].head()
    assert(dec == (("ab abc ab", "")), s"got $dec")
    // unseen characters fall back to single-cp UNK pieces — encode never
    // fails and decode STILL round-trips
    val unk = corpus.limit(1).select(
        Unigram.decode(Unigram.encode(m)(lit("ab xyz"))).as("a"),
        size(Unigram.encode(m)(lit("xyz"))).as("n"))
      .as[(String, Int)].head()
    assert(unk._1 == "ab xyz" && unk._2 >= 2, s"got $unk")
    // tokenCount parity with size(encode)
    val cnt = corpus.limit(1)
      .select(Unigram.tokenCount(m)(lit("ab abc xyz")).as("n"),
        size(Unigram.encode(m)(lit("ab abc xyz"))).as("s"),
        Unigram.tokenCount(m)(lit(null.asInstanceOf[String])).as("z"))
      .as[(Int, Int, Int)].head()
    assert(cnt._1 == cnt._2 && cnt._3 == 0, s"got $cnt")
  }

  test("Unigram loss-prune spends the same vocabulary budget as count-prune") {
    // the loss regime ranks only multi-cp pieces; without deducting the
    // single-cp slots the count regime spends from its vocabSize budget,
    // the loss model gets a systematically LARGER vocabulary and the
    // t35 loss>=count comparison stops isolating the prune criterion
    import graft.functions.Unigram
    val docs = Tables.documents(spark, sfDir)
    val byCount = Unigram.train(docs, "text", vocabSize = 512,
      emIters = 2, seedSize = 4096)
    val byLoss = Unigram.train(docs, "text", vocabSize = 512,
      emIters = 2, seedSize = 4096, pruneByLoss = true)
    assert(byLoss.logq.size == byCount.logq.size,
      s"equal budget required: loss=${byLoss.logq.size} count=${byCount.logq.size}")
    // ...and the criterion still wins (or ties) at the SAME budget
    assert(Unigram.corpusScore(docs, "text", byLoss) >=
      Unigram.corpusScore(docs, "text", byCount),
      "loss prune must not lose to count prune at an equal budget")
  }

  test("Unigram on the corpus: deterministic, EM improves likelihood, compresses") {
    import graft.functions.Unigram
    val docs = Tables.documents(spark, sfDir)
    val m = Unigram.train(docs, "text", vocabSize = 512, emIters = 2,
      seedSize = 4096)
    // hard-EM must not make the model WORSE on its own training words
    // than the seed it started from (quantized scores; the 0-iteration
    // model is the pruned seed itself)
    val seed = Unigram.train(docs, "text", vocabSize = 512, emIters = 0,
      seedSize = 4096)
    val sTrained = Unigram.corpusScore(docs, "text", m)
    val sSeed = Unigram.corpusScore(docs, "text", seed)
    assert(sTrained >= sSeed,
      s"EM worsened the corpus score: $sTrained < $sSeed")
    // corpus-wide round-trip + compression in one pass
    val stats = docs.select(
        (Unigram.decode(Unigram.encode(m)(col("text"))) ===
          regexp_replace(col("text"), " +", " ")).cast("long").as("rt"),
        Unigram.tokenCount(m)(col("text")).cast("double").as("b"),
        size(split(col("text"), " ")).cast("double").as("w"))
      .agg(sum(col("rt")).as("rt"), count(lit(1)).as("n"),
        sum(col("b")).as("b"), sum(col("w")).as("w"))
      .as[(Long, Long, Double, Double)].head()
    assert(stats._1 == stats._2, s"round-trip failed on ${stats._2 - stats._1} docs")
    val perWord = stats._3 / stats._4
    assert(perWord >= 1.0 && perWord < 6.0,
      s"suspicious unigram pieces/word ratio $perWord")
  }

  test("classifier: separable 2-D data reaches 100% accuracy; loss decreases") {
    import graft.operators.Classifier
    // two linearly separable clouds around (0,0) and (3,3)
    val rnd = new scala.util.Random(5)
    val rows = (0 until 200).map { i =>
      val y = i % 2
      val cx = if (y == 1) 3.0 else 0.0
      (Seq(cx + rnd.nextGaussian() * 0.4, cx + rnd.nextGaussian() * 0.4), y)
    }
    val df = rows.toDF("features", "label")
    val m = Classifier.fit(df, "features", "label", iters = 100, lr = 1.0)
    // loss monotone non-increasing (full-batch GD with a sane lr)
    m.losses.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a + 1e-9, s"loss increased: $a -> $b")
    }
    val acc = df.select(
        ((Classifier.score(m)(col("features")) >= 0.5).cast("int") === col("label"))
          .cast("int").as("ok"))
      .agg(avg(col("ok"))).as[Double].head()
    assert(acc == 1.0, s"separable data must fit exactly, got $acc")
    // determinism: same data, same model
    val m2 = Classifier.fit(df, "features", "label", iters = 100, lr = 1.0)
    assert(m2.weights.toSeq == m.weights.toSeq && m2.intercept == m.intercept)
  }

  test("PCA: planted principal axis recovered; projection matches hand math") {
    import graft.ann.Pca
    // points strictly along direction (0.6, 0.8) from mean (10, 20):
    // first component must be exactly that axis, second variance ~ 0
    val ts = Seq(-3.0, -1.0, 0.0, 2.0, 2.0)
    val rows = ts.map(t =>
      Tuple1(Seq((10 + t * 0.6).toFloat, (20 + t * 0.8).toFloat)))
    val df = rows.toDF("embedding")
    val m = Pca.fit(df, "embedding", 2)
    assert(math.abs(m.components(0)(0) - 0.6) < 1e-5 &&
      math.abs(m.components(0)(1) - 0.8) < 1e-5,
      s"axis ${m.components(0).toSeq}")
    val tsMean = ts.sum / ts.size
    val wantVar = ts.map(t => (t - tsMean) * (t - tsMean)).sum / ts.size
    assert(math.abs(m.variances(0) - wantVar) < 1e-4, s"var ${m.variances.toSeq}")
    assert(math.abs(m.variances(1)) < 1e-6, "off-axis variance must vanish")
    // projection of a known point: coordinate = t (up to float32 input)
    val p = df.select(Pca.project(m)(col("embedding"))).as[Seq[Double]].collect()
    ts.zip(p).foreach { case (t, proj) =>
      assert(math.abs(proj.head - (t - tsMean)) < 1e-4, s"proj $proj for t=$t")
    }
    // residual is ~0 for in-subspace data
    val r = df.select(Pca.residual2(m)(col("embedding"),
      Pca.project(m)(col("embedding")))).as[Double].collect()
    assert(r.forall(math.abs(_) < 1e-6), s"residuals ${r.toSeq}")

    // jacobi: known symmetric matrix [[2,1],[1,2]] -> eigenvalues {1,3}
    val (ev, _) = Pca.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(ev.sorted.zip(Array(1.0, 3.0)).forall { case (a, b) =>
      math.abs(a - b) < 1e-12 }, s"eigenvalues ${ev.toSeq}")

    // determinism: fit twice, same model
    val m2 = Pca.fit(df, "embedding", 2)
    assert(m2.components.map(_.toSeq).toSeq == m.components.map(_.toSeq).toSeq)
  }

  test("semDedup: planted duplicate groups keep exactly their min id") {
    // three well-separated direction groups; groups 1 and 2 contain
    // exact duplicates (cos = 1), group 3 is all-distinct directions
    def v(axis: Int, jitter: Float = 0f): Seq[Float] = {
      val a = Array.fill(8)(0.01f); a(axis) = 1f
      if (jitter != 0f) a((axis + 1) % 8) += jitter
      a.toSeq
    }
    val rows = Seq(
      (10L, v(0)), (11L, v(0)), (12L, v(0)),       // dup group -> keep 10
      (20L, v(3)), (21L, v(3)),                    // dup group -> keep 20
      (30L, v(6)), (31L, v(6, jitter = 3f))        // distinct directions
    )
    val emb = rows.toDF("vec_id", "embedding")
    val keep = Ann.semDedup(emb, "vec_id", "embedding", tau = 0.999,
        nLists = 3, maxTrainRows = 100)
      .as[(Long, Boolean)].collect().toMap
    assert(keep == Map(10L -> true, 11L -> false, 12L -> false,
      20L -> true, 21L -> false, 30L -> true, 31L -> true), s"got $keep")

    // hot-cell cap (skew guard): a generous cap is lossless; a cap below
    // the dup-group cell's size sheds that cell (its docs keep=true)
    val generous = Ann.semDedup(emb, "vec_id", "embedding", tau = 0.999,
        nLists = 3, maxTrainRows = 100, maxCell = 100)
      .as[(Long, Boolean)].collect().toMap
    assert(generous == keep, "cap above every cell size must be lossless")
    val tight = Ann.semDedup(emb, "vec_id", "embedding", tau = 0.999,
        nLists = 3, maxTrainRows = 100, maxCell = 2)
      .as[(Long, Boolean)].collect().toMap
    assert(tight(10L) && tight(11L) && tight(12L),
      s"cells over the cap must be excluded from pairing, got $tight")
    assert(!tight(21L), s"the 2-doc dup cell is within the cap, got $tight")
  }

  test("semDedup contract on the corpus: dropped docs have a kept near-dup") {
    // the raw corpus tops out at cos ~0.51, so plant clones (the d13
    // gate construction) to exercise drops at scale
    val raw = Tables.embeddings(spark, sfDir)
    val emb = raw.unionByName(raw.filter(col("vec_id") < 50)
      .withColumn("vec_id", col("vec_id") + 10000))
    val tau = 0.999
    val keep = Ann.semDedup(emb, "vec_id", "embedding", tau, nLists = 8)
    val n = emb.count()
    assert(keep.count() == n, "semDedup must emit one row per input")
    // every dropped doc must have SOME kept doc with exact cos >= tau
    // (a global witness is implied by the cluster-local one, and
    // recomputing cells here would re-run k-means against a different
    // partitioning)
    val dropped = keep.filter(!col("keep")).select(col("vec_id").as("d"))
    val kept = keep.filter(col("keep")).select(col("vec_id").as("k"))
    val witness = dropped
      .join(emb.select(col("vec_id").as("d"), col("embedding").as("dv")), "d")
      .join(kept.join(
        emb.select(col("vec_id").as("k"), col("embedding").as("kv")), "k"),
        Ann.cosine(col("dv"), col("kv")) >= tau, "left_semi")
    assert(witness.count() == dropped.count(),
      "some dropped doc has no kept near-duplicate witness")
    assert(dropped.count() == 50, "exactly the 50 planted clones must drop")
  }

  test("Moore-Lewis: in-domain docs score above out-of-domain; hashed == plain") {
    import graft.operators.LanguageModel
    // target domain reuses a distinctive bigram vocabulary
    val docs = (
      (0 until 10).map(i => (i.toLong, "t", "alpha beta gamma alpha beta")) ++
      (10 until 20).map(i => (i.toLong, "g", "delta epsilon zeta delta epsilon"))
    ).toDF("doc_id", "dom", "text")
    val scores = LanguageModel.mooreLewisScore(docs, "doc_id", "text",
        targetCond = col("dom") === "t")
      .join(docs.select(col("doc_id"), col("dom")), "doc_id")
      .groupBy(col("dom")).agg(avg(col("ml_score")).as("s"))
      .as[(String, Double)].collect().toMap
    assert(scores("t") > scores("g"),
      s"in-domain must outscore out-of-domain: $scores")
    assert(scores("t") > 0 && scores("g") < 0,
      s"signs should separate domains here: $scores")

    // hand-computed: target = doc 1 "a b"; general = "a b" + "a c".
    // general: cb(a,b)=cb(a,c)=1, ch(a)=2, V=3; target: cb(a,b)=1,
    // ch(a)=1, V=2; the unseen target bigram (a,c) counts 0
    val tiny = Seq((1L, "t", "a b"), (2L, "g", "a c"))
      .toDF("doc_id", "dom", "text")
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val got = LanguageModel.mooreLewisScore(tiny, "doc_id", "text",
        targetCond = col("dom") === "t")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, r4(math.log(2.0 / 3) - math.log(2.0 / 5))),
      (2L, 1L, r4(math.log(1.0 / 3) - math.log(2.0 / 5)))), s"got $got")
  }

  test("dupNgramFraction: hashed-gram shuffle (100 TB shape) == string grams") {
    def rows(docs: org.apache.spark.sql.DataFrame, n: Int) =
      Dedup.dupNgramFraction(docs, "text", "doc_id", n)
        .select(col("doc_id"), col("n_grams"), col("n_dup"), col("dup_frac"))
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // hand-computed on string bigrams: "a b" is in docs 1 and 2; doc 4
    // repeats its own bigram, which counts once (distinct per doc) and
    // so is not a cross-document duplicate
    val tiny = Seq((1L, "a b c"), (2L, "a b d"), (3L, "x y"), (4L, "p q p q"))
      .toDF("doc_id", "text")
    assert(rows(tiny, 2) == Seq((1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5),
      (3L, 1L, 0L, 0.0), (4L, 2L, 0L, 0.0)))
    val corpus = rows(Tables.documents(spark, sfDir), 8)
    assert(corpus.nonEmpty, "no docs with >= 8 tokens?")
    // the signal actually fires: the corpus has planted near-dups, so some
    // docs must have a nonzero cross-doc duplicate fraction
    assert(corpus.exists(_._4 > 0), "no cross-document duplicate 8-grams found")
  }

  test("upsample2x: hand goldens, truncation toward zero, length law") {
    assert(Multimodal.upsample2x(Array.empty[Int]).isEmpty)
    assert(Multimodal.upsample2x(Array(5)).toSeq == Seq(5))
    assert(Multimodal.upsample2x(Array(1, 4)).toSeq == Seq(1, 2, 4))
    // (-1 + -4)/2 = -2 with TRUNCATING division (floor would give -3)
    assert(Multimodal.upsample2x(Array(-1, -4)).toSeq == Seq(-1, -2, -4))
    assert(Multimodal.upsample2x(Array(3, -7, 10, 10)).toSeq ==
      Seq(3, -2, -7, 1, 10, 10, 10))
    assert(Multimodal.upsample2x(Array.fill(33)(9)).length == 65)
  }

  test("audio frame features: hand-computed golden + whole-clip consistency") {
    val wav = Multimodal.wavFromId(7L) // n = 27 samples, 2 frames (16 + 11)
    val s = Multimodal.decodeWavSamples(wav).get
    assert(s.length == 27)
    assert(s.toSeq == (0 until 27).map(i => ((7L * 37 + i * 13) % 4001 - 2000).toInt))
    val media = spark.createDataFrame(Seq((7L, "audio"))).toDF("media_id", "kind")
      .withColumn("bytes", udf((id: Long) => Multimodal.wavFromId(id)).apply(col("media_id")))
    val rows = Multimodal.audioFrameFeatures(media, 16)
      .orderBy("frame_idx")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.map(_._3) == Seq(16L, 11L))
    def feats(f: Seq[Int]) = (
      f.map(v => v.toLong * v).sum,
      f.sliding(2).count(p => p.length == 2 && p(0).toLong * p(1) < 0).toLong,
      f.map(v => math.abs(v).toLong).max)
    val (e0, z0, p0) = feats(s.take(16).toSeq)
    val (e1, z1, p1) = feats(s.drop(16).toSeq)
    assert(rows == Seq((7L, 0L, 16L, e0, z0, p0), (7L, 1L, 11L, e1, z1, p1)))
    // frame energies sum to the whole-clip energy; junk bytes drop out
    val junk = spark.createDataFrame(Seq((1L, "audio"))).toDF("media_id", "kind")
      .withColumn("bytes", lit("not a wav".getBytes))
    assert(Multimodal.audioFrameFeatures(junk, 16).count() == 0)
  }

  test("dhash: hand-computed bits, invariances, and discrimination") {
    // 2x2 image with an explicit pixel plane: grayscale gradient
    // TL=10 TR=200 / BL=10 BR=200 — every horizontal comparison where
    // the sample column crosses the left->right boundary sets its bit
    def p6(w: Int, h: Int, gray: (Int, Int) => Int): Array[Byte] = {
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val px = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        px((y * w + x) * 3 + c) = gray(x, y).toByte
      header ++ px
    }
    val grad = p6(2, 2, (x, _) => if (x == 0) 10 else 200)
    val hash = Multimodal.dhashPpm(grad).get
    // grid x in 0..8 samples source col (x*2)/9: cols 0..4 -> 0, 5..8 -> 1;
    // the single 0->1 rise is at grid x=5, so bit x=4 fires in every row
    val expected = (0 until 8).map(y => 1L << (y * 8 + 4)).reduce(_ | _)
    assert(hash == expected, s"got ${hash.toBinaryString}")
    // flat image: no rises, hash 0
    assert(Multimodal.dhashPpm(p6(3, 3, (_, _) => 77)).get == 0L)
    // identical bytes -> identical hash; scaled SAME pattern -> same hash
    // (NN resample of a 2x-upscaled step function lands on the same step)
    val grad2x = p6(4, 4, (x, _) => if (x < 2) 10 else 200)
    assert(Multimodal.dhashPpm(grad2x).get == hash,
      "dHash must be scale-invariant for the same step pattern")
    // vertical gradient produces a DIFFERENT (zero-horizontal) hash
    assert(Multimodal.dhashPpm(p6(2, 2, (_, y) => if (y == 0) 10 else 200)).get == 0L)
    // non-P6 input refuses
    assert(Multimodal.dhashPpm("JFIF junk".getBytes).isEmpty)
    // synthetic corpus images hash without error and bucket nontrivially
    val hashes = (0L until 60L by 3).map(id =>
      Multimodal.dhashPpm(Multimodal.ppmFromId(id)).get)
    assert(hashes.distinct.size > 1, "all corpus images collapsed to one hash")
  }

  test("chunking: coverage + overlap laws corpus-wide") {
    import graft.functions.TextFunctions
    val docs = Tables.documents(spark, sfDir)
    val chunks = TextFunctions.chunkTokens(docs, "doc_id", "text", 12, 4)
    // every token covered: sum of (n_tokens - overlap) + overlap == n
    // per doc  <=>  sum(n_tokens) == n + (chunks-1)*overlap
    val law = chunks.groupBy("doc_id")
      .agg(sum("n_tokens").as("st"), count(lit(1)).as("nc"))
      .join(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n")), Seq("doc_id"))
      .filter(col("st") =!= col("n") + (col("nc") - 1) * 4)
    assert(law.count() == 0, "token-coverage law violated")
    // reassembling chunk 0's prefix matches the doc prefix
    val first = chunks.filter(col("chunk_idx") === 0)
      .join(docs, Seq("doc_id"))
      .filter(!col("text").startsWith(col("chunk")))
    assert(first.count() == 0)
    intercept[IllegalArgumentException] {
      TextFunctions.chunkTokens(docs, "doc_id", "text", 4, 4)
    }
  }

  test("repeat upsample: E[copies]=w within 5 sigma, contiguous copy_idx, subsample drops") {
    import graft.operators.Splits
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    val w = Map("en" -> 2.5, "de" -> 1.0, "fr" -> 0.5, "es" -> 1.25, "zh" -> 2.0)
    val up = Splits.repeatUpsample(docs, "doc_id", "lang", w, "s1")
    // per-class realized copies/doc ~ w_l: fractional part is Bernoulli,
    // 5 sigma over n_l docs
    val n = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val got = up.groupBy("lang").count().as[(String, Long)].collect().toMap
    for ((l, wl) <- w) {
      val frac = wl - math.floor(wl)
      val sd = 5 * math.sqrt(n(l) * frac * (1 - frac))
      assert(math.abs(got.getOrElse(l, 0L) - wl * n(l)) <= sd + 1e-9,
        s"$l: got ${got.getOrElse(l, 0L)} copies, want ~${wl * n(l)} +- $sd")
    }
    // copy_idx contiguous from 0 per doc; deterministic re-run
    val bad = up.groupBy("doc_id")
      .agg(count(lit(1)).as("c"), min("copy_idx").as("mn"), max("copy_idx").as("mx"))
      .filter(col("mn") =!= 0 || col("mx") =!= col("c") - 1)
    assert(bad.count() == 0, "copy_idx must be 0..copies-1")
    val again = Splits.repeatUpsample(docs, "doc_id", "lang", w, "s1")
      .orderBy("doc_id", "copy_idx").collect().toSeq
    assert(again == up.orderBy("doc_id", "copy_idx").collect().toSeq)
    // w < 1 drops some docs entirely; unlisted class defaults to 1 copy
    val frDocs = n("fr")
    val frKept = up.filter(col("lang") === "fr")
      .select("doc_id").distinct().count()
    assert(frKept < frDocs, "w=0.5 must drop some fr docs")
    val unlisted = Splits.repeatUpsample(docs, "doc_id", "lang",
      Map("en" -> 2.0), "s1")
    assert(unlisted.filter(col("lang") === "de").count() == n("de"))
  }

  test("DSIR: target-language docs score higher; hashed grams match") {
    import graft.operators.LanguageModel
    val docs = Tables.documents(spark, sfDir)
    val lw = LanguageModel.dsirLogWeight(docs, "doc_id", "text",
      col("lang") === "en")
    val byLang = lw.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy("lang").agg(avg("dsir_logw").as("m"))
      .as[(String, Double)].collect().toMap
    // the weight estimates ln p_en(x)/p_raw(x): the target class must
    // average strictly above every non-target class
    for (l <- byLang.keys if l != "en")
      assert(byLang("en") > byLang(l), s"en=${byLang("en")} <= $l=${byLang(l)}")
    // hand-computed on string bigrams: raw = (a,b),(a,c) so total 2 and
    // B = 2 distinct; target = doc 1's (a,b), total 1; doc 3 has no
    // bigram and keeps log w = 0
    val tiny = Seq((1L, "t", "a b"), (2L, "g", "a c"), (3L, "g", "z"))
      .toDF("doc_id", "dom", "text")
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val got = LanguageModel.dsirLogWeight(tiny, "doc_id", "text",
        col("dom") === "t")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, r4(math.log(2.0 / 3) - math.log(2.0 / 4))),
      (2L, 1L, r4(math.log(1.0 / 3) - math.log(2.0 / 4))),
      (3L, 0L, 0.0)), s"got $got")
  }

  test("DSIR sample: exact k, deterministic, salt-sensitive, loud on empty target") {
    import graft.operators.LanguageModel
    val docs = Tables.documents(spark, sfDir)
    def draw(salt: String) =
      LanguageModel.dsirSample(docs, "doc_id", "text",
        col("lang") === "en", k = 40, salt = salt)
        .select("doc_id").as[Long].collect().toSet
    val s1 = draw("s1"); val s1b = draw("s1"); val s2 = draw("s2")
    assert(s1.size == 40 && s1 == s1b, "re-run must draw the same sample")
    assert(s1 != s2, "a new salt must draw an independent sample")
    // selection is weight-tilted: sampled docs average above the corpus
    val lw = LanguageModel.dsirLogWeight(docs, "doc_id", "text",
      col("lang") === "en")
    val all = lw.agg(avg("dsir_logw")).as[Double].head()
    val got = lw.filter(col("doc_id").isInCollection(s1))
      .agg(avg("dsir_logw")).as[Double].head()
    assert(got > all, s"sample mean $got not above corpus mean $all")
    intercept[IllegalArgumentException] {
      LanguageModel.dsirLogWeight(docs, "doc_id", "text", col("lang") === "xx")
    }
  }

  test("trigram interpolated LM: hand-computed micro corpus") {
    import graft.operators.LanguageModel
    // corpus "a b c" + "a b d" + "xy": N=7, V=5 (xy counts!);
    // c3(a,b,c)=c3(a,b,d)=1, ch3(a,b)=2; cb(b,c)=cb(b,d)=1, chb(b)=2;
    // cu(c)=cu(d)=1. each scored doc's single trigram:
    // p3 = 2/7, p2 = 2/7, p1 = 2/12
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "xy")).toDF("id", "text")
    val got = LanguageModel.trigramInterpolatedLL(docs, "id", "text")
      .orderBy("id").as[(Long, Long, Double)].collect().toSeq
    val want = math.floor(
      math.log(0.6 * 2.0 / 7 + 0.3 * 2.0 / 7 + 0.1 * 2.0 / 12)
        * 10000 + 0.5) / 10000
    assert(got == Seq((1L, 1L, want), (2L, 1L, want))) // doc 3: no trigrams
  }

  test("trigram interpolated LM: hashed tokens == plain tokens") {
    import graft.operators.LanguageModel
    val docs = (1 to 80).map(i =>
      (i.toLong, (0 to 12).map(j => s"w${(i * 7 + j * 3) % 15}").mkString(" ")))
      .toDF("id", "text")
    // plain-token reference: the same counts and mixture over the token
    // strings, computed on the driver
    val texts = (1 to 80).map(i =>
      i.toLong -> (0 to 12).map(j => s"w${(i * 7 + j * 3) % 15}"))
    val tri = for ((id, t) <- texts; i <- 0 to t.size - 3)
      yield (id, (t(i), t(i + 1), t(i + 2)))
    val bi = for ((_, t) <- texts; i <- 0 to t.size - 2) yield (t(i), t(i + 1))
    val toks = texts.flatMap(_._2)
    val c3 = tri.groupBy(_._2).map { case (g, v) => g -> v.size }
    val ch3 = c3.toSeq.groupBy { case ((a, b, _), _) => (a, b) }
      .map { case (h, v) => h -> v.map(_._2).sum }
    val cb = bi.groupBy(identity).map { case (g, v) => g -> v.size }
    val chb = cb.toSeq.groupBy(_._1._1).map { case (h, v) => h -> v.map(_._2).sum }
    val cu = toks.groupBy(identity).map { case (w, v) => w -> v.size }
    val (nTok, vocab) = (toks.size, cu.size)
    val want = tri.groupBy(_._1).map { case (id, ts) =>
      val lls = ts.map { case (_, (a, b, c)) =>
        math.log(0.6 * ((c3((a, b, c)) + 1.0) / (ch3((a, b)) + vocab)) +
          0.3 * ((cb((b, c)) + 1.0) / (chb(b) + vocab)) +
          0.1 * ((cu(c) + 1.0) / (nTok + vocab)))
      }
      id -> (ts.size.toLong, lls.sum / ts.size)
    }
    val got = LanguageModel.trigramInterpolatedLL(docs, "id", "text")
      .as[(Long, Long, Double)].collect()
    assert(got.map(_._1).toSet == want.keySet)
    // the avg's summation order may differ from the driver's, so the
    // floor-rounded score may land one quantum off at a boundary
    got.foreach { case (id, n, ll) =>
      assert(n == want(id)._1 && math.abs(ll - want(id)._2) <= 1.0001e-4,
        s"doc $id: got ($n, $ll), want ${want(id)}")
    }
    intercept[IllegalArgumentException] {
      LanguageModel.trigramInterpolatedLL(docs, "id", "text",
        lambdas = (0.5, 0.2, 0.1))
    }
  }

  test("budgetBackfill: conservation, caps, priority and zero-weight laws") {
    import graft.operators.Splits
    val cls = Seq(("a", 10L, 60L), ("b", 3L, 30L), ("c", 50L, 10L),
      ("z", 5L, 0L)).toDF("cls", "supply", "weight")
    // B=40, W=100: proportional shares 24/12/4/0 → capped 10/3/4/0;
    // leftover 23 backfills c (the only remaining capacity in order)
    val got = Splits.budgetBackfill(cls, "cls", "supply", "weight", 40)
      .select("cls", "base_alloc", "backfill", "alloc")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map("a" -> ((10L, 0L, 10L)), "b" -> ((3L, 0L, 3L)),
      "c" -> ((4L, 23L, 27L)), "z" -> ((0L, 0L, 0L))))
    assert(got.values.map(_._3).sum == 40) // Σalloc = budget (supply suffices)
    // budget above total supply: exactly everything allocated
    val all = Splits.budgetBackfill(cls, "cls", "supply", "weight", 1000)
      .agg(sum(col("alloc"))).as[Long].head()
    assert(all == 68)
  }

  test("knnJoin: shuffle path == broadcast path; planted clusters recovered") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 120).map { i =>
      val c = i % 4
      (i.toLong,
        Array.tabulate(8)(j => (if (j == c * 2) 10f else 0f) +
          rnd.nextFloat() * 0.1f).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 8)
    def run() = Ann.knnJoin(emb, "vec_id", "embedding", queries, "vec_id",
        "embedding", k = 5, nLists = 8, nProbe = 3)
      .as[(Long, Long, Double)].collect().toSet
    val dflt = run()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val noBroadcast = try run()
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert(dflt == noBroadcast,
      "forcing the shuffle join must not change any neighbor")
    assert(dflt.map(_._1).size == 8 * 5 || dflt.groupBy(_._1).forall(_._2.size == 5))
    // tight planted clusters: every neighbor shares the query's cluster
    dflt.foreach { case (q, n, _) =>
      assert(n % 4 == q % 4, s"query $q got cross-cluster neighbor $n")
    }
  }

  test("containmentPairs: full excerpt scores 1.0 where jaccard would miss it") {
    // doc 2 is a verbatim excerpt of doc 1's middle; doc 3 is unrelated
    val big = (1 to 60).map(i => s"w$i").mkString(" ")
    val excerpt = (20 to 27).map(i => s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, big), (2L, excerpt), (3L, other)).toDF("doc_id", "text")
    val got = graft.dedup.Dedup
      .containmentPairs(docs, "doc_id", "text", shingleN = 3,
        minContainment = 0.5)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 2L, 6L, 1.0)))
    // the same pair's jaccard is far below LSH thresholds: 6/58
    assert(6.0 / 58.0 < 0.2)
  }

  test("containmentPairs: maxGramDf prunes boilerplate grams from the index") {
    // 30 docs all share one boilerplate sentence; caps keep the pair
    // stage bounded while full-size denominators are preserved
    val boiler = "all rights reserved contact us today"
    val docs = (1 to 30)
      .map(i => (i.toLong, s"$boiler unique$i content$i tail$i end$i"))
      .toDF("doc_id", "text")
    val uncapped = graft.dedup.Dedup.containmentPairs(docs, "doc_id", "text",
      3, minContainment = 0.0)
    // every pair shares the 4 boilerplate tri-grams -> 435 pairs
    assert(uncapped.count() == 435)
    val capped = graft.dedup.Dedup.containmentPairs(docs, "doc_id", "text",
      3, minContainment = 0.0, maxGramDf = 10)
    // boilerplate grams (df=30 > 10) leave the index -> no pairs at all
    assert(capped.count() == 0)
  }

  test("naive bayes: planted vocab separation classifies perfectly; ratios symmetric") {
    import graft.operators.Classifier
    val docs = (0 until 40).map { i =>
      val t = if (i % 2 == 0) "alpha beta gamma shared shared"
              else "delta epsilon zeta shared shared"
      (i.toLong, t, i % 2 == 0)
    }.toDF("id", "text", "pos")
    val scored = Classifier.naiveBayesScores(docs, "id", "text", col("pos"))
    val joined = scored.join(docs.select(col("id"), col("pos")), "id")
    assert(joined.filter(col("pred") =!= col("pos")).count() == 0,
      "planted disjoint vocab must classify perfectly")
    // balanced classes + mirrored vocab -> scores are symmetric around 0
    val byClass = joined.groupBy(col("pos"))
      .agg(sum(col("score_pn")).as("s")).collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(byClass(true) == -byClass(false),
      s"mirrored corpus must score symmetrically: $byClass")
    // degenerate single-class input fails loudly, not silently
    intercept[IllegalArgumentException] {
      Classifier.naiveBayesScores(
        docs.filter(col("pos")), "id", "text", col("pos"))
    }
    // a zero-token document still scores (the class prior) instead of
    // silently vanishing from the output
    val withEmpty = docs.unionByName(Seq((99L, "", true)).toDF("id", "text", "pos"))
    val se = Classifier.naiveBayesScores(withEmpty, "id", "text", col("pos"))
    assert(se.count() == 41, "every input doc must get a score row")
    val balanced = se.filter(col("id") === 99L).head()
    // 21 pos docs vs 20 neg after the append: prior = pico(ln(21/41)) - pico(ln(20/41))
    val want = math.floor(math.log(21.0 / 41) * 1e12 + 0.5).toLong -
      math.floor(math.log(20.0 / 41) * 1e12 + 0.5).toLong
    assert(balanced.getLong(1) == want,
      s"empty doc must score exactly the prior: ${balanced.getLong(1)} vs $want")
  }

  test("d12 spill path: forced buffer spills leave the result byte-identical") {
    // the gram family's second decade rides "genuinely spilled merges" —
    // prove the spill path itself, not just infer it: run d12 with the
    // window/SMJ buffer thresholds floored so every multi-row buffer
    // goes through UnsafeExternalSorter spill files, assert REAL disk
    // spill metrics, and hash-match the unconstrained result. (The
    // measured volume is recorded in BASELINE.md; thresholds are runtime
    // SQL confs, so this exercises production binaries, not a test jig.)
    val q = SparkEntry.queries("d12_dup_spans")
    val baseline = q(spark, sfDir).collect().map(_.toString).sorted.toSeq
    spark.catalog.clearCache()
    val spilledDisk = new java.util.concurrent.atomic.AtomicLong
    val spilledMem = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          spilledDisk.addAndGet(e.taskMetrics.diskBytesSpilled)
          spilledMem.addAndGet(e.taskMetrics.memoryBytesSpilled)
        }
    }
    val keys = Seq(
      "spark.sql.windowExec.buffer.in.memory.threshold",
      "spark.sql.windowExec.buffer.spill.threshold",
      "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.sparkContext.addSparkListener(listener)
    try {
      keys.foreach(k => spark.conf.set(k, "16"))
      val constrained = q(spark, sfDir).collect().map(_.toString).sorted.toSeq
      assert(constrained == baseline,
        "spilled run must be row-identical to the in-memory run")
      // listener events drain asynchronously after collect() returns
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (spilledDisk.get() == 0 && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(spilledDisk.get() > 0,
        s"constrained d12 must actually spill to disk (mem spill: ${spilledMem.get()})")
      info(s"d12 spill volume at $sfDir: disk=${spilledDisk.get()} B, " +
        s"mem=${spilledMem.get()} B")
    } finally {
      prev.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
    }
  }
}
