package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-dup index for the HAMMING-distance modality — the
  * one signature family (64-bit SimHash text, image dHash, video
  * frame-hash) that until round 16 had no streamed store: a production
  * image/video/text stream could one-shot [[Dedup.simhashPairs]] per
  * batch but could not build→append→compact→takedown the way the
  * Jaccard-LSH ([[Dedup.buildLshIndex]]), audio-fingerprint and IVF
  * stores can. This closes the modality matrix on the same
  * segment-store layout, so [[graft.operators.SegmentStore]] compaction
  * and takedown apply unchanged.
  *
  * The store is GENERIC over the signature: any `(id, sig: long)` frame
  * works — callers compute SimHash/dHash/frame-hash upstream (see
  * [[Dedup.buildSimhashIndex]] for the text wrapper). Banding is the
  * d08 discipline: `bands` exact slices of the 64-bit signature
  * (default 4×16-bit), so any pair within hamming distance `bands - 1`
  * shares at least one band (pigeonhole); candidates are verified by
  * exact [[Dedup.hamming64]]. Unlike the LSH store there is NO shingle
  * meta table — the signature itself rides in the band postings, so
  * verification is a codegen'd `bit_count(xor)` on the joined row
  * instead of a fetch join: one sub-store fewer, one broadcast fewer
  * per trigger.
  *
  * Layout (all segment-laid-out, `batch=<id>` dirs):
  *  - `bands/`  — `(id, sig, band, h)` postings, `bands` rows per doc;
  *  - `pairs/`  — `(a, b, hamming)` verified reports, written to disk
  *    BEFORE the store gains the batch's postings (the
  *    [[Dedup.appendToLshIndex]] disk barrier — no lazily re-executed
  *    plan can observe the post-append store and double-count);
  *  - `capstats/` — one `(s, k)` row per batch ([[Census]] store-wide
  *    cap statistics);
  *  - `dropped/` — the per-batch dropped-bucket census (observability
  *    contract: empty ⇒ the banding completeness guarantee held).
  *
  * Scale shape: identical to the round-15 LSH append — the batch is
  * banded narrowly and (below `broadcastMaxBatchRows`) broadcast
  * against the store's postings, so the corpus-sized side is scanned
  * once and never shuffled per trigger; a backfill-sized batch
  * degrades to an AQE-picked shuffle join instead of OOMing the
  * driver. Hot buckets (boilerplate/empty docs collapsing to one
  * signature would square the within-bucket join) ride
  * [[Census.hotKeyPrune]] with the census restricted to the batch's
  * `(band, h)` keys and the default cap derived from store-wide
  * capstats. Same append-time-consistency caveat as the LSH store:
  * exact one-shot equality holds uncapped or when no bucket crosses
  * the cap mid-stream (the st21 discipline — the st28 gate runs
  * uncapped).
  */
object HammingIndex {

  /** Band-slice a `(id, sig)` frame into `(id, sig, band, h)` postings:
    * `bands` exact `64/bands`-bit slices (band 0 = least-significant).
    * 64 must divide evenly; the default 4×16 matches the d08 banding
    * (complete for hamming ≤ 3). */
  private[graft] def banded(sigs: DataFrame, bands: Int): DataFrame = {
    require(bands > 0 && 64 % bands == 0,
      s"bands must divide 64 evenly, got $bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    sigs.select(col("id"), col("sig"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), b * width)
            .bitwiseAND(lit(mask)).as("h"))): _*)).as("bh"))
      .select(col("id"), col("sig"), col("bh.band"), col("bh.h"))
  }

  /** Build the store on a pre-existing `(id, sig)` corpus: band
    * postings to `bands/batch=base` plus the seed capstats segment
    * (exact at build time; appends accumulate their own one-row
    * segments). */
  def buildHammingIndex(sigs: DataFrame, path: String,
      bands: Int = 4): Unit = {
    val spark = sigs.sparkSession
    banded(sigs.select(col("id"), col("sig")), bands)
      .write.mode("overwrite").parquet(s"$path/bands/batch=base")
    val (rows, keys) = Census.postingStats(
      spark.read.parquet(s"$path/bands/batch=base"), Seq("band", "h"))
    Census.writeCapStats(spark, path, "base", rows, keys)
  }

  /** Append a `(id, sig)` batch and return the verified near-dup pairs
    * `(a, b, hamming)` INVOLVING the new docs (new↔old and new↔new).
    * Same durability/ordering, materialisation and idempotent-re-ingest
    * contract as [[Dedup.appendToLshIndex]]: the batch's postings and
    * the census frames of [[hammingAppendPairs]] are cached once and
    * released in a `finally`; `maxBucket` -1 derives the cap from
    * store-wide capstats, 0 disables it. */
  def appendToHammingIndex(spark: SparkSession, path: String,
      newSigs: DataFrame, batchId: String, maxHamming: Int = 3,
      bands: Int = 4, maxBucket: Long = -1L,
      broadcastMaxBatchRows: Long = 4000000L,
      compactEvery: Int = 0): DataFrame = {
    require(batchId.matches("[A-Za-z0-9_-]+") && batchId != "base",
      s"batchId must be a fresh [A-Za-z0-9_-]+ segment name, got '$batchId'")
    require(maxBucket >= -1L,
      s"maxBucket must be -1, 0 or positive, got $maxBucket")
    val mat = new Census.Materialised
    try {
      val newBanded = mat.keep(banded(newSigs.select(col("id"), col("sig")), bands))
      // one small aggregate feeds BOTH census disciplines: the broadcast
      // gate (a backfill-sized batch is counted, never assumed micro) and
      // the batch's one-row capstats segment
      val (bRows, bKeys) = Census.postingStats(newBanded, Seq("band", "h"))
      val oldBands = spark.read.parquet(s"$path/bands")
        .filter(col("batch") =!= batchId).drop("batch")
      val cap = Census.appendCap(spark, path, batchId, maxBucket, bRows, bKeys)
      val (pairs, dropped) = hammingAppendPairs(oldBands, newBanded,
        maxHamming, cap, mat, bRows <= broadcastMaxBatchRows)
      // disk barrier: report first, then observability, then the postings
      pairs.write.mode("overwrite").parquet(s"$path/pairs/batch=$batchId")
      if (dropped != null)
        dropped.write.mode("overwrite").parquet(s"$path/dropped/batch=$batchId")
      newBanded.write.mode("overwrite").parquet(s"$path/bands/batch=$batchId")
      Census.writeCapStats(spark, path, batchId, bRows, bKeys)
    } finally mat.release()
    if (compactEvery > 0)
      graft.operators.SegmentStore.autoCompact(spark, path, "bands",
        batchId, compactEvery)
    spark.read.parquet(s"$path/pairs/batch=$batchId").drop("batch")
  }

  /** Right-to-be-forgotten: remove ids from the postings AND retract
    * already-emitted pair reports naming them, with capstats recomputed
    * exactly — the [[graft.operators.SegmentStore]] rewrite protocol
    * (crash-safe, re-entrant). */
  def removeFromHammingIndex(spark: SparkSession, path: String,
      removeIds: DataFrame, purgeDropped: Boolean = false): Unit =
    graft.operators.SegmentStore.removeFromSegmentStore(spark, path,
      removeIds,
      idCols = Map("bands" -> Seq("id"), "pairs" -> Seq("a", "b")),
      capstatsFrom = Some(("bands", Seq("band", "h"))),
      purgeDropped = purgeDropped)

  /** The pair plan of [[appendToHammingIndex]], split out so its shape
    * is plan-testable (PlanSpec pins that the store side is never
    * shuffled in any cap regime, that the broadcast gate flips the join
    * strategy, and that the report scans the store once). The census
    * runs over (old ∪ new) RESTRICTED to the batch's `(band, h)` keys —
    * only batch keys can form new pairs — so the per-trigger plan stays
    * batch-keyed and the store rides a semi-join, never an exchange.
    *
    * Materialised into `mat` by [[Census.appendCensus]]: the store
    * postings in the batch's buckets and the kept buckets, both
    * batch-bounded and each referred to several times below, which AQE
    * would otherwise run once per reference. The pairs need no
    * materialising: verification is inline and the report reads them
    * once.
    *
    * Returns (verified pairs `(a, b, hamming)`, dropped census
    * `(band, h, n, cap)`); dropped is null in the uncapped regime. */
  private[graft] def hammingAppendPairs(oldBands: DataFrame,
      newBanded: DataFrame, maxHamming: Int, cap: Long,
      mat: Census.Materialised,
      broadcastBatch: Boolean = true): (DataFrame, DataFrame) = {
    def hint(df: DataFrame): DataFrame =
      if (broadcastBatch) broadcast(df) else df
    val (okNew, okOld, dropped) = Census.appendCensus(oldBands, newBanded,
      Seq("band", "h"), cap, broadcastBatch, mat)
    // verification is inline — the signature rides the posting row, so
    // candidates never need a fetch join back to a meta table
    val newSide = hint(okNew
      .withColumnRenamed("id", "nid").withColumnRenamed("sig", "nsig"))
    val newVsOld = okOld.join(newSide, Seq("band", "h"))
      .filter(col("id") =!= col("nid"))
      .filter(Dedup.hamming64(col("sig"), col("nsig")) <= maxHamming)
      .select(least(col("id"), col("nid")).as("a"),
        greatest(col("id"), col("nid")).as("b"),
        Dedup.hamming64(col("sig"), col("nsig")).as("hamming"))
    val l = okNew.as("l"); val r = okNew.as("r")
    val newVsNew = l.join(hint(r),
        col("l.band") === col("r.band") && col("l.h") === col("r.h") &&
          col("l.id") < col("r.id"))
      .filter(Dedup.hamming64(col("l.sig"), col("r.sig")) <= maxHamming)
      .select(col("l.id").as("a"), col("r.id").as("b"),
        Dedup.hamming64(col("l.sig"), col("r.sig")).as("hamming"))
    // a pair sharing several bands appears once per band; hamming is a
    // pure function of the pair, so the distinct collapses them exactly
    (newVsOld.unionByName(newVsNew).distinct(), dropped)
  }
}
