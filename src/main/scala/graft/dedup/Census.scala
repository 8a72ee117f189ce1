package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The census/cap discipline shared by every pair generator in the
  * engine (text LSH, image dHash bands, video frame hashes, audio
  * fingerprints): any key whose bucket would square a join is MEASURED
  * first and either capped (explicit), uncapped (0), or capped at a
  * census-derived default (-1) — never trusted to be well-behaved at
  * 100 TB. The three segment-store appends (LSH, Hamming, audio) share
  * their census block, [[appendCensus]], here.
  *
  * Also home of the STORE-WIDE cap statistics for the streamed-append
  * family (round-15 ADVICE fix): a census-derived default computed over
  * a single batch's keys drifts with batch composition — one
  * degenerate-heavy micro-batch inflates the mean bucket size and
  * RAISES the cap exactly when the protection matters. Every segment
  * store therefore persists a one-row `capstats/batch=<id>` frame
  * `(s = band/fingerprint rows, k = distinct keys)` next to its data
  * segments; at append time the -1 cap derives from the SUM over all
  * segments plus the incoming batch. `Σ per-batch distinct keys`
  * over-counts keys appearing in several batches, so the store-wide
  * mean `s/k` is an UNDER-estimate of the true mean bucket size and the
  * derived cap is conservative — it can only drop MORE hot keys than
  * the exact statistic would (each drop visible in the persisted
  * dropped census), never fewer: the inflate-the-cap failure mode is
  * structurally gone.
  */
private[graft] object Census {

  /** Split a `(key…, n)` bucket census into (kept keys, dropped census).
    *
    * Cap regimes — `cap > 0`: explicit bound; `cap == 0`: uncapped
    * (only singleton buckets pruned — they generate no pairs in any
    * regime); `cap == -1`: census-derived default
    * `max(256, 32 × mean bucket size)` over THIS census — callers with
    * a store-wide statistic should resolve -1 to an explicit bound via
    * [[derivedCap]] BEFORE calling (see the object scaladoc for why).
    * The 256 floor keeps the auto cap from ever binding on gate-scale
    * corpora (every bucket ≤ 256 passes), so correctness oracles stay
    * cap-free unless they opt in.
    *
    * Returns (kept keys, dropped census `(key…, n, cap)`) — the dropped
    * frame is the observability contract: empty ⇒ no loss; non-empty ⇒
    * each row names a degenerate key to handle upstream. */
  def hotKeyPrune(census: DataFrame, keyCols: Seq[String],
      cap: Long): (DataFrame, DataFrame) = {
    val withCap =
      if (cap > 0) census.withColumn("cap", lit(cap))
      else if (cap == 0L) census.withColumn("cap", lit(Long.MaxValue))
      else {
        val capDf = census
          .agg(sum(col("n")).as("s"), count(lit(1)).as("k"))
          .select(greatest(lit(256L),
            lit(32L) * expr("(s + k - 1) div k")).as("cap"))
        census.crossJoin(broadcast(capDf))
      }
    (withCap.filter(col("n").between(2, col("cap")))
       .select(keyCols.map(col): _*),
     withCap.filter(col("n") > col("cap")))
  }

  /** The batch-bounded frames one segment-store append materialises,
    * released together in the append's `finally` — after the report and
    * the `dropped/` census are written, and on every failure path, so a
    * streaming query appending per micro-batch never accumulates caches. */
  private[graft] final class Materialised {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    /** Persist (MEMORY_AND_DISK, so a lost executor recomputes) without
      * running: for frames an action over them materialises anyway. */
    def keep(df: DataFrame): DataFrame = {
      held += df; df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    /** [[keep]] plus an eager count: the frame's plan runs once, here.
      * Later references read the cached rows through an RDD scan
      * ([[org.apache.spark.sql.graft.SqlBridge.rddScan]]): a plan over a
      * cached frame embeds that frame's plan, so along an append's chain
      * of frames the plan strings AQE rebuilds at every stage grew to
      * ~23,000 lines (measured: 4.5 s → 2.9 s per 200-doc LSH append). */
    def apply(df: DataFrame): DataFrame = {
      keep(df).count(); org.apache.spark.sql.graft.SqlBridge.rddScan(df)
    }
    def frames: Seq[DataFrame] = held.toSeq
    def release(): Unit = held.foreach(_.unpersist(true))
  }

  /** The capped census block of every segment-store append (LSH bands,
    * Hamming bands, audio fingerprints): the store's postings are
    * semi-joined to the batch's `keys` — a key absent from the batch
    * forms no new pair — then (old ∪ new) is counted per key and
    * [[hotKeyPrune]]d. Returns (batch postings on kept keys, store
    * postings on kept keys, dropped census); under `cap == 0` the
    * inputs pass through and dropped is null (no census is computed).
    *
    * `oldRelevant` (the store rows in the batch's keys) and `ok` (the
    * kept keys) are [[Materialised]]: each is bounded by the batch, and
    * the pair plans downstream refer to each two or three times, and
    * AQE runs every reference again (see [[Dedup.lshAppendPairs]] for
    * the measured cost). Never a corpus-sized frame: under `cap == 0`
    * the store side is the whole store and is not materialised here.
    * Batch-derived frames are broadcast only when `broadcastBatch`. */
  def appendCensus(oldPostings: DataFrame, newPostings: DataFrame,
      keys: Seq[String], cap: Long, broadcastBatch: Boolean,
      mat: Materialised): (DataFrame, DataFrame, DataFrame) =
    if (cap == 0L) (newPostings, oldPostings, null)
    else {
      def hint(df: DataFrame) = if (broadcastBatch) broadcast(df) else df
      val k = keys.map(col)
      val oldRelevant = mat(oldPostings.join(
        hint(newPostings.select(k: _*).distinct()), keys, "left_semi"))
      val census = oldRelevant.select(k: _*)
        .unionByName(newPostings.select(k: _*))
        .groupBy(k: _*).agg(count(lit(1)).as("n"))
      val (ok0, drop) = hotKeyPrune(census, keys, cap)
      val ok = mat(ok0)
      (newPostings.join(hint(ok), keys), oldRelevant.join(hint(ok), keys),
        drop)
    }

  /** The census-derived default cap over store-wide totals:
    * `max(256, 32 × ceil(s/k))`. */
  def derivedCap(s: Long, k: Long): Long =
    if (k <= 0L) 256L else math.max(256L, 32L * ((s + k - 1) / k))

  /** One segment's cap statistics: (`s` posting rows, `k` distinct
    * `keys`) — one small aggregate. */
  def postingStats(postings: DataFrame, keys: Seq[String]): (Long, Long) = {
    val st = postings.agg(count(lit(1)).as("s"),
      count_distinct(struct(keys.map(col): _*)).as("k")).head()
    (st.getLong(0), st.getLong(1))
  }

  /** An append's effective cap: `maxBucket` unless -1, which derives
    * from the store-wide capstats plus this batch's `(bRows, bKeys)` (the
    * drift argument in the object scaladoc). A store built before
    * capstats existed keeps -1, the batch-restricted derive inside
    * [[hotKeyPrune]], conservative-only once the store carries stats. */
  def appendCap(spark: SparkSession, storePath: String, batchId: String,
      maxBucket: Long, bRows: Long, bKeys: Long): Long =
    if (maxBucket != -1L) maxBucket
    else readCapStats(spark, storePath, excludeBatch = batchId)
      .map { case (s0, k0) => derivedCap(s0 + bRows, k0 + bKeys) }
      .getOrElse(-1L)

  /** Persist one batch's cap statistics (`s` rows, `k` distinct keys)
    * as the store's `capstats/batch=<id>` segment — overwritten on
    * re-ingest of the same batchId, so the store-wide sums stay
    * idempotent under streaming epoch replay. */
  def writeCapStats(spark: SparkSession, storePath: String,
      batchId: String, s: Long, k: Long): Unit = {
    import spark.implicits._
    Seq((s, k)).toDF("s", "k")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$storePath/capstats/batch=$batchId")
  }

  /** Store-wide `(Σ s, Σ k)` over every capstats segment EXCEPT
    * `excludeBatch` (the batch being re-ingested must not count its own
    * previous attempt). None ⇒ the store predates capstats (built
    * before round 15) — callers fall back to the batch-restricted
    * census derive, documented at each call site. The read is one
    * driver-side aggregate over one tiny row per batch. */
  def readCapStats(spark: SparkSession, storePath: String,
      excludeBatch: String): Option[(Long, Long)] = {
    val dir = new org.apache.hadoop.fs.Path(s"$storePath/capstats")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) None
    else {
      val row = spark.read.parquet(dir.toString)
        .filter(col("batch") =!= excludeBatch)
        .agg(coalesce(sum(col("s")), lit(0L)).as("s"),
          coalesce(sum(col("k")), lit(0L)).as("k")).head()
      Some((row.getLong(0), row.getLong(1)))
    }
  }
}
