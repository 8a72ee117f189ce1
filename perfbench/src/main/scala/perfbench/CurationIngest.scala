package perfbench

import java.io.File

import graft.Tables
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.operators.SegmentStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `curation_ingest`: a crawl arriving in batches. Batch 0 builds the
  * store during set-up. A cycle is `compactEvery` batch ops, each taking
  * one batch through `htmlExtract`, quality scoring and the kept-docs
  * write, then `Dedup.appendToLshIndex` onto the growing store, and then
  * one op that folds the store with `SegmentStore.compactSegmentStore`.
  * A final op clusters, keeps the best doc per cluster and writes the
  * curated parquet. Only the batch ops make `op_p50_s`. */
final class CurationIngest(inputs: String, work: String) extends Workload {
  private val MinQuality = 0.5
  private val batches = new File(s"$inputs/curation").listFiles()
    .map(_.getName).filter(_.matches("b\\d{4}\\.parquet")).sorted.map(_.stripSuffix(".parquet")).toIndexedSeq
  private val data = s"$work/data"
  private def store = s"$data/store"
  private def kept = s"$data/kept"
  private var ingested = 0
  private var basePairs: DataFrame = _
  private var curatedRows = -1L

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def params = (3, 64, 16, 0.8) // shingleN, k, bands, threshold

  /** extract -> score -> write the kept docs of one batch; returns them */
  private def extractScore(spark: SparkSession, tracer: Tracer, b: String): DataFrame =
    tracer.span(s"kernels.extract_score.$b", "kernels") {
      Tables.load(spark, s"$inputs/curation", b)
        .select(col("doc_id"), col("html"),
          TextFunctions.htmlExtract(col("html")).as("content"))
        .withColumn("score", TextFunctions.qualityScore(col("content")))
        .filter(col("score") >= MinQuality)
        .select(col("doc_id"), col("content"), col("score"))
        .write.mode("overwrite").parquet(s"$kept/batch=$b")
      spark.read.parquet(s"$kept/batch=$b")
    }

  override def warmUp(spark: SparkSession, tracer: Tracer): Unit = {
    rm(new File(data))
    ingested = 0
    val (n, k, bands, thr) = params
    val b0 = extractScore(spark, tracer, batches(0))
    tracer.span("dedup.build", "dedup") {
      Dedup.buildLshIndex(b0, "doc_id", "content", store, n, k, bands)
    }
    basePairs = Dedup.minhashLshPairs(b0, "doc_id", "content", n, k, bands, thr)
      .select("a", "b", "jaccard").localCheckpoint()
  }

  private val meta = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get(s"$inputs/curation/curation.json")), "UTF-8")
  private def metaInt(key: String): Int =
    s"\"$key\": (\\d+)".r.findFirstMatchIn(meta).get.group(1).toInt
  private val docsPerBatch = metaInt("docs_per_batch")
  private val compactEvery = metaInt("compact_every")

  override def cycle: Int = compactEvery + 1

  override def hasOp(i: Int): Boolean = i < (batches.size - 1) / compactEvery * cycle

  override def countsInLatency(i: Int): Boolean = i % cycle < compactEvery

  override def op(spark: SparkSession, tracer: Tracer, i: Int): OpResult =
    if (countsInLatency(i)) {
      val b = batches(ingested + 1)
      val (n, k, bands, thr) = params
      val docs = extractScore(spark, tracer, b)
      tracer.span(s"dedup.append.$b", "dedup") {
        Dedup.appendToLshIndex(spark, store, docs, "doc_id", "content", batchId = b,
          shingleN = n, k = k, bands = bands, threshold = thr).count()
      }
      ingested += 1
      OpResult(docsPerBatch, () => None)
    } else {
      val b = batches(ingested)
      tracer.span(s"store.compact.$b", "store") {
        SegmentStore.compactSegmentStore(spark, store, upTo = b)
      }
      OpResult(0, () => None)
    }

  private def allPairs(spark: SparkSession): DataFrame =
    basePairs.unionByName(spark.read.parquet(s"$store/pairs").select("a", "b", "jaccard"))

  private def keptDocs(spark: SparkSession): DataFrame =
    spark.read.parquet(kept).filter(col("batch") <= batches(ingested)).drop("batch")

  override def hasFinalOp: Boolean = true

  override def finalOp(spark: SparkSession, tracer: Tracer): OpResult = {
    val out = s"$data/curated"
    tracer.span("dedup.keep_best", "dedup") {
      Dedup.keepBestPerCluster(keptDocs(spark), "doc_id", "score", allPairs(spark))
        .write.mode("overwrite").parquet(out)
    }
    OpResult(0, () => {
      curatedRows = spark.read.parquet(out).count()
      None
    })
  }

  /** d26's invariant: the store's pairs (base pairs plus every append's
    * report) equal a one-shot `minhashLshPairs` over the same kept docs;
    * and the curated set keeps exactly one doc per duplicate cluster. */
  override def finish(spark: SparkSession): Seq[String] = {
    val (n, k, bands, thr) = params
    val docs = keptDocs(spark)
    val r4 = (df: DataFrame) => df.select(col("a"), col("b"), round(col("jaccard"), 4).as("j"))
    val want = r4(Dedup.minhashLshPairs(docs, "doc_id", "content", n, k, bands, thr)).collect().toSet
    val got = r4(allPairs(spark)).collect().toSet
    val errs = Seq.newBuilder[String]
    if (want != got)
      errs += s"store pairs differ from one-shot pairs: ${(got -- want).size} extra, ${(want -- got).size} missing"
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    want.foreach(r => parent(find(r.getLong(0))) = find(r.getLong(1)))
    val members = want.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
    val clusters = members.map(find).size
    val expected = docs.count() - members.size + clusters
    if (curatedRows != expected) errs += s"curated $curatedRows docs, expected $expected"
    errs.result()
  }

  override def layerInputs(spark: SparkSession): Map[String, Double] = {
    def segs(sub: String) = Option(new File(s"$store/$sub").listFiles()).fold(0)(
      _.count(_.getName.startsWith("batch=")))
    val docBytes = batches.slice(1, ingested + 1).map(b => Tables.load(spark, s"$inputs/curation", b)
      .agg(sum(length(col("html")))).head().getLong(0)).sum
    Map("doc_bytes" -> docBytes.toDouble,
      "segments_live" -> Seq("meta", "bands", "pairs").map(segs).sum.toDouble)
  }

  override def facts: Map[String, Any] = Map(
    "batches_ingested" -> ingested, "docs_per_batch" -> docsPerBatch,
    "batches_available" -> (batches.size - 1), "compact_every" -> compactEvery)
}
