package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import graft.Tables
import graft.aggregators.SketchAggregators.{HllDistinct, ThetaDistinct}
import graft.operators.{Analytics, GraftStream}
import org.apache.spark.sql.{Dataset, SparkSession}

final case class Ev(id: Long, key: Int, user: Long, value: Double)

/** Exact answers for one key cardinality, written by gen.py. */
final class SketchRef(dir: String) {
  private def bytes(name: String) =
    ByteBuffer.wrap(Files.readAllBytes(Paths.get(dir, name))).order(ByteOrder.LITTLE_ENDIAN)
  private def longs(name: String): Array[Long] = {
    val b = bytes(name).asLongBuffer(); val a = new Array[Long](b.remaining()); b.get(a); a
  }
  val counts: Array[Long] = longs("ref_counts.bin")
  val distinct: Array[Long] = longs("ref_distinct.bin")
  val offsets: Array[Long] = longs("ref_offsets.bin")
  val sortedValues: Array[Double] = {
    val b = bytes("ref_sorted_values.bin").asDoubleBuffer(); val a = new Array[Double](b.remaining()); b.get(a); a
  }
  val keysById: Array[Int] = {
    val b = bytes("ref_keys_by_id.bin").asIntBuffer(); val a = new Array[Int](b.remaining()); b.get(a); a
  }
  val rows: Long = keysById.length.toLong
}

/** `sketch_scan`: amadeus's own use. One-pass sketch sinks over a Zipf
  * event stream, at a key cardinality whose partial buffers fit the
  * object-hash map (c64) and one that forces the sort fallback (c16384).
  * Each op is one sink over one cardinality; a run is whole cycles of
  * all twelve, so every run measures the same op mix. */
final class SketchScan(inputs: String, seed: Long) extends Workload {
  private val cards = Seq("c64", "c16384")
  private val sinks = Seq("most_frequent", "most_distinct", "sample_unstable",
    "hll_by_key", "gk_quantiles_by_key", "theta_by_key")
  private var refs: Map[String, SketchRef] = Map.empty
  private val recall = scala.collection.mutable.Map.empty[String, Double]

  // sink parameters and the bounds they state
  private val TopN = 10
  private val CmProb = 0.99
  private val CmTol = 0.001
  // most_distinct keeps an HLL per tracked key and per Count-Min cell;
  // these settings keep its op within a few times the other sinks'
  private val DistinctErr = 0.1
  private val DistinctTol = 0.01
  private val HllB = 10
  private val ThetaK = 256
  private val Eps = 0.01
  private val Qs = Seq(0.5, 0.9, 0.99)
  private val SampleK = 1000

  override def prepare(): Unit =
    refs = cards.map(c => c -> new SketchRef(s"$inputs/sketch/$c")).toMap

  private def events(spark: SparkSession, dir: String): Dataset[Ev] = {
    import spark.implicits._
    Tables.load(spark, s"$inputs/sketch/$dir", "events").as[Ev]
  }

  // every sink on the first rows of both streams: the hash-map and the
  // sort-fallback paths are compiled and warmed before the timed ops
  override def warmUp(spark: SparkSession, tracer: Tracer): Unit =
    for (c <- cards; s <- sinks) run(spark, tracer, s, c, warm = true)

  override def cycle: Int = sinks.size * cards.size

  override def op(spark: SparkSession, tracer: Tracer, i: Int): OpResult =
    run(spark, tracer, sinks(i % sinks.size), cards((i / sinks.size) % cards.size))

  private def run(spark: SparkSession, tracer: Tracer, sink: String, card: String,
      warm: Boolean = false): OpResult = {
    import spark.implicits._
    val ref = refs(card)
    val ds = events(spark, if (warm) s"${card}_warm" else card)
    val n = ref.rows
    val check: () => Option[String] = tracer.span(s"sketch.$sink.$card", "sketch") {
      sink match {
        case "most_frequent" =>
          val top = GraftStream(ds.map(_.key)).mostFrequent(TopN, CmProb, CmTol)
          () => checkTop(card, top.map { case (k, c) => (k, c) }, ref.counts,
            (k: Int, est: Long) => math.abs(est - ref.counts(k)) <= CmTol * n, "most_frequent")
        case "most_distinct" =>
          val top = GraftStream(ds).mostDistinct(TopN, CmProb, DistinctTol, DistinctErr)(_.key, _.user)
          val sigma = 1.04 / math.sqrt(math.pow(2, hllBits(DistinctErr)))
          () => checkTop(card, top, ref.distinct,
            (k: Int, est: Long) => within(est.toDouble, ref.distinct(k), sigma, TopN), "most_distinct")
        case "sample_unstable" =>
          val sample = GraftStream(ds).sampleUnstable(SampleK, seed)
          () => {
            val ids = sample.map(_.id)
            if (sample.size != math.min(SampleK.toLong, n)) Some(s"sample size ${sample.size}")
            else if (ids.distinct.size != ids.size) Some("sample repeats a row")
            else sample.find(e => e.id < 0 || e.id >= n || ref.keysById(e.id.toInt) != e.key)
              .map(e => s"sampled row ${e.id} is not an input row")
          }
        case "hll_by_key" =>
          val est = GraftStream(ds).groupBySinkDs(_.key)(new HllDistinct[Ev](HllB, _.user)).collect()
          val sigma = 1.04 / math.sqrt(math.pow(2, HllB))
          () => checkGrouped(est.toSeq.map { case (k, v) => (k, v.toDouble) }, ref.distinct, sigma)
        case "theta_by_key" =>
          val est = GraftStream(ds).groupBySinkDs(_.key)(
            new ThetaDistinct[Ev](ThetaK, 48, e => SketchScan.mix(e.user) >>> 16)).collect()
          val sigma = 1.0 / math.sqrt(ThetaK - 2.0)
          () => checkGrouped(est.toSeq, ref.distinct, sigma)
        case "gk_quantiles_by_key" =>
          val rows = Analytics.gkQuantilesByKey(ds.toDF(), Seq("key"), "value", Qs, Eps).collect()
          () => {
            val groups = ref.counts.count(_ > 0)
            if (rows.length != groups) Some(s"gk groups ${rows.length} != $groups")
            else rows.iterator.flatMap { r =>
              val k = r.getInt(0)
              val qv = r.getSeq[Double](1)
              Qs.zip(qv).flatMap { case (q, v) => gkRankError(ref, k, q, v) }
            }.toSeq.headOption
          }
      }
    }
    OpResult(n, check)
  }

  private def hllBits(err: Double): Int = graft.sketch.HyperLogLog.forError(err).b

  /** z such that G two-sided normal tails of 0.27% in total are covered:
    * the 3-sigma confidence of one estimate, kept family-wise over G. */
  private def zFor(groups: Int): Double = {
    val alpha = 0.0027 / math.max(1, groups)
    var lo = 0.0; var hi = 12.0
    while (hi - lo > 1e-6) {
      val mid = (lo + hi) / 2
      if (2 * normalTail(mid) > alpha) lo = mid else hi = mid
    }
    hi
  }

  // upper normal tail via the Abramowitz-Stegun 7.1.26 erfc approximation
  private def normalTail(z: Double): Double = {
    val x = z / math.sqrt(2)
    val t = 1.0 / (1.0 + 0.3275911 * x)
    val poly = t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 +
      t * (-1.453152027 + t * 1.061405429))))
    0.5 * poly * math.exp(-x * x)
  }

  private def within(est: Double, exact: Long, sigma: Double, groups: Int): Boolean =
    math.abs(est - exact) <= zFor(groups) * sigma * exact + 1.0

  private def checkGrouped(est: Seq[(Int, Double)], exact: Array[Long], sigma: Double): Option[String] = {
    val groups = exact.count(_ > 0)
    val z = zFor(groups)
    if (est.size != groups) Some(s"${est.size} groups, expected $groups")
    else est.find { case (k, v) => math.abs(v - exact(k)) > z * sigma * exact(k) + 1.0 }
      .map { case (k, v) => s"key $k estimate $v vs exact ${exact(k)}" }
  }

  private def checkTop(card: String, top: Seq[(Int, Long)], exact: Array[Long],
      ok: (Int, Long) => Boolean, what: String): Option[String] = {
    val nth = exact.sorted(Ordering[Long].reverse)(math.min(TopN, exact.length) - 1)
    val truth = exact.indices.filter(exact(_) >= nth).toSet
    recall(s"$what.$card") = top.count(t => truth.contains(t._1)).toDouble / TopN
    if (top.size != math.min(TopN, exact.count(_ > 0))) Some(s"$what returned ${top.size} keys")
    else top.find { case (k, c) => !ok(k, c) }.map { case (k, c) => s"$what key $k: $c vs exact ${exact(k)}" }
  }

  /** the sk29 rank test: the returned value's rank range must come within
    * floor(2*eps*n)+1 of ceil(q*n) */
  private def gkRankError(ref: SketchRef, k: Int, q: Double, v: Double): Option[String] = {
    val lo = ref.offsets(k).toInt
    val hi = ref.offsets(k + 1).toInt
    val n = hi - lo
    def firstAtLeast(x: Double, strict: Boolean): Int = {
      var a = lo; var b = hi
      while (a < b) {
        val m = (a + b) >>> 1
        val s = ref.sortedValues(m)
        if (s < x || (strict && s == x)) a = m + 1 else b = m
      }
      a - lo
    }
    val lt = firstAtLeast(v, strict = false)
    val le = firstAtLeast(v, strict = true)
    val target = math.max(1L, math.ceil(q * n).toLong)
    val err = if (target < lt + 1) lt + 1 - target else if (target > le) target - le else 0L
    val tol = math.floor(2 * Eps * n).toLong + 1
    if (err <= tol) None else Some(s"gk key $k q=$q value $v rank error $err > $tol")
  }

  override def facts: Map[String, Any] = Map(
    "rows_per_op" -> refs.values.headOption.fold(0L)(_.rows),
    "topk_recall" -> recall.toSeq.sortBy(_._1).toMap)
}

object SketchScan {
  /** splitmix64 finalizer: the 64-bit hash theta takes pre-hashed */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
