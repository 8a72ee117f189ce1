package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession
import org.apache.spark.perfbench.SparkInternals

/** Runs one workload as a closed loop in this JVM and writes its
  * measurements as JSON. Driven by run.py:
  *
  *   perfbench.Main --workload W --inputs DIR --work DIR --seed N
  *                  --seconds S --threads T --trace 0|1 --out FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val threads = a("threads").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val wl: Workload = workload match {
      case "sketch_scan" => new SketchScan(a("inputs"), a("seed").toLong)
      case "query_mix" => new QueryMix(a("inputs"), work)
      case "curation_ingest" => new CurationIngest(a("inputs"), work)
    }
    val tracer = new Tracer(trace)
    val listener = new TraceListener
    wl.prepare()

    // set-up, timed from JVM start: session, extension registration, warm-up
    val spark = GraftSession.builder(s"local[$threads]", threads)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
      tracer.sc = spark.sparkContext
    }
    wl.warmUp(spark, tracer)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    if (trace) {
      // only the timed ops' events are measured
      SparkInternals.drain(spark)
      listener.synchronized {
        listener.jobGroup.clear(); listener.jobTimes.clear(); listener.stageJob.clear()
        listener.stages.clear(); listener.queries.clear()
      }
    }

    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val threadMx = ManagementFactory.getThreadMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcTotals = (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
    val lat = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var items = 0L
    var opTime = 0.0
    var cpuNs = 0L
    var driverCpuNs = 0L
    var gcMs = 0L
    var gcCount = 0L
    var attempted = 0
    val heapAfterGc = new HeapAfterGc(gcs.toSeq)

    def timed(i: Int, inLatency: Boolean)(body: => OpResult): Unit = {
      attempted += 1
      tracer.currentOp = i
      val (g0, c0) = gcTotals
      val p0 = os.getProcessCpuTime
      val d0 = threadMx.getCurrentThreadCpuTime
      heapAfterGc.open()
      val t0 = System.nanoTime()
      val r = try Right(tracer.span("op", "op")(body)) catch { case e: Throwable => Left(e) }
      val t1 = System.nanoTime()
      heapAfterGc.close()
      driverCpuNs += threadMx.getCurrentThreadCpuTime - d0
      cpuNs += os.getProcessCpuTime - p0
      val (g1, c1) = gcTotals
      gcMs += g1 - g0; gcCount += c1 - c0
      tracer.currentOp = -1
      opTime += (t1 - t0) / 1e9
      if (inLatency) lat += (t1 - t0) / 1e9
      r match {
        case Left(e) => errors += s"op $i threw ${e.toString.take(300)}"
        case Right(res) =>
          items += res.items
          try res.check().foreach(m => errors += s"op $i: $m")
          catch { case e: Throwable => errors += s"op $i check threw ${e.toString.take(300)}" }
      }
    }

    val loopStart = System.nanoTime()
    var i = 0
    while ((i % wl.cycle != 0 || (System.nanoTime() - loopStart) / 1e9 < seconds) && wl.hasOp(i)) {
      val k = i
      timed(k, wl.countsInLatency(k))(wl.op(spark, tracer, k))
      i += 1
    }
    if (wl.hasFinalOp) timed(i, inLatency = false)(wl.finalOp(spark, tracer))
    val finishErrors = try wl.finish(spark) catch { case e: Throwable => Seq(s"finish threw $e") }
    errors ++= finishErrors
    val failed = math.min(attempted, errors.size)

    val perLayer: Map[String, Double] =
      if (!trace) Map.empty
      else {
        SparkInternals.drain(spark)
        Rollup(tracer, listener, gcMs / 1e3, gcCount, driverCpuNs / 1e9, wl.layerInputs(spark))
      }
    if (trace) writeSpans(tracer, s"$work/spans.json")

    val sorted = lat.sorted
    def pct(p: Double) = if (sorted.isEmpty) Double.NaN
      else sorted(math.min(sorted.size - 1, math.ceil(p * sorted.size).toInt - 1).max(0))
    val e2e = Map(
      "setup_s" -> setupS,
      "items_per_s" -> items / opTime,
      "op_p50_s" -> median(lat.toSeq),
      "op_p90_s" -> pct(0.9),
      // process CPU over the timed ops, per cycle of the op mix, so it does
      // not depend on how many cycles fit in `seconds`
      "cpu_s" -> cpuNs / 1e9 / math.max(1, i / wl.cycle),
      "peak_live_heap_mb" -> heapAfterGc.peak / 1048576.0,
      "failed_frac" -> failed.toDouble / attempted)
    val out = Map[String, Any](
      "workload" -> workload, "attempted" -> attempted, "failed" -> failed,
      "errors" -> errors.take(20).toSeq, "end_to_end" -> e2e, "per_layer" -> perLayer,
      "heap_after_gc_mb" -> heapAfterGc.inOps.map(_ / 1048576.0), "op_latencies_s" -> lat.toSeq, "items" -> items,
      "threads" -> threads, "facts" -> wl.facts)
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")), Json.value(out).getBytes("UTF-8"))
    spark.stop()
    System.exit(0)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def writeSpans(t: Tracer, path: String): Unit = {
    val lines = t.spans.map(s => Json.value(Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
      "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.start, "end_ms" -> s.end)))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

/** The heap in use right after each garbage collection that ends while
  * an op is open. Each collector's notification carries the memory use
  * after that collection. */
final class HeapAfterGc(collectors: Seq[java.lang.management.GarbageCollectorMXBean]) {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val uptime = ManagementFactory.getRuntimeMXBean
  // GcInfo times are milliseconds of JVM uptime
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  private var openedAt = -1L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val used = info.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        seen.add(info.getEndTime -> used)
      }
  }
  collectors.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def open(): Unit = openedAt = uptime.getUptime
  def close(): Unit = windows += (openedAt -> uptime.getUptime)

  /** Bytes in use after each collection inside an op, ascending. */
  def inOps: Seq[Long] = seen.asScala.toSeq.collect {
    case (end, used) if windows.exists { case (a, b) => a <= end && end <= b } => used
  }.sorted

  /** The 90th percentile (nearest rank) of [[inOps]]: the largest
    * occupancy, less the top tenth of collections, which land on
    * transient overlaps of large buffers. NaN without a collection. */
  def peak: Double = {
    val s = inOps
    if (s.isEmpty) Double.NaN else s(math.ceil(0.9 * s.size).toInt - 1).toDouble
  }
}
