package perfbench

import org.apache.spark.sql.SparkSession

/** Outcome of one timed op: the items it processed and a check of its
  * output, run after the op's clock has stopped. The check returns an
  * error message, or None when the output is correct. */
final case class OpResult(items: Long, check: () => Option[String])

/** One benchmark workload, driven as a closed loop by [[Main]]: a single
  * client submits op i+1 only after op i has finished. */
trait Workload {
  /** Loads reference answers; runs before the first session exists. */
  def prepare(): Unit = ()

  /** Warm-up on a fresh session; part of set-up time. */
  def warmUp(spark: SparkSession, tracer: Tracer): Unit

  def hasOp(i: Int): Boolean = true

  /** The loop checks its clock only between cycles of this many ops. */
  def cycle: Int = 1

  def op(spark: SparkSession, tracer: Tracer, i: Int): OpResult

  /** Whether op i is one of the like ops whose latencies make `op_p50_s`.
    * Every op, the final one too, counts in throughput and CPU. */
  def countsInLatency(i: Int): Boolean = true

  /** A last timed op after the loop, if the workload has one. */
  def hasFinalOp: Boolean = false

  def finalOp(spark: SparkSession, tracer: Tracer): OpResult =
    throw new UnsupportedOperationException("no final op")

  /** Checks that need the whole run, untimed; errors count as failed ops. */
  def finish(spark: SparkSession): Seq[String] = Nil

  /** Workload-specific facts for the result file (recall, sizes, ...). */
  def facts: Map[String, Any] = Map.empty

  /** Extra inputs to the per-layer rollup (document bytes, live segments). */
  def layerInputs(spark: SparkSession): Map[String, Double] = Map.empty
}
