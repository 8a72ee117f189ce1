package perfbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** `query_mix`: interactive analytics. A seeded draw of read-only,
  * oracle-backed gates from `SparkEntry.queries`, run in draw order, in
  * whole permutations of the gate pool.
  * Each op collects one gate's result. Results are compared with the
  * first result of the same gate here; that first result is written out
  * after the loop and compared with DuckDB running `SparkEntry.oracleSql`. */
final class QueryMix(inputs: String, work: String) extends Workload {
  private val sf = s"$inputs/tpch"
  private var draw: IndexedSeq[String] = IndexedSeq.empty
  private val canonical = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
  val opGates = mutable.ArrayBuffer.empty[String]

  override def prepare(): Unit = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sf/query_draw.json")), "UTF-8")
    draw = "\"([a-z0-9_]+)\"".r.findAllMatchIn(txt).map(_.group(1)).toIndexedSeq
    require(draw.nonEmpty, "empty query draw")
    val missing = draw.distinct.filterNot(g => SparkEntry.queries.contains(g) && SparkEntry.oracleSql.contains(g))
    require(missing.isEmpty, s"gates without a query or oracle: ${missing.mkString(",")}")
  }

  // every gate of the pool once, on a tenth-size copy of the tables:
  // Catalyst, the generated code and the JIT warm up while the set-up
  // stays a few seconds
  override def warmUp(spark: SparkSession, tracer: Tracer): Unit =
    draw.distinct.foreach(g => SparkEntry.queries(g)(spark, s"$sf/warm").collect())

  // the draw is whole permutations of the gate pool; a cycle is one
  override def cycle: Int = draw.distinct.size

  override def op(spark: SparkSession, tracer: Tracer, i: Int): OpResult = {
    val gate = draw(i % draw.size)
    opGates += gate
    val (schema, rows) = tracer.span(s"query.$gate", "driver") {
      val df = SparkEntry.queries(gate)(spark, sf)
      (df.schema, df.collect())
    }
    OpResult(1, () => canonical.get(gate) match {
      case None => canonical(gate) = (schema, rows); None
      case Some((_, want)) => Rows.diff(rows, want).map(d => s"$gate differs from its first run: $d")
    })
  }

  /** Writes each gate's first result and the oracle SQL for the DuckDB
    * comparison, which runs after the JVM exits. */
  override def finish(spark: SparkSession): Seq[String] = {
    val dir = s"$work/query_results"
    for ((gate, (schema, rows)) <- canonical)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$gate")
    val sql = canonical.keys.map(g => s"${Json.str(g)}: ${Json.str(SparkEntry.oracleSql(g))}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/oracle_sql.json"),
      sql.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
    Nil
  }

  override def facts: Map[String, Any] = Map(
    "draw_size" -> draw.size, "distinct_gates" -> draw.distinct.size, "op_gates" -> opGates.toSeq)
}

object Rows {
  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Float, y: Float) => close(x.toDouble, y.toDouble)
    case (x: Row, y: Row) => x.length == y.length && (0 until x.length).forall(i => close(x.get(i), y.get(i)))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => close(p, q) }
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case _ => a == b
  }

  /** Order-insensitive comparison with the oracle's float tolerance. */
  def diff(got: Array[Row], want: Array[Row]): Option[String] = {
    if (got.length != want.length) return Some(s"${got.length} rows vs ${want.length}")
    val g = got.sortBy(_.toString)
    val w = want.sortBy(_.toString)
    g.indices.find(i => !close(g(i), w(i))).map(i => s"row ${g(i)} vs ${w(i)}")
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case o => str(o.toString)
  }
}
