package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one workload run shares: the session, the tracer, a scratch
  * directory inside the run's work area, and the operation / check
  * ledger. Every public call into the program goes through [[op]], which
  * times it, wraps it in a span and counts it as attempted; a failed
  * call or a failed output check counts as failed. With `checking` off
  * (the warm-up cycle) workloads skip their output checks.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String,
                val checking: Boolean) {
  val warehouse: String = s"$work/warehouse"
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  /** Seconds of every call, by span, in call order (for the artifact). */
  val calls = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  def op[T](span: String)(body: => T): (T, Double) = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = tracer.span(span)(body)
      val t = (System.nanoTime() - t0) / 1e9
      calls.getOrElseUpdate(span, ArrayBuffer.empty) += t
      (v, t)
    } catch {
      case e: Throwable =>
        failed += 1
        failures += s"$span: $e"
        throw e
    }
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      failed += 1
      failures += s"check failed: $what"
    }
}

object Ctx {

  /** Order-independent digest of a frame: row count, XOR and modular sum
    * of per-row 64-bit hashes. Equal multisets of rows give equal
    * digests whatever the partitioning or row order.
    */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(2147483647L)))).head()
    f"${r.getLong(0)}%d-${r.getLong(1)}%016x-${if (r.isNullAt(2)) 0L else r.getLong(2)}%x"
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
