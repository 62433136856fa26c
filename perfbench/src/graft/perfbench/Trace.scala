package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Span recorder for the traced run.
  *
  * A span wraps one public call into the program (or the action that
  * forces a lazy operator's output) on the benchmark thread. A
  * SparkListener records every job's interval and its tasks' metrics;
  * at the end each job is attributed to the innermost span open when
  * the job started. Attribution goes by time, not by thread-local
  * properties, so jobs submitted from the program's own pool threads
  * (which do not inherit local properties) land in the right span too.
  * Spans and job records stay in memory until [[report]].
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private var depth = 0
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val marker = "perfbench.flush"
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var flushed: CountDownLatch = null

  // nanoseconds spent in the listener and in span bookkeeping
  private val busyNs = new java.util.concurrent.atomic.AtomicLong(0L)
  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally busyNs.addAndGet(System.nanoTime() - t0)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      if (e.properties != null && e.properties.getProperty(marker) != null)
        markerJobs.add(e.jobId)
      else {
        jobs.put(e.jobId, new Job(e.time))
        e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      val j = jobs.get(e.jobId)
      if (j != null) j.endMs = e.time
      else if (markerJobs.contains(e.jobId) && flushed != null) flushed.countDown()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      val j = jobs.get(stageJob.getOrDefault(e.stageId, -1))
      if (m != null && j != null) j.acc.synchronized {
        j.acc(0) += m.executorCpuTime
        j.acc(1) += m.inputMetrics.bytesRead
        j.acc(2) += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Seconds the tracer itself has cost so far. */
  def busySeconds: Double = busyNs.get() / 1e9

  if (enabled) spark.sparkContext.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    depth += 1
    try body
    finally timed {
      depth -= 1
      spans += Span(name, startMs, System.currentTimeMillis(), System.nanoTime() - t0, depth)
    }
  }

  /** Wait until the listener bus has delivered every event posted so
    * far: run one marked job and wait for its end event, which the bus
    * delivers after everything queued before it.
    */
  private def flush(): Unit = {
    flushed = new CountDownLatch(1)
    val sc = spark.sparkContext
    sc.setLocalProperty(marker, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(marker, null)
    flushed.await(30, TimeUnit.SECONDS)
  }

  /** Per span name, the per-call mean of the six counters. */
  def report(): Map[String, Map[String, Double]] = {
    if (!enabled) return Map.empty
    flush()
    spark.sparkContext.removeSparkListener(listener)
    val js = jobs.values.asScala.toSeq
    // innermost span open at the job's start: the latest-starting
    // containing span at the greatest depth
    def owner(j: Job): Option[Span] =
      spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(s => (s.depth, s.startMs)).lastOption
    val byOwner = js.groupBy(owner).collect { case (Some(s), v) => s -> v }
    spans.groupBy(_.name).map { case (name, calls) =>
      val per = calls.map { s =>
        val mine = byOwner.getOrElse(s, Nil)
        val wall = s.wallNs / 1e9
        // union of the jobs' intervals clipped to the span
        val iv = mine.map(j => (math.max(j.startMs, s.startMs),
            math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
          .filter { case (a, b) => b >= a }.sortBy(_._1)
        var covered = 0L
        var curA = -1L
        var curB = -1L
        for ((a, b) <- iv) {
          if (a > curB) { if (curB >= 0) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB >= 0) covered += curB - curA
        val acc = mine.map(_.acc.clone()).foldLeft(Array(0L, 0L, 0L)) { (x, y) =>
          Array(x(0) + y(0), x(1) + y(1), x(2) + y(2))
        }
        Map(
          "wall_s" -> wall,
          "jobs" -> mine.size.toDouble,
          "task_cpu_s" -> acc(0) / 1e9,
          "scan_mb" -> acc(1) / 1048576.0,
          "shuffle_mb" -> acc(2) / 1048576.0,
          "driver_s" -> math.max(0.0, wall - covered / 1e3))
      }
      name -> per.head.keys.map(k => k -> per.map(_(k)).sum / per.size).toMap
    }
  }

  /** Per span name, the mean wall time per call minus the part its
    * child spans cover.
    */
  def selfTimes(): Map[String, Double] =
    spans.groupBy(_.name).map { case (name, calls) =>
      name -> calls.map { s =>
        val kids = spans.filter(c => c.depth == s.depth + 1 &&
          c.startMs >= s.startMs && c.endMs <= s.endMs).map(_.wallNs).sum
        (s.wallNs - kids) / 1e9
      }.sum / calls.size
    }
}

object Tracer {
  private final case class Span(name: String, startMs: Long, endMs: Long, wallNs: Long, depth: Int)
  private final class Job(val startMs: Long) {
    @volatile var endMs: Long = -1L
    // executor cpu ns, input bytes, shuffle read + write bytes
    val acc = new Array[Long](3)
  }
}
