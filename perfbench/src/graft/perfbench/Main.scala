package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.Similarity

/** Benchmark entry point: one workload, one seed, one run.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <dir> --started-ms <epoch ms> [--cores <n>]
  *
  * The launcher writes the seeded inputs to `<work>/in` and the warm-up
  * inputs to `<work>/warm` while this JVM starts its session, then
  * creates `<work>/inputs.ready`. Set-up, from `--started-ms` through
  * session start, input generation, a warm-up cycle on the warm-up
  * inputs and any index build, is timed as `setup_s`. The timed
  * window then runs the workload's cycles back to back on this thread
  * (closed loop, one client) until `--seconds` have passed and at least
  * the workload's `minCycles` have run. Every cycle's outputs are
  * checked; the last stdout line is the result JSON, and the full
  * artifact goes to `--out`.
  */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, work: String = "", out: String = "",
                        cores: Int = 4, startedMs: Long = 0)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput" -> "items/s", "write_s" -> "s", "read_s" -> "s",
    "quality" -> "ratio")

  /** Spans whose counters are per-layer result metrics: those of the
    * workloads BENCHMARK.json lists. forecast_chain's `ts.*` and
    * `feed.*` spans are recorded in its artifact (`layers`).
    */
  val Spans: Seq[String] = Seq(
    "store.build", "store.append", "store.takedown", "store.compact",
    "walk.search", "walk.filtered_search",
    "corpus.pipeline",
    "tok.bpe_train", "tok.bpe_encode", "tok.ulm_train", "tok.ulm_encode")
  val Counters: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "jobs" -> "count", "task_cpu_s" -> "s", "scan_mb" -> "MB",
    "shuffle_mb" -> "MB", "driver_s" -> "s")
  val Probes: Seq[String] = Seq("fn.vec_dot.ns_per_row", "fn.minhash.ns_per_row",
    "fn.ulm_viterbi.ns_per_row", "fn.bpe_apply.ns_per_row")
  val PerLayer: Seq[(String, String)] =
    (for (s <- Spans; (c, u) <- Counters) yield s"$s.$c" -> u) ++
      Probes.map(_ -> "ns") ++
      Seq("jvm.heap_peak_mb" -> "MB", "jvm.gc_s" -> "s", "memo.hits" -> "count",
        "trace.overhead_s" -> "s")

  /** Each workload's own figures under their own names (artifact and
    * human-readable lines; not part of the gated result).
    */
  val NamedUnits: Map[String, String] = Map(
    "score_s" -> "s", "feed_s" -> "s", "build_s" -> "s", "search_p50_s" -> "s",
    "filtered_search_p50_s" -> "s", "recall_at_k" -> "ratio",
    "store_bytes_per_vector" -> "bytes", "corpus_s" -> "s", "tokenize_s" -> "s",
    "dedup_recall" -> "ratio")

  def parse(args: Array[String]): Opts = {
    @annotation.tailrec
    def go(o: Opts, rest: List[String]): Opts = rest match {
      case "--workload" :: v :: t => go(o.copy(workload = v), t)
      case "--seed" :: v :: t => go(o.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(o.copy(seconds = v.toDouble), t)
      case "--trace" :: v :: t => go(o.copy(trace = v == "1"), t)
      case "--work" :: v :: t => go(o.copy(work = v), t)
      case "--out" :: v :: t => go(o.copy(out = v), t)
      case "--cores" :: v :: t => go(o.copy(cores = v.toInt), t)
      case "--started-ms" :: v :: t => go(o.copy(startedMs = v.toLong), t)
      case Nil => o
      case x :: _ => throw new IllegalArgumentException(s"unknown argument: $x")
    }
    go(Opts(), args.toList)
  }

  def session(o: Opts): SparkSession = {
    val s = graft.Session.tune(SparkSession.builder()
        .master(s"local[${o.cores}]")
        .config("spark.sql.shuffle.partitions", o.cores.toString))
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/local")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Workload.Names.contains(o.workload),
      s"--workload must be one of ${Workload.Names.mkString(", ")}")
    require(o.work.nonEmpty && o.out.nonEmpty, "--work and --out are required")
    new java.io.File(o.work).mkdirs()
    new java.io.File(o.out).mkdirs()
    val spark = session(o)
    val code = try run(spark, o) finally spark.stop()
    sys.exit(code)
  }

  /** Run hygiene: no trained artifact, cached frame or benchmark table
    * survives from an earlier pass.
    */
  def hygiene(spark: SparkSession, warehouse: String): Unit = {
    Similarity.clearTrainedMemo()
    spark.sharedState.cacheManager.clearCache()
    for (t <- spark.catalog.listTables().collect() if t.name.startsWith("pb"))
      spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
    Option(new java.io.File(warehouse).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("pb")).foreach(deleteTree)
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def run(spark: SparkSession, o: Opts): Int = {
    def sinceStart = (System.currentTimeMillis() - o.startedMs) / 1e3
    val ready = new java.io.File(o.work, "inputs.ready")
    while (!ready.exists()) {
      require(sinceStart < 120, "inputs were not ready within 120 s")
      Thread.sleep(20)
    }
    val sessionS = sinceStart
    val inDir = s"${o.work}/in"
    val warmDir = s"${o.work}/warm"
    val warehouse = s"${o.work}/warehouse"
    val t1 = System.nanoTime()
    val warmCtx = new Ctx(spark, new Tracer(spark, false), o.work, checking = false)
    val warm = Workload(o.workload, warmCtx, warmDir, warm = true)
    warm.prepare()
    warm.cycle(0)
    hygiene(spark, warehouse)
    val warmS = (System.nanoTime() - t1) / 1e9
    if (warmCtx.failed > 0) {
      System.err.println(s"warm-up failed: ${warmCtx.failures.mkString("; ")}")
      return 1
    }

    val tracer = new Tracer(spark, o.trace)
    val ctx = new Ctx(spark, tracer, o.work, checking = true)
    val w = Workload(o.workload, ctx, inDir, warm = false)
    val cycles = ArrayBuffer.empty[Cycle]
    var layers = Map.empty[String, Map[String, Double]]
    var selfTimes = Map.empty[String, Double]
    var probes = Map.empty[String, Double]
    var runNamed = Map.empty[String, Double]
    var setupS, windowS, gcS, heapMb, load = 0.0
    var memoHits = 0L
    val error = try {
      w.prepare()
      setupS = sinceStart

      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      heap.foreach(_.resetPeakUsage())
      val gc0 = gcs.map(_.getCollectionTime).sum
      val memo0 = Similarity.memoHitCount
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      // a fresh trained-artifact memo and cache per cycle: every cycle
      // pays build + serve, as a first call would. The cycle span's self
      // time is the benchmark's own checking between program calls.
      def oneCycle(i: Int): Cycle = {
        Similarity.clearTrainedMemo()
        spark.sharedState.cacheManager.clearCache()
        tracer.span("cycle")(w.cycle(i))
      }
      do cycles += oneCycle(cycles.size)
      while ((elapsed < o.seconds || cycles.size < w.minCycles) && cycles.size < w.maxCycles)
      windowS = elapsed
      memoHits = Similarity.memoHitCount - memo0
      gcS = (gcs.map(_.getCollectionTime).sum - gc0) / 1e3
      heapMb = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
      load = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

      if (o.trace) {
        layers = tracer.report()
        selfTimes = tracer.selfTimes()
        probes = w.probes()
      }
      runNamed = w.finish()
      None
    } catch {
      case e: Throwable =>
        if (ctx.failures.isEmpty) { ctx.failed += 1; ctx.failures += e.toString }
        System.err.println(s"run failed: $e")
        e.printStackTrace()
        Some(e)
    }

    val digests = cycles.map(_.digest)
    if (w.repeatsOutput)
      ctx.check(digests.distinct.size <= 1, s"cycles disagree on the output digest: ${digests.distinct}")
    val correct = error.isEmpty && ctx.failed == 0 && cycles.nonEmpty
    val summary = if (cycles.isEmpty) Map.empty[String, Double]
      else w.summarize(cycles.toSeq, runNamed) + ("setup_s" -> setupS)

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) EndToEnd.map { case (k, u) => (k, summary.getOrElse(k, Double.NaN), u) }
      else {
        // the tracer's own time (listener callbacks and span
        // bookkeeping) per cycle; diff.py also reports traced wall minus
        // the timed median when both kinds of run are at hand
        val overhead = tracer.busySeconds / math.max(1, cycles.size)
        val flat = (for (s <- Spans; (c, _) <- Counters)
          yield s"$s.$c" -> layers.get(s).map(_(c)).getOrElse(0.0)).toMap ++
          Probes.map(p => p -> probes.getOrElse(p, 0.0)) ++
          Map("jvm.heap_peak_mb" -> heapMb, "jvm.gc_s" -> gcS, "memo.hits" -> memoHits.toDouble,
            "trace.overhead_s" -> overhead)
        PerLayer.map { case (k, u) => (k, flat(k), u) }
      }

    val named = summary.filter { case (k, _) => NamedUnits.contains(k) }
    println(s"perfbench ${o.workload} seed=${o.seed} trace=${if (o.trace) 1 else 0} " +
      s"cycles=${cycles.size} window_s=$windowS setup_s=$setupS (inputs + session $sessionS, " +
      s"warm-up $warmS) load1=$load memo_hits=$memoHits")
    for ((k, v) <- named.toSeq.sorted) println(f"  $k%-24s $v%.6f ${NamedUnits(k)}")
    for ((k, v, u) <- metrics) println(f"  $k%-24s $v%.6f $u")
    ctx.failures.foreach(f => println(s"  FAILED $f"))

    val artifact = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "seconds" -> o.seconds, "cores" -> o.cores, "correct" -> correct,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures.toSeq,
      "metrics" -> metrics.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) },
      "named" -> named.toSeq.sorted.map { case (k, v) =>
        k -> Json.obj("value" -> v, "unit" -> NamedUnits(k)) },
      "setup" -> Json.obj("inputs_session_s" -> sessionS, "warmup_s" -> warmS,
        "setup_s" -> setupS),
      "window_s" -> windowS, "cycles" -> cycles.size, "load1" -> load, "memo_hits" -> memoHits,
      "facts" -> runNamed.toSeq.sorted,
      "digests" -> digests.toSeq,
      "samples" -> (Seq(
        "write_s" -> cycles.map(_.write).toSeq, "read_s" -> cycles.map(_.read).toSeq,
        "quality" -> cycles.map(_.quality).toSeq) ++
        cycles.flatMap(_.named.keys).distinct.sorted.map(k => k -> cycles.flatMap(_.named.get(k)).toSeq)),
      "calls" -> ctx.calls.toSeq.map { case (k, v) => k -> v.toSeq },
      "warmup_calls" -> warmCtx.calls.toSeq.map { case (k, v) => k -> v.toSeq },
      "layers" -> layers.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toSeq.sorted },
      "self_s" -> selfTimes.toSeq.sorted)
    val file = new java.io.File(o.out,
      s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}-${System.currentTimeMillis()}.json")
    java.nio.file.Files.writeString(file.toPath, Json.render(artifact) + "\n")

    val result = Json.obj("correct" -> correct, "attempted" -> math.max(1L, ctx.attempted),
      "failed" -> ctx.failed,
      "metrics" -> metrics.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) })
    println(Json.render(result))
    if (correct) 0 else 1
  }
}

/** Just enough JSON for the result line and the artifact. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null => "null"
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      render(Obj(kv.map { case (k, x) => (k.toString, x) }))
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
