package graft.perfbench


import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Similarity, TextOps, TimeSeries}
import graft.sources.MlFeed

/** One closed-loop cycle: the seconds of the workload's write-side and
  * read-side user actions, the items it handled, its output digest, a
  * quality sample, and its figures under their own names (score_s, ...).
  */
final case class Cycle(write: Double, read: Double, items: Double, quality: Double,
                       digest: String, named: Map[String, Double])

/** A workload owns one generated input set. [[prepare]] is set-up
  * (not timed as part of a cycle); [[cycle]] runs the user actions back
  * to back on the benchmark thread; [[finish]] runs the checks that need
  * the whole run and returns run-level named metrics.
  */
abstract class Workload(val ctx: Ctx, val dir: String) {
  def prepare(): Unit = ()
  def cycle(i: Int): Cycle
  def maxCycles: Int = Int.MaxValue
  /** Timed cycles a run makes at least, however short `--seconds`. */
  def minCycles: Int = 1
  /** Whether every cycle sees the same inputs, so must give the same
    * output digest (false for a workload whose store changes per cycle).
    */
  def repeatsOutput: Boolean = true
  def finish(): Map[String, Double] = Map.empty
  /** `fn.*.ns_per_row` probes over this workload's own inputs. */
  def probes(): Map[String, Double] = Map.empty
  /** The five end-to-end values plus the workload's own named figures. */
  def summarize(cs: Seq[Cycle], runNamed: Map[String, Double]): Map[String, Double]

  protected def spark: SparkSession = ctx.spark
  protected def med(cs: Seq[Cycle], f: Cycle => Double): Double = Ctx.median(cs.map(f))
  protected def namedMed(cs: Seq[Cycle], k: String): Double =
    Ctx.median(cs.flatMap(_.named.get(k)))
  protected def namedMin(cs: Seq[Cycle], k: String): Double = cs.flatMap(_.named.get(k)).min
  /** The four end-to-end values a run's cycles give. A time is the run's
    * fastest cycle: the host's noise only ever slows a cycle down, and a
    * run's cycles still speed up as the JVM warms, so the fastest is the
    * closest to the steady cost. Every cycle's figures stay in the
    * artifact.
    */
  protected def base(cs: Seq[Cycle]): Map[String, Double] = {
    val w = cs.map(_.write).min
    val r = cs.map(_.read).min
    Map("write_s" -> w, "read_s" -> r, "quality" -> med(cs, _.quality),
      "throughput" -> med(cs, _.items) / (w + r))
  }
}

object Workload {
  val Names: Seq[String] = Seq("forecast_chain", "vector_store", "corpus_prep")

  def apply(name: String, ctx: Ctx, dir: String, warm: Boolean): Workload = name match {
    case "forecast_chain" => new ForecastChain(ctx, dir, warm)
    case "vector_store" => new VectorStore(ctx, dir, warm)
    case "corpus_prep" => new CorpusPrep(ctx, dir, warm)
  }

  /** ns per row of `expr`: a noop-sink projection of (`keep`, `expr`)
    * minus the same projection of `keep` alone, median of `reps`
    * alternating pairs.
    */
  def nsPerRow(df: DataFrame, keep: Seq[String], expr: String, reps: Int = 5): Double = {
    val rows = df.count().toDouble
    def t(cols: Seq[org.apache.spark.sql.Column]): Double = {
      val t0 = System.nanoTime()
      df.select(cols: _*).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    val k = keep.map(col)
    Ctx.median((0 until reps).map(_ => t(k :+ org.apache.spark.sql.functions.expr(expr)) - t(k))) / rows
  }
}

// ------------------------------------------------------------ forecast_chain

object ForecastChain {
  val Days = 730
  val Half = 15
  val SlopeWindow = 275
  val Horizon = 92
  val NX = 365
  val CleanThreshold = 20
  val Shards = 4
  val BatchSize = 64
}

/** Scoring (cleaning → forecastBaseline → metrics + metricsHorizon) and
  * the training feed (preprocess → samples → writeShards →
  * batchesByShard) over the same seeded events.
  */
final class ForecastChain(ctx: Ctx, dir: String, warm: Boolean) extends Workload(ctx, dir) {
  import ForecastChain._
  private lazy val events = spark.read.parquet(s"$dir/events")
  private lazy val n = events.select(col("user_id")).distinct().count()

  override def prepare(): Unit = n
  private val shardDir = s"${ctx.work}/shards${if (warm) "_warm" else ""}"

  def cycle(i: Int): Cycle = {
    // scoring: the series that pass cleaning get a 92-day forecast
    val (keep, tClean) = ctx.op("ts.cleaning") {
      TimeSeries.cleaning(TimeSeries.resampleDaily(events), CleanThreshold)
        .where(col("keep") === 1).select(col("user_id")).localCheckpoint()
    }
    val (fc, tFc) = ctx.op("ts.forecast_baseline") {
      TimeSeries.forecastBaseline(events.join(keep, Seq("user_id"), "left_semi"),
        Half, SlopeWindow, Horizon)
    }
    val ((m, mh), tM) = ctx.op("ts.metrics") {
      (TimeSeries.metrics(fc).collect(),
        TimeSeries.metricsHorizon(fc, Seq(30, Horizon)).collect())
    }
    // training feed
    val (pre, tPre) = ctx.op("ts.preprocess") {
      TimeSeries.preprocess(events, Half)
        .select(col("user_id"), col("day"), col("scaled").as("v")).localCheckpoint()
    }
    val ((), tShards) = ctx.op("feed.write_shards") {
      MlFeed.writeShards(MlFeed.samples(pre, NX, Horizon), shardDir, Shards)
    }
    val (b, tBatches) = ctx.op("feed.batches") {
      val bs = MlFeed.batchesByShard(spark, shardDir, BatchSize)
      bs.agg(count(lit(1)), sum(col("n")),
          min(expr(s"forall(xs, x -> size(x) = $NX) AND forall(ys, y -> size(y) = $Horizon)")
            .cast("int")),
          countDistinct(col("shard"), col("batch")),
          bit_xor(xxhash64(col("shard"), col("batch"), col("n"), col("xs"), col("ys"))))
        .head()
    }
    val score = tClean + tFc + tM
    val feed = tPre + tShards + tBatches
    val named = Map("score_s" -> score, "feed_s" -> feed)
    if (!ctx.checking) return Cycle(feed, score, n.toDouble, 0.0, "", named)

    val kept = keep.count()
    val s = fc.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(abs(col("v_actual"))).as("a"),
        max(when(col("v_hat").isNull || isnan(col("v_hat")), 1).otherwise(0)).as("bad"))
      .agg(count(lit(1)), min(col("n")), max(col("n")), sum(col("a")), max(col("bad")))
      .head()
    ctx.check(s.getLong(0) == kept, s"forecast covers ${s.getLong(0)} series, cleaning kept $kept")
    ctx.check(s.getLong(1) == Horizon && s.getLong(2) == Horizon,
      s"forecast rows per series in [${s.get(1)}, ${s.get(2)}], want $Horizon")
    ctx.check(s.getInt(4) == 0, "forecast has null or NaN v_hat")
    def finite(r: Row, f: String): Boolean = {
      val v = r.getAs[Any](f)
      v != null && !v.asInstanceOf[Double].isNaN && !v.asInstanceOf[Double].isInfinite
    }
    ctx.check(m.length == kept && m.forall(r => finite(r, "mse") && finite(r, "mae")),
      s"metrics: ${m.length} rows for $kept series, or a non-finite mse/mae")
    ctx.check(mh.length == 2 * kept && mh.forall(r => finite(r, "mse") && finite(r, "mae")),
      s"metricsHorizon: ${mh.length} rows for $kept series × 2 horizons, or a non-finite value")
    // forecast accuracy = 1 − WAPE, from the program's per-series MAE
    val absErr = m.map(_.getAs[Double]("mae") * Horizon).sum
    val accuracy = 1.0 - absErr / s.getDouble(3)

    ctx.check(b.getLong(1) == n, s"batches hold ${b.getLong(1)} samples, want one per series ($n)")
    ctx.check(b.getInt(2) == 1, s"a sample's x or y is not $NX / $Horizon long")
    ctx.check(b.getLong(3) == b.getLong(0), "two batches share a (shard, batch) id")

    val digest = Seq(Ctx.digest(fc),
      m.map(_.toString).sorted.mkString.hashCode.toHexString,
      mh.map(_.toString).sorted.mkString.hashCode.toHexString,
      f"${b.getLong(0)}-${b.getLong(4)}%016x").mkString("/")
    Cycle(write = feed, read = score, items = n.toDouble, quality = accuracy, digest = digest,
      named = named)
  }

  def summarize(cs: Seq[Cycle], runNamed: Map[String, Double]): Map[String, Double] =
    base(cs) ++ Map("score_s" -> namedMin(cs, "score_s"), "feed_s" -> namedMin(cs, "feed_s"))
}

// -------------------------------------------------------------- vector_store

object VectorStore {
  val Centroids = 16
  val KGraph = 8
  val Buckets = 4
  val Queries = 64
  val Beam = 16
  val Rounds = 2
  val FilteredRounds = 1
  val K = 8
  val Labels = 4
}

/** One build in set-up, then cycles of: append a batch, take one down,
  * one filtered stored search while those tombstones are pending (the
  * masked walk), compaction, then one stored search, which must equal
  * the one-shot annGraphSearch over that cycle's survivors.
  */
final class VectorStore(ctx: Ctx, dir: String, warm: Boolean) extends Workload(ctx, dir) {
  import VectorStore._
  private val table = if (warm) "pbw_knn" else "pb_knn"
  private lazy val vecs = spark.read.parquet(s"$dir/vectors")
  private lazy val tds = spark.read.parquet(s"$dir/takedowns")
  private lazy val all: Map[Long, (Array[Double], Int, Int)] =
    vecs.collect().map(r => r.getLong(0) ->
      (r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2), r.getInt(3))).toMap
  private lazy val sched: Map[Int, Seq[Long]] =
    tds.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.groupMap(_._1)(_._2)
  private val live = scala.collection.mutable.Set.empty[Long]
  private val dead = scala.collection.mutable.Set.empty[Long]
  private var buildS = 0.0

  private def vectorsOf(pred: org.apache.spark.sql.Column): DataFrame =
    vecs.where(pred).select(col("vec_id"), col("embedding"), col("label"))

  override def maxCycles: Int = all.values.map(_._3).max + 1
  // the first timed cycle's appends and walks are slower than the
  // second's; two cycles still fit the run's time budget
  override def minCycles: Int = 2
  override def repeatsOutput: Boolean = false

  override def prepare(): Unit = {
    live ++= all.collect { case (id, (_, _, -1)) => id }
    val ((), t) = ctx.op("store.build") {
      Similarity.writeKnnGraph(vectorsOf(col("batch") === -1), Centroids, KGraph, table, Buckets)
      Similarity.writeGraphNodeLabels(vectorsOf(col("batch") === -1), table)
    }
    buildS = t
  }

  private def answers(rows: Array[Row]): Set[(Long, Long, Double, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

  /** Exact cosine top-K over the live vectors, self excluded. */
  private def exact(q: Long): Set[Long] = {
    val qv = all(q)._1
    val qn = math.sqrt(qv.map(x => x * x).sum)
    live.iterator.filter(_ != q).map { id =>
      val v = all(id)._1
      var d = 0.0
      var j = 0
      while (j < v.length) { d += v(j) * qv(j); j += 1 }
      (id, d / (qn * math.sqrt(v.map(x => x * x).sum)))
    }.toSeq.sortBy(p => (-p._2, p._1)).take(K).map(_._1).toSet
  }

  def cycle(i: Int): Cycle = {
    val batch = vectorsOf(col("batch") === i)
    val ((), tAppend) = ctx.op("store.append") {
      Similarity.appendKnnGraph(batch, table)
      Similarity.appendGraphNodeLabels(batch, table)
    }
    val added = all.collect { case (id, (_, _, b)) if b == i => id }
    live ++= added
    val gone = sched.getOrElse(i, Nil)
    val ((), tTakedown) = ctx.op("store.takedown") {
      Similarity.deleteFromKnnGraph(tds.where(col("cycle") === i).select(col("vec_id")), table)
    }
    live --= gone
    dead ++= gone
    val (filtered, tFiltered) = ctx.op("walk.filtered_search") {
      Similarity.annGraphSearchFilteredStored(spark, table, Queries, Beam, FilteredRounds, K,
        Labels).collect()
    }
    val ((), tCompact) = ctx.op("store.compact")(Similarity.compactKnnGraph(table))
    val (plain, tSearch) = ctx.op("walk.search") {
      Similarity.annGraphSearchStored(spark, table, Queries, Beam, Rounds, K).collect()
    }
    val write = tAppend + tTakedown + tCompact
    val items = added.size + gone.size + 2.0 * Queries
    val named = Map("search_s" -> tSearch, "filtered_search_s" -> tFiltered)
    if (!ctx.checking) return Cycle(write, tSearch + tFiltered, items, 0.0, "", named)

    val pa = answers(plain)
    val fa = answers(filtered)
    ctx.check(!(pa ++ fa).exists(a => dead.contains(a._2)),
      s"cycle $i: a tombstoned id is in a search answer")
    ctx.check(fa.forall(a => all(a._2)._2 == Math.floorMod(a._1, Labels.toLong)),
      s"cycle $i: a filtered answer has the wrong label")
    ctx.check(pa.groupBy(_._1).size == Queries, s"cycle $i: stored search answered " +
      s"${pa.groupBy(_._1).size} of $Queries queries")
    val oneShot = answers(Similarity.annGraphSearch(
      vectorsOf(col("batch") <= i).join(tds.where(col("cycle") <= i).select(col("vec_id")),
        Seq("vec_id"), "left_anti"),
      Centroids, KGraph, Queries, Beam, Rounds, K).collect())
    ctx.check(pa == oneShot, s"cycle $i: stored search after compact differs from " +
      s"the one-shot search over the survivors (${(pa diff oneShot).size} rows differ)")
    val recall = pa.groupBy(_._1).map { case (q, as) =>
      (as.map(_._2) intersect exact(q)).size.toDouble / K
    }.sum / Queries
    Cycle(write = write, read = tSearch + tFiltered, items = items, quality = recall,
      digest = Seq(pa, fa).map(_.toSeq.sorted.mkString.hashCode.toHexString)
        .mkString("/"),
      named = named)
  }

  /** The store's on-disk bytes per live vector after the run. */
  override def finish(): Map[String, Double] = {
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L else f.length()
    val store = Option(new java.io.File(ctx.warehouse).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(table + "_")).map(bytes).sum
    Map("build_s" -> buildS, "store_bytes_per_vector" -> store.toDouble / live.size)
  }

  override def probes(): Map[String, Double] = Map(
    "fn.vec_dot.ns_per_row" -> Workload.nsPerRow(
      vecs.select(col("embedding"), explode(sequence(lit(1), lit(250))).as("rep")),
      Seq("embedding"), "graft_vec_dot(embedding, embedding)"))

  def summarize(cs: Seq[Cycle], runNamed: Map[String, Double]): Map[String, Double] =
    base(cs) ++ Map(
      "search_p50_s" -> namedMed(cs, "search_s"),
      "filtered_search_p50_s" -> namedMed(cs, "filtered_search_s"),
      "recall_at_k" -> med(cs, _.quality)) ++ runNamed
}

// --------------------------------------------------------------- corpus_prep

object CorpusPrep {
  val BpeMerges = 16
  val UlmSeed = 40
  val UlmRounds = 2
  val TrainEvery = 8
}

/** Corpus.pipeline with default stages, then BPE and unigram-LM
  * training and encoding over the same documents.
  */
final class CorpusPrep(ctx: Ctx, dir: String, warm: Boolean) extends Workload(ctx, dir) {
  import CorpusPrep._
  private lazy val docs = spark.read.parquet(s"$dir/documents")
  private lazy val bench = spark.read.parquet(s"$dir/benchmark")
  private lazy val planted = spark.read.parquet(s"$dir/planted")
  // tokenizers train on a fixed sample and encode the whole corpus
  private lazy val sample = docs.where(pmod(col("doc_id"), lit(TrainEvery)) === 0)
  private lazy val nDocs = docs.count()
  private lazy val nWords = docs.agg(sum(size(split(col("text"), " ")))).head().getLong(0)
  private lazy val nNear = planted.where(col("kind") === "near").count()
  private var merges: Seq[(String, String)] = Nil
  private var vocab: Seq[(String, Double)] = Nil
  private var dedupRecall = 0.0

  // distinct word types in the largest read task: above 65,536 the
  // tokenizers' per-task word memo has to evict
  private lazy val maxTypesPerTask = docs
    .select(spark_partition_id().as("p"), explode(split(col("text"), " ")).as("w"))
    .distinct().groupBy(col("p")).count().agg(max(col("count"))).head().getLong(0)

  override def prepare(): Unit = (nDocs, nWords, nNear)
  // the pipeline's first passes are much slower than later ones, on the
  // warm-up inputs and again, less so, on the timed inputs; by the third
  // timed cycle it is close to its steady cost
  override def minCycles: Int = 3

  override def finish(): Map[String, Double] =
    Map("max_types_per_task" -> maxTypesPerTask.toDouble)

  private def tokens(df: DataFrame): Row =
    df.agg(count(lit(1)), sum(col("n_tokens")), bit_xor(xxhash64(col("doc_id"), col("fp")))).head()

  def cycle(i: Int): Cycle = {
    val (out, tCorpus) = ctx.op("corpus.pipeline") {
      Corpus.pipeline(docs, bench).localCheckpoint()
    }
    val (m, tBpeTrain) = ctx.op("tok.bpe_train") {
      TextOps.bpeTrainMerges(sample, BpeMerges).map(t => (t._2, t._3))
    }
    val (bpe, tBpeEncode) = ctx.op("tok.bpe_encode")(tokens(TextOps.bpeEncode(docs, m)))
    val (v, tUlmTrain) = ctx.op("tok.ulm_train") {
      TextOps.ulmTrainVocab(sample, UlmSeed, UlmRounds).map(t => (t._1, t._3))
    }
    val (ulm, tUlmEncode) = ctx.op("tok.ulm_encode")(tokens(TextOps.ulmEncode(docs, v)))
    merges = m
    vocab = v
    val tokenize = tBpeTrain + tBpeEncode + tUlmTrain + tUlmEncode
    val named = Map("corpus_s" -> tCorpus, "tokenize_s" -> tokenize)
    if (!ctx.checking) return Cycle(tCorpus, tokenize, nDocs.toDouble, 0.0, "", named)

    val digest = Seq(Ctx.digest(out), m.mkString.hashCode.toHexString,
      v.mkString.hashCode.toHexString,
      f"${bpe.getLong(1)}-${bpe.getLong(2)}%016x", f"${ulm.getLong(1)}-${ulm.getLong(2)}%016x")
      .mkString("/")
    // every cycle reads the same inputs, and Main requires every cycle's
    // digest to equal the first's, so the first cycle's checks cover all
    if (i > 0) return Cycle(tCorpus, tokenize, nDocs.toDouble, dedupRecall, digest, named)

    val surv = out.select(col("doc_id"))
    val byKind = surv.join(planted, Seq("doc_id")).groupBy(col("kind")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    ctx.check(byKind.getOrElse("contam", 0L) == 0L,
      s"${byKind.getOrElse("contam", 0L)} contaminated documents survived")
    val dups = planted.where(col("kind") === "dup")
    val members = dups.select(col("doc_id"), col("cluster"))
      .unionByName(dups.select(col("cluster").as("doc_id"), col("cluster"))).distinct()
    val crowded = surv.join(members, Seq("doc_id")).groupBy(col("cluster")).count()
      .where(col("count") > 1).count()
    ctx.check(crowded == 0, s"$crowded exact-copy clusters kept more than one document")
    // near-duplicates are MinHash's approximate case: their removal
    // rate is the quality figure, not a pass/fail check
    dedupRecall = 1.0 - byKind.getOrElse("near", 0L).toDouble / nNear

    for ((name, r) <- Seq("bpe" -> bpe, "ulm" -> ulm)) {
      ctx.check(r.getLong(0) == nDocs, s"$name encoded ${r.getLong(0)} of $nDocs documents")
      ctx.check(r.getLong(1) >= nWords, s"$name: ${r.getLong(1)} tokens for $nWords words")
    }
    Cycle(write = tCorpus, read = tokenize, items = nDocs.toDouble, quality = dedupRecall,
      digest = digest, named = named)
  }

  override def probes(): Map[String, Double] = {
    graft.functions.VectorExprs.register(spark)
    val toks = docs.select(split(col("text"), " ").as("toks"))
    val shingles = toks.where(size(col("toks")) >= 3).select(expr(
      "transform(sequence(1, size(toks) - 2), i -> concat(element_at(toks, i), ' ', " +
        "element_at(toks, i + 1), ' ', element_at(toks, i + 2)))").as("shingles"))
    def quoted(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    val bpeEnc = quoted(graft.functions.BpeApply.encode(merges))
    val ulmEnc = quoted(graft.functions.UlmViterbi.encode(vocab))
    Map(
      "fn.minhash.ns_per_row" -> Workload.nsPerRow(shingles, Seq("shingles"),
        "graft_minhash(shingles, 16)"),
      "fn.bpe_apply.ns_per_row" -> Workload.nsPerRow(toks, Seq("toks"),
        s"transform(toks, w -> graft_bpe_apply(w, '$bpeEnc'))"),
      "fn.ulm_viterbi.ns_per_row" -> Workload.nsPerRow(toks, Seq("toks"),
        s"transform(toks, w -> graft_ulm_viterbi(w, '$ulmEnc'))"))
  }

  def summarize(cs: Seq[Cycle], runNamed: Map[String, Double]): Map[String, Double] =
    base(cs) ++ Map("corpus_s" -> namedMin(cs, "corpus_s"),
      "tokenize_s" -> namedMin(cs, "tokenize_s"), "dedup_recall" -> med(cs, _.quality))
}
