package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ml.{Evaluator, Predictor, SoftmaxMlpModel, Trainers}

/** One closed-loop operation as measured. `work` is the operation's unit
  * count for throughput (1 query, or the training examples it processed). */
final case class OpRec(pass: Int, index: Int, name: String, group: String, traced: Boolean,
                       startMs: Long, wallS: Double, ok: Boolean, error: Option[String],
                       loadOverlap: Double, work: Double, layers: Map[String, Double])

/** What every workload shares: the session, the tracer, the load sampler
  * and the seeded operation order. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val traceMode: Boolean, val cpus: Int, val sampler: LoadSampler) {
  val tracer = new Tracer(spark)
  val rng = new scala.util.Random(seed)
  val ops = ArrayBuffer.empty[OpRec]

  /** Frees blocks a finished op left pinned (local checkpoints, caches),
    * outside the op's timed region. */
  def release(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  /** Runs `op` over `items` in whole seeded passes until `seconds` have
    * elapsed, so every item is measured equally often. */
  def passes[A](items: Seq[A])(op: (A, Int, Int) => Unit): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      rng.shuffle(items).zipWithIndex.foreach { case (a, i) => op(a, pass, i) }
      pass += 1
    }
  }

  /** Runs `body` once (or, when tracing, once bare and once traced in a
    * seeded order, so tracing overhead is measured pairwise) and records
    * each run. `layers` turns a traced run's spans and listener stats
    * into per-layer numbers. */
  def measure(pass: Int, index: Int, name: String, group: String, work: Double)
             (body: => Unit)(layers: (Span, OpStats) => Map[String, Double]): Seq[OpRec] = {
    val modes = if (!traceMode) Seq(false)
      else if (rng.nextBoolean()) Seq(false, true) else Seq(true, false)
    modes.map { traced =>
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (res, trace) = tracer.op(s"$group/$pass/$index/$name", traced)(Try(body))
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val rec = OpRec(pass, index, name, group, traced, startMs, wall, res.isSuccess,
        res.failed.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}"),
        sampler.overlap(startMs, endMs), work,
        trace.map { case (root, stats) => Layers.common(root, stats, cpus) ++ layers(root, stats) }
          .getOrElse(Map.empty))
      ops += rec
      rec
    }
  }
}

/** Per-layer numbers derived from one traced op. */
object Layers {
  private def union(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
      if (b <= hi) (acc, hi)
      else (acc + b - (a max hi), b)
    }._1

  def common(root: Span, s: OpStats, cpus: Int): Map[String, Double] = {
    val wall = root.seconds
    val jobMs = union(s.jobs.map(j => (j.startMs max root.startMs, j.endMs min root.endMs))
      .filter(iv => iv._2 > iv._1).toSeq)
    val skew = s.stages.filter(_.taskDurS.size >= 2).map { st =>
      val d = st.taskDurS.sorted
      val med = d(d.size / 2)
      if (med > 0) d.last / med else 1.0
    }.maxOption.getOrElse(1.0)
    Map(
      "spark.jobs" -> s.jobs.size.toDouble,
      "spark.aqe_stage_jobs" -> s.jobs.count(_.mapStageJob).toDouble,
      "spark.checkpoint_jobs" -> s.jobs.count(_.resultStage.contains("Checkpointer.scala")).toDouble,
      "graft.Tables.scan_jobs" -> s.jobs.count(_.resultStage.contains("Tables.scala")).toDouble,
      "spark.stages" -> s.stages.size.toDouble,
      "spark.tasks" -> s.tasks.toDouble,
      "spark.task_s" -> s.taskS,
      "spark.task_cpu_s" -> s.taskCpuS,
      "spark.gc_s" -> s.gcS,
      "spark.sched_wait_s" -> s.schedWaitS,
      "spark.driver_gap_s" -> (wall - jobMs / 1e3).max(0.0),
      "spark.parallel_eff" -> (if (wall > 0) s.taskS / (wall * cpus) else 0.0),
      "spark.task_skew" -> skew,
      "spark.shuffle_read_mb" -> s.shuffleReadB / 1e6,
      "spark.shuffle_write_mb" -> s.shuffleWriteB / 1e6,
      "spark.spill_mb" -> s.spillB / 1e6,
      "spark.tasks_failed" -> s.tasksFailed.toDouble,
      "spark.driver_collect_rows_max" -> s.collectRowsMax.toDouble)
  }

  /** Jobs that started inside the given span. */
  def jobsIn(span: Span, s: OpStats): Seq[JobRec] =
    s.jobs.filter(j => j.startMs >= span.startMs && j.startMs <= span.endMs).toSeq
}

/** Registry keys run closed-loop: one op = call the registry function,
  * force the physical plan, run a `noop` write. */
final class RegistryWorkload(ctx: Ctx, name: String, keys: Seq[(String, String)],
                             dataDir: String) {
  import ctx.spark

  /** Keys whose op is composed here from the public functions their
    * registry function calls, so each module's call gets a span of its
    * own: `q_dedup_cluster` (`TextOps.qDedupCluster`) would otherwise hide
    * its ConnectedComponents rounds (`graft.graph`) inside `graft.text`.
    * The composed result is what the oracle checks against the key's
    * `oracleSql`. */
  private val staged: Map[String, () => DataFrame] = Map(
    "q_dedup_cluster" -> { () =>
      val (docs, edges) = ctx.tracer.span("graft.text.build") {
        val docs = graft.Tables.documents(spark, dataDir)
        (docs, graft.text.TextOps.ngramJaccardPairs(docs, 3, 0.5, None)
          .select(col("id_a").as("src"), col("id_b").as("dst")))
      }
      ctx.tracer.span("graft.graph.build") {
        graft.graph.ConnectedComponents.run(edges, docs.select(col("doc_id").as("id")))
      }.select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
        (col("id") === col("lbl")).as("keep"))
        .orderBy("doc_id")
    })

  /** The key's DataFrame, with each library call in a `graft.<module>.build` span. */
  private def build(key: String, module: String): DataFrame =
    staged.get(key).map(_()).getOrElse(
      ctx.tracer.span(s"graft.$module.build")(graft.SparkEntry.queries(key)(spark, dataDir)))

  /** Warm-up pass that also dumps each key's result for the oracle check;
    * returns each key's cold time and the keys that failed, with their error. */
  def warmupAndDump(dumpDir: String): (Map[String, Double], Map[String, String]) = {
    val runs = ctx.rng.shuffle(keys).map { case (key, module) =>
      val t0 = System.nanoTime()
      val r = Try(build(key, module).coalesce(1).write.mode("overwrite")
        .parquet(s"$dumpDir/$key"))
      val s = (System.nanoTime() - t0) / 1e9
      ctx.release()
      (key, s, r.failed.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}"))
    }
    (runs.map(r => r._1 -> r._2).toMap, runs.collect { case (k, _, Some(e)) => k -> e }.toMap)
  }

  /** Seeded passes over every key, as [[Ctx.passes]]. */
  def timed(): Unit =
    ctx.passes(keys) { case ((key, module), pass, i) =>
      ctx.measure(pass, i, key, name, work = 1.0) {
        val df = build(key, module)
        ctx.tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
        ctx.tracer.span("spark.execute")(df.write.format("noop").mode("overwrite").save())
      } { (root, stats) =>
        val spans = ctx.tracer.allSpans.filter(_.traceId == root.traceId)
        val builds = spans.filter(s => s.name.startsWith("graft.") && s.name.endsWith(".build"))
          .groupBy(_.name.stripSuffix(".build")).flatMap { case (layer, ss) =>
            Seq(s"$layer.build_s" -> ss.map(_.seconds).sum,
              s"$layer.eager_jobs" -> ss.map(Layers.jobsIn(_, stats).size.toDouble).sum)
          }
        builds + ("catalyst.plan_s" ->
          spans.find(_.name == "catalyst.plan").map(_.seconds).getOrElse(0.0))
      }
      ctx.release()
    }
}

/** The dist-keras workflow on a seeded synthetic task shaped like MNIST:
  * class-conditional Gaussian clusters in `features` dimensions. */
final class TrainWorkload(ctx: Ctx, cfg: TrainConfig) {
  import ctx.spark

  // call sites of the stages Trainers runs per epoch: the local-SGD map
  // stage, and the collect that ends each epoch job (the treeFold merge
  // of the distributed trainer; the whole epoch of the single one)
  private val sgdStage = "mapPartitionsWithIndex at Trainers.scala"
  private val epochEnd = "collect at Trainers.scala"

  def frame(first: Long, n: Long): DataFrame = {
    import spark.implicits._
    val (seed, dim, k, noise) = (ctx.seed, cfg.features, cfg.classes, cfg.noise)
    val centroids = {
      val r = new java.util.SplittableRandom(seed)
      Array.fill(k, dim)(r.nextGaussian())
    }
    spark.range(first, first + n, 1, ctx.cpus).mapPartitions { it =>
      it.map { i =>
        val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + i.longValue)
        val y = r.nextInt(k)
        val c = centroids(y)
        (Array.tabulate(dim)(j => c(j) + noise * r.nextGaussian()), y)
      }
    }.toDF("features", "label")
  }

  lazy val train: DataFrame = frame(0L, cfg.trainRows).cache()
  lazy val test: DataFrame = frame(cfg.trainRows, cfg.testRows).cache()

  def init: SoftmaxMlpModel = SoftmaxMlpModel.init(cfg.features, cfg.hidden, cfg.classes, ctx.seed)

  def model(weights: Array[Double]): SoftmaxMlpModel =
    init.withWeights(init.weights.copy(flat = weights))

  def rule(name: String): Trainers.UpdateRule = name match {
    case "adag" => Trainers.Adag()
    case "averaging" => Trainers.Averaging
    case other => throw new IllegalArgumentException(s"unknown update rule '$other'")
  }

  def distributed(df: DataFrame, r: String, epochs: Int): SoftmaxMlpModel =
    ctx.tracer.span("graft.ml.Trainers.trainDistributedModel", Map("rule" -> r)) {
      Trainers.trainDistributedModel(df, "features", "label", init, numWorkers = ctx.cpus,
        epochs = epochs, lr = cfg.lr, batchSize = cfg.batchSize, rule = rule(r))
    }

  def single(df: DataFrame, epochs: Int): SoftmaxMlpModel =
    ctx.tracer.span("graft.ml.Trainers.trainSingleModel") {
      Trainers.trainSingleModel(df, "features", "label", init, epochs = epochs,
        lr = cfg.lr, batchSize = cfg.batchSize)
    }

  def accuracy(df: DataFrame, m: SoftmaxMlpModel): Double = {
    val bc = spark.sparkContext.broadcast(m)
    try {
      val scored = ctx.tracer.span("graft.ml.Predictor.predictBatchedLabel") {
        Predictor.predictBatchedLabel(df, bc, "features", "prediction")
      }
      ctx.tracer.span("graft.ml.Evaluator.accuracy")(Evaluator.accuracy(scored, "prediction", "label"))
    } finally bc.destroy()
  }

  /** Mean held-out log-loss, one distributed pass. */
  def meanLoss(df: DataFrame, m: SoftmaxMlpModel): Double = {
    val bc = spark.sparkContext.broadcast(m)
    try df.select("features", "label").rdd
      .map(r => bc.value.logLoss(r.getSeq[Double](0).toArray, r.getInt(1).toDouble)).mean()
    finally bc.destroy()
  }

  private def epochJobs(s: OpStats): Seq[JobRec] =
    s.jobs.filter(_.resultStage.startsWith(epochEnd)).sortBy(_.startMs).toSeq

  private def stages(s: OpStats, site: String): Seq[StageRec] =
    s.stages.filter(_.name.startsWith(site)).toSeq

  private def perEpoch(xs: Seq[Double], epochs: Int): Double = xs.sum / epochs.max(1)

  private def distributedLayers(root: Span, s: OpStats): Map[String, Double] = {
    val jobs = epochJobs(s)
    val next = jobs.drop(1).map(_.startMs) :+ root.endMs
    Map("graft.ml.Trainers.epoch_s" -> perEpoch(jobs.map(j => (j.endMs - j.startMs) / 1e3), jobs.size),
      "graft.ml.Trainers.sgd_task_s" -> perEpoch(stages(s, sgdStage).map(_.taskS), jobs.size),
      "graft.ml.Trainers.merge_s" -> perEpoch(stages(s, epochEnd).map(st => (st.endMs - st.submitMs) / 1e3), jobs.size),
      "graft.ml.Trainers.driver_apply_s" -> perEpoch(jobs.zip(next).map { case (j, n) => (n - j.endMs) / 1e3 }, jobs.size))
  }

  private def singleLayers(s: OpStats): Map[String, Double] = {
    val jobs = epochJobs(s)
    Map("graft.ml.Trainers.single_epoch_s" -> perEpoch(jobs.map(j => (j.endMs - j.startMs) / 1e3), jobs.size),
      "graft.ml.Trainers.single_sgd_task_s" -> perEpoch(stages(s, epochEnd).map(_.taskS), jobs.size))
  }

  final case class Outcome(rule: String, weights: Array[Double])

  /** Seeded passes over the update rules, as [[Ctx.passes]]. */
  def timed(): Seq[Outcome] = {
    val out = ArrayBuffer.empty[Outcome]
    val work = cfg.trainRows.toDouble * cfg.epochs
    ctx.passes(cfg.rules) { (r, pass, i) =>
      ctx.measure(pass, i, r, "train", work) {
        out += Outcome(r, distributed(train, r, cfg.epochs).weights.flat)
      }(distributedLayers)
    }
    out.toSeq
  }

  /** Single-worker baseline, timed as one op of its own group. */
  def baseline(): Option[SoftmaxMlpModel] = {
    var m: Option[SoftmaxMlpModel] = None
    ctx.measure(0, 0, "single", "train_single", cfg.trainRows.toDouble * cfg.epochs) {
      m = Some(single(train, cfg.epochs))
    }((_, stats) => singleLayers(stats))
    m
  }

  /** Held-out scoring, timed as one op of its own group. */
  def score(m: SoftmaxMlpModel): Unit =
    ctx.measure(0, 0, "score", "train_score", cfg.testRows.toDouble) {
      accuracy(test, m)
    }((_, stats) => Map("graft.ml.Predictor.score_task_s" -> stats.taskS))
}

final case class TrainConfig(trainRows: Long, testRows: Long, features: Int, classes: Int,
                             hidden: Seq[Int], noise: Double, epochs: Int, lr: Double,
                             batchSize: Int, rules: Seq[String])
