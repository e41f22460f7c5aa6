package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** JVM half of the benchmark. Runs one workload closed-loop on a single
  * driver thread and writes `raw.json` (every op, set-up times, checks)
  * and, with `--trace 1`, `trace.json` (every span). `run.py` generates
  * the inputs before and checks the outputs after.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cpus N --config workloads.json --data DIR --work DIR --out DIR
  *   --meta meta.json
  * Exits non-zero, with a message on stderr, on any unknown workload or
  * key, any key without an oracle, or any failed write. */
object Main {
  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] FAILED: $e")
        e.printStackTrace()
        1
    }
    // the JVM can linger on non-daemon Spark threads after stop()
    sys.exit(code)
  }

  private def parse(args: Array[String]): Map[String, String] = {
    if (args.length % 2 != 0) fail(s"expected --flag value pairs, got ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      if (!k.startsWith("--")) fail(s"bad flag '$k'")
      k.drop(2) -> v
    }.toMap
  }

  private def heapFlag: String =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("-Xmx")).lastOption.getOrElse("default")

  /** VmHWM of this JVM in MB: the peak resident set so far. */
  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(fail("no VmHWM in /proc/self/status"))

  def run(args: Array[String]): Unit = {
    val a = parse(args)
    def arg(k: String) = a.getOrElse(k, fail(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val traceMode = arg("trace") == "1"
    val cpus = arg("cpus").toInt
    val out = Paths.get(arg("out"))
    val config = Json.read(Paths.get(arg("config")))
    val wl = Option(config.get("workloads")).flatMap(w => Option(w.get(workload)))
      .getOrElse(fail(s"unknown workload '$workload'"))
    val meta = Json.obj(Json.read(Paths.get(arg("meta"))))
    val keys: Seq[(String, String)] = Option(wl.get("keys")).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toSeq).getOrElse(Seq.empty)
    checkKeys(keys.map(_._1))
    Files.createDirectories(out)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", arg("work") + "/spark-local")
      .config("spark.sql.warehouse.dir", arg("work") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
    val readyMs = System.currentTimeMillis()
    val sampler = new LoadSampler()
    val ctx = new Ctx(spark, seed, seconds, traceMode, cpus, sampler)

    val header = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traceMode,
      "cpus" -> cpus, "xmx" -> heapFlag, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "keys" -> keys.map(_._1),
      "workload_config" -> Json.obj(wl)) ++ meta

    val warm0 = System.nanoTime()
    val checks: Map[String, Any] = workload match {
      case "train" => runTrain(ctx, wl)
      case _ =>
        val dumps = out.resolve("dumps").toString
        val w = new RegistryWorkload(ctx, workload, keys, arg("data"))
        val (coldS, errors) = w.warmupAndDump(dumps)
        val warmS = (System.nanoTime() - warm0) / 1e9
        Json.write(out.resolve("oracle_sql.json"),
          keys.map { case (k, _) => k -> graft.SparkEntry.oracleSql(k) }.toMap)
        w.timed()
        Map("warmup_s" -> warmS, "warmup_key_s" -> coldS, "dump_errors" -> errors)
    }
    sampler.close()
    val ops = ctx.ops.toSeq
    val timedFrom = ops.headOption.map(_.startMs).getOrElse(readyMs)
    Json.write(out.resolve("raw.json"), Map(
      "header" -> header,
      "ready_ms" -> readyMs,
      "peak_rss_mb" -> peakRssMb,
      "load_overlap_run" -> sampler.overlap(timedFrom, System.currentTimeMillis()),
      "checks" -> checks,
      "ops" -> ops))
    if (traceMode) {
      val spans = ctx.tracer.allSpans
      Json.write(out.resolve("trace.json"), Map("header" -> header, "spans" -> spans))
    }
    spark.stop()
  }

  /** Unknown keys and keys without a DuckDB oracle abort the run. */
  private def checkKeys(keys: Seq[String]): Unit = {
    val unknown = keys.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) fail(s"unknown registry keys: ${unknown.mkString(", ")}")
    val noOracle = keys.filterNot(graft.SparkEntry.oracleSql.contains)
    if (noOracle.nonEmpty) fail(s"keys without an oracleSql entry: ${noOracle.mkString(", ")}")
  }

  private def runTrain(ctx: Ctx, wl: JsonNode): Map[String, Any] = {
    def d(k: String) = Option(wl.get(k)).getOrElse(fail(s"train config lacks '$k'"))
    val cfg = TrainConfig(d("train_rows").asLong, d("test_rows").asLong, d("features").asInt,
      d("classes").asInt, d("hidden").elements().asScala.map(_.asInt).toSeq, d("noise").asDouble,
      d("epochs").asInt, d("lr").asDouble, d("batch_size").asInt,
      d("rules").elements().asScala.map(_.asText).toSeq)
    val w = new TrainWorkload(ctx, cfg)
    val datagen0 = System.nanoTime()
    val (nTrain, nTest) = (w.train.count(), w.test.count())
    val datagenS = (System.nanoTime() - datagen0) / 1e9
    // warm-up: every code path of the timed region once (one epoch per
    // rule on the full training set, the baseline on a slice)
    val warm0 = System.nanoTime()
    cfg.rules.foreach(r => w.distributed(w.train, r, 1))
    w.accuracy(w.test, w.single(w.train.limit(2000), 1))
    val warmS = (System.nanoTime() - warm0) / 1e9

    val outcomes = w.timed()
    val single = w.baseline()
    val byRule = outcomes.groupBy(_.rule)
    // determinism: a second training per rule when the timed region ran only one
    val repeats = cfg.rules.map { r =>
      val ws = byRule.getOrElse(r, Seq.empty).map(_.weights)
      val all = if (ws.size >= 2) ws else ws :+ w.distributed(w.train, r, cfg.epochs).weights.flat
      r -> all.forall(_.sameElements(all.head))
    }.toMap
    val models = byRule.map { case (r, os) => r -> w.model(os.head.weights) }
    models.get(cfg.rules.head).foreach(w.score) // the timed held-out scoring op
    val accuracy = models.map { case (r, m) => r -> w.accuracy(w.test, m) }
    val loss = models.map { case (r, m) => r -> w.meanLoss(w.test, m) }
    val singleAcc = single.map(m => w.accuracy(w.test, m))
    val finite = outcomes.forall(_.weights.forall(x => !x.isNaN && !x.isInfinite))
    Map("warmup_s" -> warmS, "datagen_s" -> datagenS, "train_rows" -> nTrain, "test_rows" -> nTest,
      "accuracy" -> accuracy, "single_accuracy" -> singleAcc, "test_loss" -> loss,
      "weights_finite" -> finite, "deterministic" -> repeats)
  }
}
