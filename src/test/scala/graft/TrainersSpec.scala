package graft

import graft.ml._

/** Training semantics (SURVEY.md §5.2 item 4): convergence on a
  * linearly-separable fixture, determinism given a seed, and the
  * degenerate equivalences that pin the sync-averaging redesign to the
  * reference's semantics. */
class TrainersSpec extends SparkSpec {
  import spark.implicits._

  /** linsep fixture: y = 1 iff x0 + x1 > 1 (margin 0.2 around boundary). */
  private lazy val linsep = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 256).map { _ =>
      val x0 = rnd.nextDouble() * 2
      val x1 = rnd.nextDouble() * 2
      val s = x0 + x1
      if (s > 0.9 && s < 1.1) None
      else Some((Seq(x0, x1), if (s >= 1.0) 1.0 else 0.0))
    }.flatten
    rows.toDF("features", "label")
  }

  test("SingleTrainer converges: accuracy > 0.95 on separable data") {
    val m = Trainers.trainSingle(linsep, "features", "label", dim = 2, epochs = 40, lr = 0.8, batchSize = 16)
    val scored = Predictor.predictLinear(linsep, m, "features", "margin")
      .selectExpr("CASE WHEN margin >= 0 THEN 1.0 ELSE 0.0 END AS pred", "label")
    val acc = Evaluator.accuracy(scored, "pred", "label")
    assert(acc > 0.95, s"accuracy $acc")
  }

  test("SingleTrainer loss decreases over epochs") {
    def loss(m: LinearModel): Double = {
      val data = linsep.as[(Seq[Double], Double)].collect()
      data.map { case (x, y) => m.logLoss(x.toArray, y) }.sum / data.length
    }
    val l0 = loss(Trainers.trainSingle(linsep, "features", "label", 2, epochs = 1, lr = 0.5))
    val l5 = loss(Trainers.trainSingle(linsep, "features", "label", 2, epochs = 5, lr = 0.5))
    val l20 = loss(Trainers.trainSingle(linsep, "features", "label", 2, epochs = 20, lr = 0.5))
    assert(l5 < l0 && l20 < l5, s"loss not decreasing: $l0 -> $l5 -> $l20")
  }

  test("distributed averaging with 1 partition == SingleTrainer") {
    val single = Trainers.trainSingle(linsep, "features", "label", 2, epochs = 3, lr = 0.5)
    val dist = Trainers.trainDistributed(linsep, "features", "label", 2,
      numWorkers = 1, epochs = 3, lr = 0.5, rule = Trainers.Averaging)
    assert(single.weights.flat.zip(dist.weights.flat).forall {
      case (a, b) => math.abs(a - b) < 1e-12
    })
  }

  test("every update rule converges on separable data") {
    val rules: Seq[(String, Trainers.UpdateRule)] = Seq(
      "averaging" -> Trainers.Averaging,
      "downpour" -> Trainers.Downpour,
      "elastic" -> Trainers.ElasticAverage(0.5),
      "eamsgd" -> Trainers.ElasticAverageMomentum(0.5, 0.5),
      "adag" -> Trainers.Adag(),
      "dynsgd" -> Trainers.DynSgd)
    rules.foreach { case (name, rule) =>
      val m = Trainers.trainDistributed(linsep, "features", "label", 2,
        numWorkers = 4, epochs = 25, lr = 0.8, rule = rule)
      val scored = Predictor.predictLinear(linsep, m, "features", "margin")
        .selectExpr("CASE WHEN margin >= 0 THEN 1.0 ELSE 0.0 END AS pred", "label")
      val acc = Evaluator.accuracy(scored, "pred", "label")
      assert(acc > 0.9, s"$name accuracy $acc")
    }
  }

  test("training is deterministic given a seed") {
    def run() = Trainers.trainDistributed(linsep, "features", "label", 2,
      numWorkers = 4, epochs = 3, lr = 0.5, seed = 11L).weights.flat.toSeq
    assert(run() == run())
  }

  test("averaging identical models is the identity") {
    val m = ModelWeights(Seq((2, 3)), Array(1.0, 2, 3, 4, 5, 6))
    assert(ModelWeights.average(Seq(m, m, m)).flat.toSeq == m.flat.toSeq)
  }

  test("ModelIO: trained MLP weights round-trip bit-exactly through parquet") {
    val trained = Trainers.trainDistributedModel(xor, "features", "label",
      MlpModel.init(2, 4, seed = 7L), numWorkers = 2, epochs = 3, lr = 0.5)
    val dir = java.nio.file.Files.createTempDirectory("graft_model").toString + "/m"
    ModelIO.save(spark, trained.weights, dir)
    val back = ModelIO.load(spark, dir)
    assert(back.shapes == trained.weights.shapes)
    assert(back.flat.toSeq == trained.weights.flat.toSeq) // bit-exact doubles
    // a model rebuilt from disk scores identically
    val rebuilt = trained.withWeights(back)
    val x = Array(0.3, 0.7)
    assert(rebuilt.predictProb(x) == trained.predictProb(x))
    // architecture-aware load reconstructs the MLP from shapes alone
    val typed = ModelIO.loadMlp(spark, dir)
    assert(typed.din == 2 && typed.hidden == 4)
    assert(typed.predictProb(x) == trained.predictProb(x))
    // and refuses a mismatched family
    intercept[IllegalArgumentException] {
      ModelIO.loadLinear(spark, dir)
    }
  }

  test("ModelWeights layer round-trip and serializability") {
    val m = ModelWeights(Seq((2, 3), (1, 2)), Array(1.0, 2, 3, 4, 5, 6, 7, 8))
    val layers = m.layers
    assert(layers.head.map(_.toSeq).toSeq == Seq(Seq(1.0, 2, 3), Seq(4.0, 5, 6)))
    assert(layers(1).head.toSeq == Seq(7.0, 8))
    // closure-serializable (ships into tasks the way broadcasts do)
    val bytes = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bytes).writeObject(m)
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray)).readObject().asInstanceOf[ModelWeights]
    assert(back.flat.toSeq == m.flat.toSeq && back.shapes == m.shapes)
  }

  test("ensemble trainer: members differ, ensemble accuracy high") {
    val models = Trainers.trainEnsemble(linsep, "features", "label", 2,
      numModels = 4, epochs = 10, lr = 0.8)
    assert(models.size == 4)
    val data = linsep.as[(Seq[Double], Double)].collect()
    val acc = data.count { case (x, y) =>
      (if (Trainers.ensemblePredict(models, x.toArray) >= 0.5) 1.0 else 0.0) == y
    }.toDouble / data.length
    assert(acc > 0.9, s"ensemble accuracy $acc")
  }

  /** XOR fixture: NOT linearly separable — the canonical case a linear
    * model cannot learn (accuracy stuck ≈ 0.5) and a 1-hidden-layer MLP
    * can. 256 points around the four corners, small uniform jitter. */
  private lazy val xor = {
    val rnd = new scala.util.Random(13)
    val rows = (0 until 256).map { _ =>
      val cx = rnd.nextInt(2)
      val cy = rnd.nextInt(2)
      val x0 = cx + (rnd.nextDouble() - 0.5) * 0.3
      val x1 = cy + (rnd.nextDouble() - 0.5) * 0.3
      (Seq(x0, x1), if (cx != cy) 1.0 else 0.0)
    }
    rows.toDF("features", "label")
  }

  private def xorAccuracy(m: ml.DiffModel): Double = {
    val data = xor.as[(Seq[Double], Double)].collect()
    data.count { case (x, y) => m.predictLabel(x.toArray) == y }
      .toDouble / data.length
  }

  test("MLP learns XOR with sync averaging (linear model provably cannot)") {
    val linear = Trainers.trainDistributed(xor, "features", "label", 2,
      numWorkers = 4, epochs = 60, lr = 0.8, rule = Trainers.Averaging)
    val linAcc = xorAccuracy(linear)
    assert(linAcc < 0.8, s"linear model should NOT learn XOR, got $linAcc")

    val mlp = Trainers.trainDistributedModel(xor, "features", "label",
      MlpModel.init(din = 2, hidden = 8, seed = 5L),
      numWorkers = 4, epochs = 150, lr = 0.8, rule = Trainers.Averaging)
    val acc = xorAccuracy(mlp)
    assert(acc > 0.95, s"MLP XOR accuracy $acc")
  }

  test("MLP learns XOR with an async-derived rule (Adag)") {
    val mlp = Trainers.trainDistributedModel(xor, "features", "label",
      MlpModel.init(din = 2, hidden = 8, seed = 5L),
      numWorkers = 4, epochs = 150, lr = 0.8, rule = Trainers.Adag())
    val acc = xorAccuracy(mlp)
    assert(acc > 0.95, s"MLP+Adag XOR accuracy $acc")
  }

  test("MLP training is deterministic given a seed") {
    def run() = Trainers.trainDistributedModel(xor, "features", "label",
      MlpModel.init(2, 4, seed = 11L), numWorkers = 4, epochs = 3, lr = 0.5)
      .weights.flat.toSeq
    assert(run() == run())
  }

  test("MLP gradient matches finite differences") {
    val m = MlpModel.init(din = 3, hidden = 4, seed = 99L)
    val x = Array(0.3, -1.2, 0.7)
    val y = 1.0
    val g = m.gradient(x, y)
    val eps = 1e-6
    (0 until m.weights.flat.length).foreach { i =>
      val up = m.weights.flat.clone(); up(i) += eps
      val dn = m.weights.flat.clone(); dn(i) -= eps
      val num = (m.withWeights(m.weights.copy(flat = up)).logLoss(x, y) -
        m.withWeights(m.weights.copy(flat = dn)).logLoss(x, y)) / (2 * eps)
      assert(math.abs(num - g(i)) < 1e-5,
        s"grad mismatch at $i: analytic ${g(i)} vs numeric $num")
    }
  }

  test("training report: per-epoch loss history descends, wall time recorded") {
    val report = Trainers.trainDistributedWithHistory(linsep, "features", "label",
      LinearModel.init(2, seed = 42L), numWorkers = 4, epochs = 10, lr = 0.8)
    assert(report.epochLoss.length == 10)
    assert(report.epochLoss.last < report.epochLoss.head,
      s"loss did not decrease: ${report.epochLoss}")
    assert(report.seconds > 0.0)
    // the reported model matches plain training with identical settings
    val plain = Trainers.trainDistributed(linsep, "features", "label", 2,
      numWorkers = 4, epochs = 10, lr = 0.8)
    assert(report.model.weights.flat.toSeq == plain.weights.flat.toSeq)
  }

  test("batched predictor scores an MLP (model-agnostic plumbing)") {
    val mlp = MlpModel.init(din = 2, hidden = 4, seed = 7L)
    val bc = spark.sparkContext.broadcast(mlp)
    val scored = Predictor.predictBatched(xor, bc, "features", "p")
      .select("p").as[Double].collect()
    val local = xor.as[(Seq[Double], Double)].collect()
      .map { case (x, _) => mlp.predictProb(x.toArray) }
    assert(scored.sorted.zip(local.sorted).forall {
      case (a, b) => math.abs(a - b) < 1e-12
    })
  }

  test("batched predictor matches expression predictor") {
    val m = Trainers.trainSingle(linsep, "features", "label", 2, epochs = 3, lr = 0.5)
    val bc = spark.sparkContext.broadcast(m)
    val viaExpr = Predictor.predictLinear(linsep, m, "features", "margin")
      .selectExpr("1.0/(1.0+exp(-margin)) AS p").as[Double].collect().sorted
    val viaBatch = Predictor.predictBatched(linsep, bc, "features", "p")
      .select("p").as[Double].collect().sorted
    viaExpr.zip(viaBatch).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("applyStats ≡ apply for every rule (the merged-path contract)") {
    val rnd = new scala.util.Random(19)
    val dim = 7
    val center = ModelWeights(Seq((1, dim)), Array.fill(dim)(rnd.nextGaussian()))
    val locals = (0 until 5).map { _ =>
      (ModelWeights(Seq((1, dim)), Array.fill(dim)(rnd.nextGaussian())),
        (rnd.nextInt(40) + 1).toLong)
    }
    val stats = locals.map { case (w, n) => Trainers.MergeStats.of(w, n) }
      .reduce(_.merge(_))
    val rules: Seq[(String, Trainers.UpdateRule)] = Seq(
      "averaging" -> Trainers.Averaging,
      "downpour" -> Trainers.Downpour,
      "elastic" -> Trainers.ElasticAverage(0.4),
      "eamsgd" -> Trainers.ElasticAverageMomentum(0.4, 0.7),
      "adag" -> Trainers.Adag(),
      "dynsgd" -> Trainers.DynSgd)
    rules.foreach { case (name, rule) =>
      // rule state is mutated by both paths: give each its own copy
      val viaSeq = rule(center, locals, Array.fill(dim)(0.25))
      val viaStats = rule.applyStats(center, stats, Array.fill(dim)(0.25))
      viaSeq.flat.zip(viaStats.flat).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-12, s"$name: $a vs $b")
      }
    }
  }

  test("treeFold: ≤ mergeFanIn partials on the driver, in-order fold, reproducible") {
    val sc = spark.sparkContext
    val p = 64
    val rdd = sc.parallelize((0 until p).map(i => (i, Seq(i))), p)
    val (fold, nPartials) =
      Trainers.treeFold[Seq[Int]](rdd, p, (a, b) => a ++ b)
    // the driver never materializes one payload per partition
    assert(nPartials <= Trainers.mergeFanIn,
      s"driver saw $nPartials partials for $p partitions")
    // the grouped fold preserves partition-index order end to end
    assert(fold.get == (0 until p))
    // empty contributions disappear without poisoning the fold
    val sparse = sc.parallelize(Seq(5, 17, 40).map(i => (i, Seq(i))), 3)
    assert(Trainers.treeFold[Seq[Int]](sparse, p, (a, b) => a ++ b)
      ._1.get == Seq(5, 17, 40))
    assert(Trainers.treeFold[Seq[Int]](
      sc.emptyRDD[(Int, Seq[Int])], p, (a, b) => a ++ b)._1.isEmpty)
  }

  test("early stop on a NaN/Inf validation curve still returns a valid bestEpoch") {
    // lr absurdly large: weights overflow, validation loss goes Inf/NaN
    // from epoch 0 — bestEpoch must be a real index (the first epoch),
    // never -1 / the silent untrained init (r13 advice)
    val r = Trainers.trainWithEarlyStopping(linsep, "features", "label",
      linsep, LinearModel.init(2, seed = 3L),
      numWorkers = 4, maxEpochs = 10, lr = 1e12, patience = 2)
    assert(r.bestEpoch >= 0 && r.bestEpoch < r.valLoss.length,
      s"bestEpoch ${r.bestEpoch}, curve ${r.valLoss}")
  }

  /** The allocating per-example SGD loop: one fresh gradient per
    * example summed into a per-batch array, one new weight vector per
    * batch — the bit-level reference for the trainers' `localSgd`. */
  private def referenceSgd(init: DiffModel, rows: Seq[(Array[Double], Double)],
                           lr: Double, batchSize: Int): (ModelWeights, Long) = {
    var m = init
    var n = 0L
    rows.grouped(batchSize).foreach { batch =>
      val g = new Array[Double](m.weights.flat.length)
      batch.foreach { case (x, y) =>
        val gi = m.gradient(x, y)
        var i = 0
        while (i < g.length) { g(i) += gi(i); i += 1 }
        n += 1
      }
      val scale = lr / batch.size
      m = m.withWeights(m.weights.copy(
        flat = Array.tabulate(g.length)(i => m.weights.flat(i) - scale * g(i))))
    }
    (m.weights, n)
  }

  private def bits(w: ModelWeights): Seq[Long] =
    w.flat.toSeq.map(java.lang.Double.doubleToRawLongBits)

  /** `n` seeded rows of `din` features; labels in {0..classes-1}. */
  private def fixture(n: Int, din: Int, classes: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (Seq.fill(din)(rnd.nextGaussian()), (i % classes).toDouble)
    }.toDF("features", "label").coalesce(1)
  }

  test("fused localSgd is bit-identical to the per-example loop (every model, ragged batches)") {
    // (model, feature count, classes)
    val models: Seq[(DiffModel, Int, Int)] = Seq(
      (SoftmaxMlpModel.init(6, Seq(5), 3, seed = 1L), 6, 3),
      (DeepMlpModel.init(6, Seq(5, 4), seed = 2L), 6, 2),
      (MlpModel.init(6, 5, seed = 3L), 6, 2),
      (LinearModel.init(6, seed = 4L), 6, 2),
      // 6x6 image, 3x3 kernels: conv models keep the default addGradient
      (ConvSoftmaxModel.init(h = 6, w = 6, kh = 3, kw = 3, nFilters = 2,
        nClasses = 3, seed = 5L), 36, 3))
    val epochs = 2
    val lr = 0.3
    models.foreach { case (init, din, classes) =>
      // 103 rows: batch sizes 7 and 32 leave a partial last batch
      val df = fixture(103, din, classes, seed = 11L)
      val rows = df.as[(Seq[Double], Double)].collect()
        .map { case (x, y) => (x.toArray, y) }.toSeq
      val name = init.getClass.getSimpleName
      Seq(1, 7, 32).foreach { bs =>
        var ref = init.weights
        var refDist = init.weights
        (0 until epochs).foreach { _ =>
          ref = referenceSgd(init.withWeights(ref), rows, lr, bs)._1
          // the one-partition distributed epoch: Averaging over one
          // partition's MergeStats, exactly as the trainer applies it
          val (w, n) = referenceSgd(init.withWeights(refDist), rows, lr, bs)
          refDist = Trainers.Averaging.applyStats(refDist,
            Trainers.MergeStats.of(w, n), new Array[Double](w.nParams))
        }
        val single = Trainers.trainSingleModel(df, "features", "label", init,
          epochs = epochs, lr = lr, batchSize = bs)
        assert(bits(single.weights) == bits(ref), s"$name single, batch $bs")
        val dist = Trainers.trainDistributedModel(df, "features", "label", init,
          numWorkers = 1, epochs = epochs, lr = lr, batchSize = bs,
          rule = Trainers.Averaging)
        assert(bits(dist.weights) == bits(refDist), s"$name distributed, batch $bs")
      }
    }
  }

  test("an empty partition leaves the weights bit-unchanged") {
    val init = SoftmaxMlpModel.init(6, Seq(5), 3, seed = 1L)
    val empty = fixture(0, 6, 3, seed = 1L)
    val single = Trainers.trainSingleModel(empty, "features", "label", init,
      epochs = 2, batchSize = 7)
    assert(bits(single.weights) == bits(init.weights))
    val dist = Trainers.trainDistributedModel(empty, "features", "label", init,
      numWorkers = 1, epochs = 2, batchSize = 7, rule = Trainers.Adag())
    assert(bits(dist.weights) == bits(init.weights))
  }

  test("training never writes into the caller's init weights") {
    // in local[N] every task reads the same broadcast object, so an
    // in-place SGD update without a per-partition copy would corrupt the
    // driver's model (and race between tasks) without an error
    val init = SoftmaxMlpModel.init(6, Seq(5), 3, seed = 1L)
    val before = bits(init.weights)
    val df = fixture(103, 6, 3, seed = 2L).repartition(4)
    Trainers.trainDistributedModel(df, "features", "label", init,
      numWorkers = 4, epochs = 2, batchSize = 7, rule = Trainers.Adag())
    assert(bits(init.weights) == before, "trainDistributedModel")
    Trainers.trainSingleModel(df, "features", "label", init, epochs = 2, batchSize = 7)
    assert(bits(init.weights) == before, "trainSingleModel")
    Trainers.trainEnsembleModel(df, "features", "label", init,
      numModels = 3, epochs = 2, batchSize = 7)
    assert(bits(init.weights) == before, "trainEnsembleModel")
  }

  /** Every public trainer, called with one argument overridden. */
  private def everyTrainer(epochs: Int = 1, batchSize: Int = 8,
                           workers: Int = 2): Seq[(String, () => Any)] = {
    val init = LinearModel.init(2, seed = 1L)
    Seq(
      "trainSingleModel" -> (() => Trainers.trainSingleModel(linsep, "features",
        "label", init, epochs = epochs, batchSize = batchSize)),
      "trainDistributedModel" -> (() => Trainers.trainDistributedModel(linsep,
        "features", "label", init, numWorkers = workers, epochs = epochs,
        batchSize = batchSize)),
      "trainDistributedWithHistory" -> (() => Trainers.trainDistributedWithHistory(
        linsep, "features", "label", init, numWorkers = workers, epochs = epochs,
        batchSize = batchSize)),
      "trainWithEarlyStopping" -> (() => Trainers.trainWithEarlyStopping(linsep,
        "features", "label", linsep, init, numWorkers = workers,
        maxEpochs = epochs, batchSize = batchSize)),
      "trainEnsembleModel" -> (() => Trainers.trainEnsembleModel(linsep,
        "features", "label", init, numModels = workers, epochs = epochs,
        batchSize = batchSize)))
  }

  private def assertRejected(calls: Seq[(String, () => Any)], arg: String): Unit =
    calls.foreach { case (name, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(arg), s"$name: ${e.getMessage}")
    }

  test("trainers reject batchSize < 1") {
    assertRejected(everyTrainer(batchSize = 0), "batchSize")
  }

  test("trainers reject numWorkers < 1") {
    assertRejected(everyTrainer(workers = 0).filterNot(_._1 == "trainSingleModel"),
      "numWorkers")
  }

  test("trainers reject epochs < 0") {
    assertRejected(everyTrainer(epochs = -1), "epochs")
  }
}
