package graft.optimize

import graft.SparkTestSession
import graft.autodiff.ExprFns
import graft.core._
import graft.data.DataSet
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end training mirrors:
  *  - quadratic-loss convergence (reference `testing/test_model.py:21-29`)
  *  - collection-scoped optimization moves only selected params
  *    (`test_model.py:61-74`)
  *  - the variational Bayesian linear regression demo — the minimum
  *    end-to-end slice of SURVEY §7 (`notebooks/Henbun_structure2.ipynb`)
  *    — run against the driver testdata. */
class ElboSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("quadratic loss drives params to the data mean (ref test_model.py:21-29)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select((col("l_quantity") / 10.0).as("x")).limit(512)
    val root = new Module
    val p = root.add("p", new Param(Seq(1), initMean = 3.0, initStddev = 0.01))
    val ds = new DataSet(li, seed = 0)
    val elbo = new Elbo(root, ds, Seq("x"),
      ctx => -(ctx.read1(p) - ctx.in("x")).sq)
    elbo.optimize(maxiter = 200, lr = 0.05)
    val mean = ds.train.agg(avg("x")).head.getDouble(0)
    assert(math.abs(p.value(0) - mean) < 0.05,
      s"got ${p.value(0)}, want ≈ $mean")
    ds.unpersist()
  }

  test("lrSchedule: warmup+cosine converges on the quadratic, the " +
    "decayed tail freezes the parameter, and the schedule is a pure " +
    "function of the global step (resume-safe)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select((col("l_quantity") / 10.0).as("x")).limit(512)
    val sched = Schedules.warmupCosine(peak = 0.08, total = 200,
      warmup = 20)
    // pure + deterministic, and the documented shape
    assert(sched(0) == 0.08 * 1 / 20.0 && sched(19) == 0.08)
    assert(math.abs(sched(110) - sched(110)) == 0.0)
    assert(sched(199) < 0.001 && sched(500) == 0.0)
    assert((1 until 200).forall(s => sched(s) <= 0.08 + 1e-15))
    val root = new Module
    val p = root.add("p", new Param(Seq(1), initMean = 3.0,
      initStddev = 0.01))
    val ds = new DataSet(li, seed = 0)
    val elbo = new Elbo(root, ds, Seq("x"),
      ctx => -(ctx.read1(p) - ctx.in("x")).sq)
    elbo.optimize(maxiter = 200, lr = 0.05, lrSchedule = sched)
    val mean = ds.train.agg(avg("x")).head.getDouble(0)
    assert(math.abs(p.value(0) - mean) < 0.05,
      s"scheduled run got ${p.value(0)}, want ≈ $mean")
    // the frozen tail: steps past `total` run at lr 0 and cannot move θ
    val frozen = p.value(0)
    elbo.optimize(maxiter = 50, lr = 0.05, lrSchedule = sched,
      startStep = 500)
    assert(p.value(0) == frozen, "lr-0 tail must leave θ bit-identical")
    ds.unpersist()
  }

  test("AdamW decoupled weight decay shrinks θ toward zero but still " +
    "tracks the optimum; wd=0 is bit-compatible plain Adam") {
    def fit(wd: Double): Double = {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select((col("l_quantity") / 10.0).as("x")).limit(512)
      val root = new Module
      val p = root.add("p", new Param(Seq(1), initMean = 3.0,
        initStddev = 0.01))
      val ds = new DataSet(li, seed = 0)
      val elbo = new Elbo(root, ds, Seq("x"),
        ctx => -(ctx.read1(p) - ctx.in("x")).sq)
      elbo.optimize(maxiter = 200, lr = 0.05, weightDecay = wd)
      val v = p.value(0)
      ds.unpersist()
      v
    }
    val plain = fit(0.0)
    val decayed = fit(0.2)
    val mean = {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select((col("l_quantity") / 10.0).as("x")).limit(512)
      li.agg(avg("x")).head.getDouble(0) // DataSet(seed=0) 90% split mean ≈ full mean
    }
    assert(math.abs(plain - mean) < 0.05, s"plain Adam off: $plain vs $mean")
    // decay pulls strictly toward zero but must not destroy the fit
    assert(decayed < plain, s"decay did not shrink: $decayed >= $plain")
    assert(plain - decayed > 0.01, "decay had no measurable effect")
    assert(math.abs(decayed - mean) < 0.5, s"decay destroyed fit: $decayed")
  }

  test("clipNorm: a slack threshold is bit-identical to no clipping, " +
    "a tight one bounds movement, and the clipped run still converges") {
    def fit(clip: Double, iters: Int): Double = {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select((col("l_quantity") / 10.0).as("x")).limit(512)
      val root = new Module
      val p = root.add("p", new Param(Seq(1), initMean = 3.0,
        initStddev = 0.01))
      val ds = new DataSet(li, seed = 0)
      val elbo = new Elbo(root, ds, Seq("x"),
        ctx => -(ctx.read1(p) - ctx.in("x")).sq)
      elbo.optimize(maxiter = iters, lr = 0.05, clipNorm = clip)
      val v = p.value(0)
      ds.unpersist()
      v
    }
    // a threshold no gradient reaches changes nothing, to the last bit
    assert(fit(1e12, 50) == fit(0.0, 50))
    // a tight clip shrinks the per-step movement: after few iters the
    // clipped run has moved strictly less from the 3.0 init
    val moved = math.abs(fit(0.0, 10) - 3.0)
    val clipped = math.abs(fit(1e-10, 10) - 3.0)
    assert(clipped < moved, s"clip did not slow movement: $clipped vs $moved")
    // but clipping only rescales — the clipped run still converges
    val mean = {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select((col("l_quantity") / 10.0).as("x")).limit(512)
      li.agg(avg("x")).head.getDouble(0)
    }
    assert(math.abs(fit(5.0, 200) - mean) < 0.05)
  }

  test("polyakTail: at an oscillation-scale learning rate the tail " +
    "average lands measurably closer to the optimum than the final " +
    "iterate; 0 is bit-identical to no averaging") {
    def fit(tail: Int): Double = {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select((col("l_quantity") / 10.0).as("x")).limit(512)
      val root = new Module
      val p = root.add("p", new Param(Seq(1), initMean = 3.0,
        initStddev = 0.01))
      val ds = new DataSet(li, seed = 0)
      val elbo = new Elbo(root, ds, Seq("x"),
        ctx => -(ctx.read1(p) - ctx.in("x")).sq)
      // lr 0.3: Adam orbits the optimum at ~step size
      elbo.optimize(maxiter = 300, lr = 0.3, polyakTail = tail)
      val v = p.value(0)
      ds.unpersist()
      v
    }
    val mean = {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select((col("l_quantity") / 10.0).as("x")).limit(512)
      li.agg(avg("x")).head.getDouble(0)
    }
    val last = fit(0)
    val avgd = fit(100)
    assert(math.abs(avgd - mean) < math.abs(last - mean),
      s"tail average $avgd no closer than final iterate $last (opt $mean)")
    assert(math.abs(avgd - mean) < 0.1, s"averaged run off: $avgd vs $mean")
  }

  test("optimizeLbfgs: deterministic quasi-Newton reaches the exact " +
    "optimum in a handful of evaluations and matches Adam's answer") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select((col("l_quantity") / 10.0).as("x")).limit(512)
    val root = new Module
    val p = root.add("p", new Param(Seq(1), initMean = 3.0, initStddev = 0.01))
    val ds = new DataSet(li, seed = 0)
    val elbo = new Elbo(root, ds, Seq("x"),
      ctx => -(ctx.read1(p) - ctx.in("x")).sq)
    val obj = elbo.optimizeLbfgs(maxiter = 50)
    val mean = ds.train.agg(avg("x")).head.getDouble(0)
    // quadratic: the optimum IS the mean, and L-BFGS lands on it to
    // machine-ish precision where Adam circles at step-size scale
    assert(math.abs(p.value(0) - mean) < 1e-8,
      s"got ${p.value(0)}, want $mean")
    assert(obj.isFinite)
    // variational model with frozen zero draws: posterior mean of a
    // trains to the data mean of y (gaussian likelihood)
    val li2 = spark.read.parquet(s"$sf/lineitem.parquet")
      .select((col("l_quantity") / 10.0).as("y")).limit(512)
    val root2 = new Module
    val a = root2.add("a", new Variational.Normal(Seq(1)))
    val ds2 = new DataSet(li2, seed = 0)
    val elbo2 = new Elbo(root2, ds2, Seq("y"), ctx =>
      ExprFns.gaussian(ctx.in("y"), ctx.sample1(a),
        graft.autodiff.Expr.c(1.0)))
    elbo2.optimizeLbfgs(maxiter = 60)
    val meanY = ds2.train.agg(avg("y")).head.getDouble(0)
    // N(0,1) prior over a shrinks the MAP slightly toward 0:
    // posterior mean = n·ȳ/(n+1) at unit noise variance
    val n = ds2.trainCount.toDouble
    assert(math.abs(a.qMu.value(0) - n * meanY / (n + 1)) < 1e-5,
      s"got ${a.qMu.value(0)}, want ${n * meanY / (n + 1)}")
    ds.unpersist(); ds2.unpersist()
  }

  test("collection-scoped optimization moves only the selected collection " +
    "(ref test_model.py:61-74)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select((col("l_quantity") / 10.0).as("x")).limit(256)
    val root = new Module
    val a = root.add("a", new Param(Seq(1), initMean = 3.0, initStddev = 0.01))
    val b = root.add("b", new Param(Seq(1), initMean = 3.0, initStddev = 0.01,
      collection = "frozen"))
    val ds = new DataSet(li, seed = 0)
    val elbo = new Elbo(root, ds, Seq("x"),
      ctx => -(ctx.read1(a) - ctx.in("x")).sq - (ctx.read1(b) - ctx.in("x")).sq)
    val b0 = b.value(0)
    elbo.optimize(maxiter = 50, lr = 0.05, collection = Collections.Variables)
    assert(math.abs(b.value(0) - b0) < 1e-12, "frozen param moved")
    assert(math.abs(a.value(0) - 3.0) > 0.1, "selected param did not move")
    ds.unpersist()
  }

  test("robust Student-t likelihood trains (ref GaussianProcess.ipynb " +
    "robust GPR, densities.py:52-59)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(((col("l_quantity") - 25.5) / 14.4).as("x"),
        ((col("l_extendedprice") / 10000.0 - 3.8) / 2.5).as("y"))
    val root = new Module
    val a = root.add("a", new Variational.Normal(Seq(1)))
    val b = root.add("b", new Variational.Normal(Seq(1)))
    val sc = root.add("s", new Variational.Normal(Seq(1)))
    val ds = new DataSet(li, seed = 0)
    val elbo = new Elbo(root, ds, Seq("x", "y"), ctx => {
      val fit = ctx.sample1(a) + ctx.sample1(b) * ctx.in("x")
      ExprFns.studentT(ctx.in("y"), fit,
        graft.autodiff.Expr.exp(ctx.sample1(sc)), graft.autodiff.Expr.c(4.0))
    }, seed = 0)
    val before = elbo.run(training = true)
    val after = elbo.optimize(maxiter = 300, lr = 0.1)
    assert(after > before)
    // flat truth: slope near zero, intercept near mean of y
    assert(math.abs(b.qMu.value(0)) < 0.2, s"slope ${b.qMu.value(0)}")
    ds.unpersist()
  }

  test("Beta posterior over a Bernoulli rate trains to the empirical " +
    "frequency (ref variationals.py:316-381 end-to-end)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(when(col("l_quantity") > 25, 1.0).otherwise(0.0).as("y"))
    val root = new Module
    val p = root.add("p", new Variational.Beta(Seq(1)))
    val ds = new DataSet(li, seed = 0)
    val elbo = new Elbo(root, ds, Seq("y"),
      ctx => graft.autodiff.ExprFns.bernoulli(ctx.sample1(p), ctx.in("y")),
      seed = 0)
    val before = elbo.run(training = true)
    val after = elbo.optimize(maxiter = 400, lr = 0.05)
    assert(after > before, s"Beta-Bernoulli ELBO did not improve")
    val rate = ds.train.agg(avg("y")).head.getDouble(0)
    // posterior center (logistic of q_mu) ≈ empirical success rate
    val center = 1.0 / (1.0 + math.exp(-p.qMu.value(0)))
    assert(math.abs(center - rate) < 0.05,
      s"posterior center $center vs empirical rate $rate")
    ds.unpersist()
  }

  test("variational Bayesian linear regression on lineitem converges " +
    "(minimum end-to-end slice, ref Henbun_structure2.ipynb)") {
    // y ≈ a + b·x with centered x (decorrelates intercept/slope so the
    // test converges in hundreds rather than the reference demo's 50k
    // iterations); posterior means must land near the OLS solution.
    // standardized features — the parameters then live near the Adam
    // init and the demo's 50k-iteration budget shrinks to hundreds
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(((col("l_quantity") - 25.5) / 14.4).as("x"),
        ((col("l_extendedprice") / 10000.0 - 3.8) / 2.5).as("y"))
    val root = new Module
    val a = root.add("a", new Variational.Normal(Seq(1)))
    val b = root.add("b", new Variational.Normal(Seq(1)))
    val cv = root.add("c", new Variational.Normal(Seq(1)))
    val ds = new DataSet(li, seed = 0)
    val elbo = new Elbo(root, ds, Seq("x", "y"), ctx => {
      val fit = ctx.sample1(a) + ctx.sample1(b) * ctx.in("x")
      ExprFns.gaussian(ctx.in("y"), fit, graft.autodiff.Expr.exp(ctx.sample1(cv)))
    }, seed = 0)

    val before = elbo.run(training = true)
    val after = elbo.optimize(maxiter = 400, lr = 0.1)
    assert(after > before, s"ELBO did not improve: $before -> $after")

    // OLS oracle computed in-engine
    val stats = ds.train.agg(avg("x"), avg("y"), avg(col("x") * col("y")),
      avg(col("x") * col("x"))).head
    val (mx, my, mxy, mxx) = (stats.getDouble(0), stats.getDouble(1),
      stats.getDouble(2), stats.getDouble(3))
    val slope = (mxy - mx * my) / (mxx - mx * mx)
    val inter = my - slope * mx
    val (aHat, bHat) = (a.qMu.value(0), b.qMu.value(0))
    assert(math.abs(bHat - slope) < 0.15, s"slope $bHat vs OLS $slope")
    assert(math.abs(aHat - inter) < 0.15, s"intercept $aHat vs OLS $inter")
    // posterior noise matches residual variance in order of magnitude
    val resid = ds.train.select(
      pow(col("y") - (lit(inter) + lit(slope) * col("x")), 2).as("r2"))
      .agg(avg("r2")).head.getDouble(0)
    val noise = math.exp(cv.qMu.value(0))
    assert(noise > resid / 10 && noise < resid * 10,
      s"noise $noise vs residual var $resid")
    ds.unpersist()
  }

  test("fused multi-step (stepsPerBatch) on the forced-distributed path " +
    "converges to the same optimum as per-step sampling") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(((col("l_quantity") - 25.5) / 14.4).as("x"),
        ((col("l_extendedprice") / 10000.0 - 3.8) / 2.5).as("y"))
    def fit(stepsPerBatch: Int): (Double, Double, Double) = {
      val root = new Module
      val a = root.add("a", new Variational.Normal(Seq(1)))
      val b = root.add("b", new Variational.Normal(Seq(1)))
      val ds = new DataSet(li, seed = 0)
      // localThreshold = 0 forces the distributed treeAggregate path —
      // the one the fusion exists for
      val elbo = new Elbo(root, ds, Seq("x", "y"), ctx => {
        val f = ctx.sample1(a) + ctx.sample1(b) * ctx.in("x")
        ExprFns.gaussian(ctx.in("y"), f, graft.autodiff.Expr.c(1.0))
      }, seed = 0, localThreshold = 0L)
      val last = elbo.optimize(maxiter = 120, minibatchSize = 2048,
        lr = 0.1, stepsPerBatch = stepsPerBatch)
      val out = (a.qMu.value(0), b.qMu.value(0), last)
      ds.unpersist(); out
    }
    val (a1, b1, e1) = fit(1)
    val (a5, b5, e5) = fit(5)
    assert(math.abs(a5 - a1) < 0.1, s"intercepts diverged: $a1 vs $a5")
    assert(math.abs(b5 - b1) < 0.1, s"slopes diverged: $b1 vs $b5")
    assert(e5 > e1 - 500.0,
      s"fused ELBO collapsed: $e5 vs per-step $e1")
  }

  test("fused-path resume at a MID-GROUP startStep is bit-exact " +
    "(group boundaries are global, partial first group re-samples " +
    "its group's batch)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(((col("l_quantity") - 25.5) / 14.4).as("x"))
    def run(segments: Seq[(Int, Int)]): Double = {
      // segments: (maxiter, startStep); shared Adam carries across
      val root = new Module
      val p = root.add("p", new Param(Seq(1), initMean = 2.0,
        initStddev = 0.0))
      val ds = new DataSet(li, seed = 0)
      val elbo = new Elbo(root, ds, Seq("x"),
        ctx => -(ctx.read1(p) - ctx.in("x")).sq, seed = 0,
        localThreshold = 0L) // force the fused/distributed path
      val adam = new graft.optimize.Adam(elbo.nSlots, lr = 0.1)
      segments.foreach { case (n, s0) =>
        elbo.optimize(n, minibatchSize = 1024, lr = 0.1,
          adamState = adam, stepsPerBatch = 5, startStep = s0)
      }
      val out = p.value(0)
      ds.unpersist(); out
    }
    val uninterrupted = run(Seq((20, 0)))
    // 12 is NOT a multiple of 5: the resumed run enters group 10..14
    // at its 3rd sub-step and must re-sample THAT group's batch
    val resumed = run(Seq((12, 0), (8, 12)))
    assert(resumed == uninterrupted,
      s"mid-group resume diverged: $resumed vs $uninterrupted")
  }

  // 40,000 rows in two partitions from integer arithmetic only, so the
  // data (and every trajectory below) is the same on any JVM
  private lazy val goldenData = spark.range(0, 40000, 1, 2)
    .select(((col("id") * 7919 % 1000) / 250.0 - 2.0).as("x"),
      ((col("id") * 104729 % 997) / 997.0 - 0.5).as("e"))
    .select(col("x"), (lit(0.4) + lit(0.6) * col("x") + col("e") * 1.6).as("y"))

  /** θ, as hex-encoded doubles, after the given (stepsPerBatch, steps)
    * phases of a 3-posterior Bayesian linear model. Minibatches of 5,000
    * rows give the driver-local gradient two threads on any host with
    * two or more cores, so the chunked summation order is host-free. */
  private def goldenTheta(threshold: Long, phases: Seq[(Int, Int)],
                          augmented: Boolean = false): Seq[String] = {
    val root = new Module
    val a = root.add("a", new Variational.Normal(Seq(1)))
    val b = root.add("b", new Variational.Normal(Seq(1)))
    val c = root.add("c", new Variational.Normal(Seq(1)))
    val ds = new DataSet(goldenData, seed = 0)
    val cols = if (augmented) Seq("x", "y", "w") else Seq("x", "y")
    val augment: (org.apache.spark.sql.DataFrame, Int) =>
      org.apache.spark.sql.DataFrame =
      if (augmented) (df, step) => df.withColumn("w",
        lit(1.0) + col("x") * ((step % 3) * 0.01))
      else Elbo.NoAugment
    val elbo = new Elbo(root, ds, cols, ctx => {
      val f = ctx.sample1(a) + ctx.sample1(b) * ctx.in("x")
      val ll = ExprFns.gaussian(ctx.in("y"), f,
        graft.autodiff.Expr.exp(ctx.sample1(c)))
      if (augmented) ll * ctx.in("w") else ll
    }, seed = 0, augment = augment, localThreshold = threshold)
    val adam = new Adam(elbo.nSlots, lr = 0.05)
    var step = 0
    phases.foreach { case (spb, n) =>
      elbo.optimize(n, minibatchSize = 5000, lr = 0.05, adamState = adam,
        startStep = step, stepsPerBatch = spb)
      step += n
    }
    val out = elbo.thetaFromTree().toSeq.map(d =>
      java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d)))
    ds.unpersist()
    out
  }

  private def fromHex(h: String): Double =
    java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(h, 16))

  test("golden θ: 20 fused + 10 unfused forced-distributed steps and 20 " +
    "local steps reproduce the recorded trajectories bit for bit") {
    val dist = goldenTheta(0L, Seq(5 -> 20, 1 -> 10))
    val local = goldenTheta(Elbo.LocalThresholdCells, Seq(1 -> 20))
    val augmented = goldenTheta(0L, Seq(1 -> 10), augmented = true)
    // recorded values: a change to batching, draws or summation order
    // moves them
    assert(dist == Seq("3fd50f87e78c0faf", "bfed9f979f22b9e3",
      "3fe0a526b6f945e8", "bfe7230512e51119", "3fd8ce78289faa91",
      "bfd97cdd982128bc"), s"distributed θ: $dist")
    assert(local == Seq("3fd7638c6b287464", "bfe85f72d5e6c83d",
      "3fd7671cb8bdd2a7", "bfe1bc1d901b6238", "3fe0d9d3bc3396af",
      "bfd1819bd25fa509"), s"local θ: $local")
    assert(augmented == Seq("3fd36d9d94632d61", "bfdf8c2ea0cf767a",
      "3fcf516d5d0526c8", "bfd46791a8bd0002", "3fda9bf7ec382a84",
      "bfc0f225f942e9ff"), s"augmented θ: $augmented")
    // the values recorded before the row tape was hoisted: hoisting
    // changes only the gradient's summation order, so θ stays within
    // 1e-12 relative of them (it moved by at most 6 ulps)
    def near(got: Seq[String], was: Seq[String]): Boolean =
      got.map(fromHex).zip(was.map(fromHex)).forall { case (g, w) =>
        math.abs(g - w) <= 1e-12 * math.abs(w)
      }
    assert(near(dist, Seq("3fd50f87e78c0faf", "bfed9f979f22b9e4",
      "3fe0a526b6f945e9", "bfe7230512e5111a", "3fd8ce78289faa8b",
      "bfd97cdd982128b9")), s"distributed θ: $dist")
    assert(near(local, Seq("3fd7638c6b287462", "bfe85f72d5e6c83c",
      "3fd7671cb8bdd2a7", "bfe1bc1d901b6237", "3fe0d9d3bc3396aa",
      "bfd1819bd25fa50a")), s"local θ: $local")
    assert(near(augmented, Seq("3fd36d9d94632d61", "bfdf8c2ea0cf767f",
      "3fcf516d5d0526c7", "bfd46791a8bd0004", "3fda9bf7ec382a84",
      "bfc0f225f942ea03")), s"augmented θ: $augmented")
  }

  /** Spark jobs that `body` submits. Job ids grow in submission order
    * and the bus delivers events in order, so the jobs between two
    * marker jobs are the body's. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        ids.add((e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-begin")
      body
      marker("jobs-end")
      val deadline = System.nanoTime() + 30e9.toLong
      def seen(name: String) =
        ids.toArray(Array.empty[(Int, String)]).find(_._2 == name).map(_._1)
      while (seen("jobs-end").isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      seen("jobs-end").get - seen("jobs-begin").get - 1
    } finally sc.removeSparkListener(listener)
  }

  test("forced-distributed training samples a call's fused groups in " +
    "ceil(groups / fit) Spark jobs and runs one job per unfused step") {
    val root = new Module
    val a = root.add("a", new Variational.Normal(Seq(1)))
    val b = root.add("b", new Variational.Normal(Seq(1)))
    // 30 extra columns the model does not read: 32 doubles per row
    val wide = goldenData.select(col("x") +: col("y") +:
      (0 until 30).map(j => (col("x") * j).as(s"w$j")): _*)
    val ds = new DataSet(wide, seed = 0)
    def elbo(cols: Seq[String]) = new Elbo(root, ds, cols,
      ctx => ExprFns.gaussian(ctx.in("y"),
        ctx.sample1(a) + ctx.sample1(b) * ctx.in("x"),
        graft.autodiff.Expr.c(1.0)), seed = 0, localThreshold = 0L)
    try {
      val narrow = elbo(Seq("x", "y"))
      val adam = new Adam(narrow.nSlots, lr = 0.05)
      // warm: the split counts and the projection cache are built here
      narrow.optimize(5, minibatchSize = 5000, adamState = adam, stepsPerBatch = 5)
      narrow.optimize(1, minibatchSize = 5000, adamState = adam, startStep = 5)
      val fused = jobsOf(narrow.optimize(20, minibatchSize = 5000,
        adamState = adam, startStep = 10, stepsPerBatch = 5))
      assert(fused == 1, s"$fused jobs for 4 fused groups")
      val unfused = jobsOf(narrow.optimize(10, minibatchSize = 5000,
        adamState = adam, startStep = 30))
      assert(unfused == 10, s"$unfused jobs for 10 unfused steps")

      // batches of 32 · 50,000 cells: the collect budget fits 2 groups
      // per job, so 5 groups take 3 jobs
      val cols = wide.columns.toSeq
      val batch = 50000
      val fit = (Elbo.FusedCollectBudget / (batch.toLong * cols.length)).toInt
      assert(fit == 2)
      val full = elbo(cols)
      val adam2 = new Adam(full.nSlots, lr = 0.05)
      full.optimize(1, minibatchSize = batch, adamState = adam2) // warm
      val jobs = jobsOf(full.optimize(10, minibatchSize = batch,
        adamState = adam2, startStep = 2, stepsPerBatch = 2))
      assert(jobs == (5 + fit - 1) / fit, s"$jobs jobs for 5 fused groups")
    } finally ds.unpersist()
  }
}
