package perfbench

import graft.autodiff.{CompiledExpr, Expr, ExprFns}
import graft.core.{Module, Variational}
import graft.data.DataSet
import graft.optimize.{Adam, Elbo}
import org.apache.spark.sql.functions.col

/** `train`: minibatch Adam on two models from a fresh initialization
  * each pass, over data generated by run.py from the seed (the
  * optimizer's own draw and batch streams keep seed 0, so seeds change
  * the data, not the difficulty of the run), first on the
  * local path (the data is under Elbo's default localThreshold, which
  * the harness leaves as it is) and then forced onto the distributed
  * path (localThreshold = 0) with fused (stepsPerBatch = 5) steps
  * followed by unfused ones.
  *
  * Steps run in chunks: chained `optimize` calls that share one Adam
  * state and continue the step count, so the draw and batch streams are
  * those of one long run. After each chunk (off the clock) the model's
  * quality is checked; `target_s` is the step time after which every
  * check of the model passes (it settles within its target), summed
  * over models and paths. Every pass
  * must end with each model meeting its target and with its ELBO above
  * the initial one. */
final class TrainWorkload(ctx: Ctx, args: Map[String, String]) {
  import ctx._

  private def d(k: String): Double = args(k).toDouble
  private def i(k: String): Int = args(k).toInt
  private val batch = i("batch")
  private val lr = d("lr")
  private val chunk = i("chunk")
  private val unfused = i("dist_unfused_steps")

  /** An execution path: its localThreshold (None: Elbo's default) and
    * whether it fuses steps. */
  final case class Path(name: String, threshold: Option[Long], fused: Boolean) {
    /** The (stepsPerBatch, steps) phases of a model's pass: the fused
      * path runs its last `dist_unfused_steps` steps unfused. */
    def phases(steps: Int): Seq[(Int, Int)] =
      if (fused) Seq(5 -> (steps - unfused), 1 -> unfused) else Seq(1 -> steps)
  }
  private val paths = Seq(Path("local", None, fused = false), Path("dist", Some(0L), fused = true))

  /** One model: its steps per pass and path, its tree and data, one
    * ELBO per path, the captured row expression and its compiled tape,
    * the initial θ and the quality test. */
  final class Model(val name: String, val steps: Int, val module: Module, val ds: DataSet,
                    val cols: Seq[String], build: Elbo.Ctx => Expr,
                    quality: Model => (Boolean, Map[String, Double])) {
    var rowExpr: Expr = _
    var tape: CompiledExpr = _
    var theta0: Array[Double] = _
    val elbos = scala.collection.mutable.LinkedHashMap.empty[String, Elbo]
    val elbo0 = scala.collection.mutable.Map.empty[String, Double]

    def prepare(): Unit = {
      val (_, split) = Harness.timed(tracer.span("data.split") {
        ds.trainCount; ds.testCount; ds.localTrain(cols)
      })
      rec.appendSeries("data.split_s", split)
      val (_, comp) = Harness.timed(tracer.span("tape.compile") {
        paths.foreach { p =>
          val row = (c: Elbo.Ctx) => { rowExpr = build(c); rowExpr }
          elbos(p.name) = p.threshold match {
            case Some(t) => new Elbo(module, ds, cols, row, seed = 0L, localThreshold = t)
            case None => new Elbo(module, ds, cols, row, seed = 0L)
          }
        }
        val e = elbos.head._2
        theta0 = e.thetaFromTree()
        // the Janino form is compiled on first use and cached per JVM
        // by tape content, so this also readies the ELBOs' own tapes
        tape = CompiledExpr.compile(rowExpr, cols.length, e.nSlots, e.nDraws)
        tape.evalGradFast(new Array[Double](cols.length), theta0,
          new Array[Double](e.nDraws), tape.newValues, tape.newValues,
          new Array[Double](e.nSlots))
      })
      rec.appendSeries("tape.compile_s", comp)
      paths.foreach(p => elbo0(p.name) = probe(p.name))
    }
    /** ELBO on one fixed minibatch and draw, for the before/after check. */
    def probe(path: String): Double =
      elbos(path).run(minibatchSize = batch, step = 1 << 20)
    def check(): (Boolean, Map[String, Double]) = quality(this)
    def mean(v: String): Double =
      module.variationals.toMap.apply(v).qMu.value(0)
  }

  private def linearModel(): Model = {
    val data = spark.read.parquet(args("train") + "/train.parquet")
      .select(col("x"), col("y_lin").as("y"))
    val root = new Module
    val a = root.add("a", new Variational.Normal(Seq(1)))
    val b = root.add("b", new Variational.Normal(Seq(1)))
    val c = root.add("c", new Variational.Normal(Seq(1)))
    new Model("linear", i("linear_steps"), root, new DataSet(data, seed = 0L), Seq("x", "y"),
      ctx => ExprFns.gaussian(ctx.in("y"),
        ctx.sample1(a) + ctx.sample1(b) * ctx.in("x"), Expr.exp(ctx.sample1(c))),
      m => {
        // c is the log noise variance
        val ea = math.abs(m.mean("a") - d("ols_a"))
        val eb = math.abs(m.mean("b") - d("ols_b"))
        val noise = math.exp(m.mean("c") / 2) / d("sigma_lin")
        val ok = ea <= d("tol_coef") && eb <= d("tol_coef") &&
          math.abs(noise - 1) <= d("tol_noise")
        (ok, Map("err_a" -> ea, "err_b" -> eb, "noise_ratio" -> noise))
      })
  }

  private def rffModel(): Model = {
    val nf = 16
    val (w, bph) = graft.gp.Rff.frequencies(1, nf,
      breeze.linalg.DenseVector(1.0), seed = 13L)
    val phis = graft.gp.RffGpr.featureCols(Seq(col("x")), w, bph)
    val data = spark.read.parquet(args("train") + "/train.parquet")
      .select(phis.zipWithIndex.map { case (p, j) => p.as(s"phi$j") } :+
        col("y_rff"): _*)
    val held = readDoubles(args("train") + "/heldout.f64").grouped(2)
      .map(a => (a(0), a(1))).toArray
    val scale = math.sqrt(2.0 / nf)
    val root = new Module
    (0 until nf).foreach(j => root.add(s"rw$j", new Variational.Normal(Seq(1))))
    val vs = root.variationals.toMap
    new Model("rff", i("rff_steps"), root, new DataSet(data, seed = 0L),
      (0 until nf).map(j => s"phi$j") :+ "y_rff",
      ctx => {
        val mean = (0 until nf).foldLeft(Expr.c(0.0)) { (acc, j) =>
          acc + ctx.sample1(vs(s"rw$j")) * ctx.in(s"phi$j")
        }
        ExprFns.gaussian(ctx.in("y_rff"), mean, Expr.c(0.25))
      },
      m => {
        // held-out RMSE of the posterior-mean predictor, computed here
        // from the weights: f(x) = sqrt(2/D) sum_j m_j cos(w_j x + b_j)
        val mw = (0 until nf).map(j => m.mean(s"rw$j"))
        var se = 0.0
        held.foreach { case (x, y) =>
          var f = 0.0
          var j = 0
          while (j < nf) { f += mw(j) * scale * math.cos(w(j, 0) * x + bph(j)); j += 1 }
          se += (f - y) * (f - y)
        }
        val rmse = math.sqrt(se / held.length)
        val ok = rmse <= d("sigma_rff") * (1 + d("tol_rmse")) &&
          rmse <= d("max_rmse_share") * d("const_rmse")
        (ok, Map("rmse" -> rmse))
      })
  }

  /** Little-endian float64 values written by run.py. */
  private def readDoubles(path: String): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path))).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(bb.remaining() / 8)(bb.getDouble())
  }

  def run(): Unit = {
    val models = tracer.span("setup.models")(Seq(linearModel(), rffModel()))
    models.foreach(_.prepare())
    ready()

    /** One pass over both paths and models: (wall s, cpu s, target s);
      * wall and cpu cover the optimizer chunks only. */
    def pass(index: Int): (Double, Double, Double) = {
      var wall = 0.0
      var cpu = 0.0
      var target = 0.0
      tracer.span("pass") {
        for (p <- paths; m <- models) tracer.span(s"${p.name}.${m.name}") {
          val elbo = m.elbos(p.name)
          elbo.thetaToTree(m.theta0)
          val adam = new Adam(elbo.nSlots, lr)
          var step = 0
          var stepTime = 0.0
          // step time after which every check passed (-1: not yet)
          var settled = -1.0
          var last = Map.empty[String, Double]
          val trajectory = Vector.newBuilder[Map[String, Double]]
          for ((spb, steps) <- p.phases(m.steps)) {
            var done = 0
            while (done < steps) {
              val k = math.min(chunk, steps - done)
              val c0 = Harness.cpuNs()
              val (_, s) = Harness.timed(tracer.span("chunk") {
                try {
                  elbo.optimize(maxiter = k, minibatchSize = batch, lr = lr,
                    adamState = adam, startStep = step, stepsPerBatch = spb)
                  rec.op(ok = true)
                } catch {
                  case e: Throwable => rec.op(ok = false,
                    s"${p.name}.${m.name}: ${e.getClass.getName}: ${e.getMessage}")
                }
              })
              cpu += (Harness.cpuNs() - c0) / 1e9
              stepTime += s
              step += k; done += k
              val (ok, q) = tracer.span("check")(m.check())
              last = q
              if (!ok) settled = -1.0
              else if (settled < 0) settled = stepTime
              // the cold pass keeps its quality trajectory, per chunk
              if (index == 0) trajectory += q.updated("step", step.toDouble)
            }
          }
          wall += stepTime
          val e1 = m.probe(p.name)
          val e0 = m.elbo0(p.name)
          rec.check(s"${p.name}.${m.name}.pass$index",
            last ++ Map("elbo_init" -> e0, "elbo_end" -> e1, "target_s" -> settled))
          if (index == 0)
            rec.check(s"${p.name}.${m.name}.trajectory", trajectory.result())
          // settled >= 0: the last chunk's check passed
          rec.op(settled >= 0 && e1 > e0,
            s"${p.name}.${m.name} pass $index: quality $last, ELBO $e0 -> $e1")
          target += (if (settled < 0) stepTime else settled)
        }
      }
      if (tracer.enabled)
        rec.appendSeries("spark.cached_mb",
          Ledger.cachedBytes(spark.sparkContext) / 1048576.0)
      ctx.liveHeap()
      (wall, cpu, target)
    }

    rec.e2e("first_pass_s", pass(0)._1)
    val walls = Vector.newBuilder[Double]
    val cpus = Vector.newBuilder[Double]
    val targets = Vector.newBuilder[Double]
    ctx.warmPasses { i =>
      val (w, c, t) = pass(i)
      walls += w; cpus += c; targets += t
    }
    rec.e2e("pass_s", walls.result())
    rec.e2e("cpu_s", cpus.result())
    rec.e2e("target_s", targets.result())
    if (tracer.enabled) layers(models)
  }

  /** Per-step and per-kernel figures of the traced run. */
  private def layers(models: Seq[Model]): Unit = {
    models.foreach { m =>
      rec.series(s"tape.row_ns.${m.name}", tracer.span("tape.rows")(
        Kernels.tapeRowNs(m.tape, m.theta0, m.tape.nDraws, m.cols.length)))
    }
    for (p <- paths) {
      val nSteps = i(s"trace_${p.name}_steps")
      ctx.ledgerWindow(if (p.name == "dist") "spark" else s"step.${p.name}") {
        models.foreach { m =>
          val elbo = m.elbos(p.name)
          elbo.thetaToTree(m.theta0)
          val adam = new Adam(elbo.nSlots, lr)
          (0 until nSteps).foreach { t =>
            val (_, s) = Harness.timed(tracer.span("step")(
              elbo.optimize(maxiter = 1, minibatchSize = batch, lr = lr,
                adamState = adam, startStep = t)))
            rec.appendSeries(s"step.${p.name}_s", s)
          }
        }
        models.length * nSteps
      }
      models.foreach { m =>
        (0 until 5).foreach { t =>
          val (_, s) = Harness.timed(tracer.span("step.eval")(
            m.elbos(p.name).run(minibatchSize = batch, step = t)))
          rec.appendSeries(s"step.${p.name}.eval_s", s)
        }
      }
    }
    models.foreach { m =>
      val vecs = m.ds.trainVectors(m.cols)
      (0 until 5).foreach { t =>
        val (_, s) = Harness.timed(tracer.span("data.sample")(
          vecs.sample(withReplacement = true, batch.toDouble / m.ds.trainCount,
            DataSet.sampleSeed(0L, t, training = true)).collect()))
        rec.appendSeries("data.sample_s", s)
      }
    }
  }
}
