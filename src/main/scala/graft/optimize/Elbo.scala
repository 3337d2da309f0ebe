package graft.optimize

import breeze.linalg.DenseVector
import graft.autodiff._
import graft.core._
import graft.data.DataSet

/** The ELBO engine: compiles a user model (per-row log-likelihood over
  * the parameter tree) + the automatic ΣKL term into autodiff tapes,
  * then trains with distributed gradient ascent.
  *
  * Mirrors the reference's `@AutoOptimize` compile/optimize lifecycle
  * (`Henbun/model.py:155-269`): the loss graph is built ONCE; each
  * step draws fresh reparameterization noise, samples a minibatch, and
  * updates the selected parameter collection.
  *
  * Execution model (SURVEY §4): per-row (logp, ∇logp) evaluate inside
  * `treeAggregate` against a per-step broadcast θ — partial Breeze-style
  * accumulators per partition, tree-reduced; the KL term and its
  * gradient evaluate on the driver (param-sized). This is exactly the
  * MLlib `LogisticRegression` scaling pattern: no driver-side data, no
  * shuffle, O(params) driver state — it holds unchanged at 100 TB /
  * 1000 executors.
  */
final class Elbo(
    val module: Module,
    val dataset: DataSet,
    val inputCols: Seq[String],
    loglik: Elbo.Ctx => Expr,
    seed: Long = 0L,
    /** Applied to each step's batch before evaluation — e.g. append a
      * fresh per-row `randn(seed + step)` column as the LOCAL-posterior
      * reparameterization noise (the Spark analog of the reference
      * re-drawing `tf.random_normal` per `session.run`). */
    augment: (org.apache.spark.sql.DataFrame, Int) =>
      org.apache.spark.sql.DataFrame = Elbo.NoAugment,
    /** Cell-count (rows × input columns) ceiling below which the
      * (augment-free) training data is collected once and gradient
      * steps run driver-local, skipping per-iteration job-scheduling
      * latency. Semantics are identical — same tape, same seeded
      * draws; this is pure adaptivity: problems that fit the driver
      * iterate at memory speed, big ones scale out. 32M cells =
      * 256 MB of doubles — comfortably inside any driver that runs
      * Spark at all, and exactly the regime the single-node reference
      * (whole dataset in process memory) occupies. The old 8M default
      * pushed a 600k-row × 17-column RFF-GP onto the distributed
      * path, paying a Spark job per step for data that fits the
      * driver 50× over. */
    localThreshold: Long = Elbo.LocalThresholdCells) extends Serializable {

  // ---- slot layout: full flat θ over sortedParams (deterministic order)
  private val paramSeq: Seq[(String, Param)] = module.sortedParams
  private val offsets: Map[String, Int] = {
    var off = 0
    paramSeq.map { case (n, p) => val o = off; off += p.size; (n, o) }.toMap
  }
  val nSlots: Int = paramSeq.map(_._2.size).sum

  // ---- draw layout over variationals
  private val varSeq: Seq[(String, Variational)] = module.variationals
  private val drawOffsets: Map[String, Int] = {
    var off = 0
    varSeq.map { case (n, v) => val o = off; off += v.size; (n, o) }.toMap
  }
  val nDraws: Int = varSeq.map(_._2.size).sum

  private val nameOf: Map[Param, String] =
    paramSeq.map { case (n, p) => (p: Param) -> n }.toMap
  private val vnameOf: Map[Variational, String] =
    varSeq.map { case (n, v) => (v: Variational) -> n }.toMap

  // reference `Model.validate` (`model.py:98-117`): fail at build time,
  // not first action, when the model references columns the data
  // doesn't carry (augment-added columns are only present per batch,
  // so only the augment-free case is checkable here)
  if (augment.asInstanceOf[AnyRef] eq Elbo.NoAugment) {
    val have = dataset.data.columns.toSet
    val missing = inputCols.filterNot(have)
    require(missing.isEmpty,
      s"input columns $missing not in data (${have.toSeq.sorted})")
  }

  private[optimize] val ctx = new Elbo.Ctx(inputCols, offsets, drawOffsets,
    nameOf, vnameOf)

  private val rowTape: CompiledExpr =
    CompiledExpr.compile(loglik(ctx), inputCols.length, nSlots, nDraws)
  private val klTape: CompiledExpr =
    CompiledExpr.compile(Expr.sum(varSeq.map { case (n, v) => ctx.klExpr(v) }),
      0, nSlots, nDraws)

  // ---- θ <-> tree sync
  def thetaFromTree(): Array[Double] = {
    val t = new Array[Double](nSlots)
    paramSeq.foreach { case (n, p) =>
      val f = p.freeValue; val o = offsets(n)
      var i = 0; while (i < p.size) { t(o + i) = f(i); i += 1 }
    }
    t
  }
  def thetaToTree(theta: Array[Double]): Unit =
    paramSeq.foreach { case (n, p) =>
      val o = offsets(n)
      p.setFree(DenseVector(java.util.Arrays.copyOfRange(theta, o, o + p.size)))
    }

  private def collectionMask(collection: String): Array[Boolean] = {
    val m = new Array[Boolean](nSlots)
    paramSeq.foreach { case (n, p) =>
      if (p.collection == collection) {
        val o = offsets(n)
        var i = 0; while (i < p.size) { m(o + i) = true; i += 1 }
      }
    }
    m
  }

  private def freshDraws(step: Int): Array[Double] = {
    // splitmix64 scramble: consecutive-step seeds fed straight into
    // java.util.Random give correlated first draws
    var z = seed + 0x9e3779b97f4a7c15L * (step + 1)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    val r = new scala.util.Random(z ^ (z >>> 31))
    Array.fill(nDraws)(r.nextGaussian())
  }

  private val augmentIsDefault: Boolean =
    augment.asInstanceOf[AnyRef] eq Elbo.NoAugment

  private def useLocal: Boolean = augmentIsDefault &&
    (dataset.trainCount + dataset.testCount) *
      math.max(1, inputCols.length) <= localThreshold
  @transient private lazy val localTrain: Array[Array[Double]] =
    dataset.localTrain(inputCols)
  @transient private lazy val localTest: Array[Array[Double]] =
    dataset.localTest(inputCols)

  /** Driver-local Σ (logp, ∇logp) — multithreaded chunked tape walk. */
  private def localGrad(rows: Array[Array[Double]], idx: Array[Int],
                        theta: Array[Double], draws: Array[Double])
      : (Double, Array[Double], Long) = {
    val n = if (idx == null) rows.length else idx.length
    val nThreads = math.min(Runtime.getRuntime.availableProcessors(),
      math.max(1, n / 2048))
    val chunk = (n + nThreads - 1) / math.max(1, nThreads)
    val losses = new Array[Double](nThreads)
    val grads = new Array[Array[Double]](nThreads)
    val nS = nSlots
    val tape = rowTape
    java.util.stream.IntStream.range(0, nThreads).parallel().forEach { t =>
      // per-thread scratch via the same thread-local the distributed
      // path uses — fresh newValues pairs here were tape-sized garbage
      // per thread per STEP (unused entirely under Janino codegen)
      val sc = Elbo.scratchFor(tape)
      // allocated by its worker, so each thread's accumulator sits in
      // that thread's allocation buffer: back-to-back arrays from one
      // thread shared cache lines, and every row's write contended
      val g = new Array[Double](nS)
      grads(t) = g
      var l = 0.0
      var i = t * chunk
      val end = math.min(n, (t + 1) * chunk)
      while (i < end) {
        val row = if (idx == null) rows(i) else rows(idx(i))
        l += tape.evalGradFast(row, theta, draws, sc.vals, sc.adj, g)
        i += 1
      }
      losses(t) = l
    }
    val grad = new Array[Double](nSlots)
    var t = 0
    while (t < nThreads) {
      var i = 0
      while (i < nSlots) { grad(i) += grads(t)(i); i += 1 }
      t += 1
    }
    (losses.sum, grad, n.toLong)
  }

  /** Distributed Σ over rows of (logp, ∇logp) via treeAggregate — the
    * MLlib pattern: per-partition partial accumulators against a
    * per-step broadcast θ, tree-reduced. Each element of `blocks` is a
    * row-major block of input rows ([[graft.data.DataSet.pack]]),
    * folded whole per `seqOp` call into one mutable accumulator per
    * partition. */
  private def rddGrad(blocks: org.apache.spark.rdd.RDD[Array[Double]],
                      theta: Array[Double], draws: Array[Double])
      : (Double, Array[Double], Long) = {
    val tape = rowTape
    val nS = nSlots
    val width = inputCols.length
    val stride = DataSet.stride(width)
    val sc = blocks.sparkContext
    // small θ rides in the task closure (one serialization, no
    // broadcast create/destroy round-trip per step); broadcast only
    // pays off once θ is large enough that per-task re-send hurts
    val useBroadcast = nSlots + nDraws > 65536
    val bTheta = if (useBroadcast) sc.broadcast(theta) else null
    val bDraws = if (useBroadcast) sc.broadcast(draws) else null
    val cTheta = if (useBroadcast) null else theta
    val cDraws = if (useBroadcast) null else draws
    val depth = math.max(2, (math.log(math.max(blocks.getNumPartitions, 2)) /
      math.log(4)).ceil.toInt)
    val acc =
      try blocks.treeAggregate(new Elbo.GradAcc(nS))(
        seqOp = (acc, block) => {
          // scratch arrays reused via thread-local: allocation-free over
          // millions of rows; each row is copied into the tape's input
          val scratch = Elbo.scratchFor(tape)
          val th = if (cTheta != null) cTheta else bTheta.value
          val dr = if (cDraws != null) cDraws else bDraws.value
          val in = scratch.in
          var l = acc.loss
          var off = 0
          while (off < block.length) {
            System.arraycopy(block, off, in, 0, width)
            l += tape.evalGradFast(in, th, dr, scratch.vals, scratch.adj,
              acc.grad)
            off += stride
          }
          acc.loss = l
          acc.count += block.length / stride
          acc
        },
        combOp = (a, b) => a.merge(b), depth)
      finally if (useBroadcast) { bTheta.destroy(); bDraws.destroy() }
    (acc.loss, acc.grad, acc.count)
  }

  /** Fold the driver-side KL value/gradient into a data-term result:
    * scales `grad` in place to `grad·(total/cnt) − ∇KL` and returns
    * the ELBO estimate `loss·scale − KL`. The single home of the
    * scale/KL combination used by Adam steps and the L-BFGS
    * objective. */
  private def combineKl(loss: Double, grad: Array[Double], cnt: Long,
                        total: Long, theta: Array[Double],
                        draws: Array[Double]): Double = {
    val scale = if (cnt == 0) 0.0 else total.toDouble / cnt
    val vals = klTape.newValues
    val adjKl = klTape.newValues
    val gradKl = new Array[Double](nSlots)
    val kl = klTape.evalGrad(Array.empty, theta, draws, vals, adjKl, gradKl)
    var i = 0
    while (i < nSlots) { grad(i) = grad(i) * scale - gradKl(i); i += 1 }
    loss * scale - kl
  }

  /** A minibatch of about `minibatchSize` rows of a split, sampled from
    * its persisted blocks by the step's seed. ONE keying for every path
    * — graft.data.DataSet.sampleSeed — so crossing the localThreshold
    * boundary (or the augment boundary) never changes which rows an
    * evaluation sees. No 1.0 cap: with replacement, fraction > 1 is
    * valid and a batch larger than the split delivers that many draws. */
  private def sampledBlocks(minibatchSize: Int, step: Int, training: Boolean)
      : org.apache.spark.rdd.RDD[Array[Double]] = {
    val total = if (training) dataset.trainCount else dataset.testCount
    dataset.sampleBlocks(inputCols, training,
      minibatchSize.toDouble / math.max(1L, total),
      DataSet.sampleSeed(seed, step, training))
  }

  /** One batch evaluation, choosing the cheapest valid path:
    * driver-local (tiny data), persisted blocks (no augment), or
    * full DataFrame (augmented). */
  private def batchGrad(step: Int, minibatchSize: Int, training: Boolean,
                        theta: Array[Double], draws: Array[Double])
      : (Double, Array[Double], Long) = {
    if (useLocal) {
      val rows = if (training) localTrain else localTest
      val idx = if (minibatchSize <= 0 || minibatchSize >= rows.length) null
      else {
        val r = new scala.util.Random(
          graft.data.DataSet.sampleSeed(seed, step, training))
        Array.fill(minibatchSize)(r.nextInt(rows.length))
      }
      localGrad(rows, idx, theta, draws)
    } else if (augmentIsDefault) {
      rddGrad(if (minibatchSize <= 0) dataset.blocks(inputCols, training)
        else sampledBlocks(minibatchSize, step, training), theta, draws)
    } else {
      val df =
        if (minibatchSize <= 0) { if (training) dataset.train else dataset.test }
        else if (training) dataset.minibatch(minibatchSize, step)
        else dataset.testBatch(minibatchSize, step)
      rddGrad(dataset.pack(augment(df, step), inputCols), theta, draws)
    }
  }

  /** ELBO value on full train data (or a test batch), fresh draw
    * (reference `Optimizer.run`, `model.py:232-253`). */
  def run(minibatchSize: Int = -1, training: Boolean = true,
          step: Int = 0): Double = {
    val theta = thetaFromTree()
    val draws = freshDraws(step)
    val total = if (training) dataset.trainCount else dataset.testCount
    val (loss, _, cnt) = batchGrad(step, minibatchSize, training, theta, draws)
    val scale = if (cnt == 0) 0.0 else total.toDouble / cnt
    val vals = klTape.newValues
    val kl = klTape.eval(Array.empty, theta, draws, vals)
    loss * scale - kl
  }

  /** `maxiter` × (fresh draws → minibatch → ∇ELBO → Adam ascent)
    * (reference `Optimizer.optimize`, `model.py:255-269`). Returns the
    * last ELBO estimate. Pass `minibatchSize = -1` for full-batch.
    *
    * `stepsPerBatch = k > 1` fuses k Adam sub-steps onto ONE sampled
    * minibatch: the batch is materialized once (collected to the
    * driver as a few row-major blocks when it fits the local budget —
    * a minibatch is memory-bounded BY CONSTRUCTION, so this holds at
    * any corpus scale — else persisted as cached blocks) and the k
    * sub-steps each draw fresh reparameterization noise against it.
    * On the distributed path this divides the per-step job (a median
    * of 33–42 ms in the traced perfbench `train` runs of
    * plans/elbo_blocks/trace_train.log) by k;
    * statistically it is plain minibatch reuse (same
    * estimator, k-fold-correlated batches), standard practice when
    * sampling dominates step cost. */
  def optimize(maxiter: Int, minibatchSize: Int = -1, lr: Double = 0.01,
               collection: String = Collections.Variables,
               verboseEvery: Int = 0,
               /** Pass a shared instance (same module ⇒ same slot
                 * layout) to carry Adam moments across tape rebuilds —
                 * the re-linearization loop in [[graft.gp.GpExpr]]. */
               adamState: Adam = null,
               stepsPerBatch: Int = 1,
               /** Global step offset: draws and minibatch seeds are
                 * keyed by `startStep + it`, so a run restored from a
                 * [[graft.core.Checkpoint]] at step t continues the
                 * EXACT noise/sampling stream the uninterrupted run
                 * would have used (pass the restored step count). */
               startStep: Int = 0,
               /** Optional per-step learning rate (global step →
                 * lr), e.g. [[Schedules.warmupCosine]]. Keyed by the
                 * GLOBAL step so checkpoint-resumed runs continue the
                 * exact schedule. Null: constant `lr`. */
               lrSchedule: Int => Double = null,
               /** AdamW decoupled weight decay ([[Adam.weightDecay]]);
                 * < 0 (default) = inherit a shared `adamState`'s
                 * configured decay (plain Adam for a fresh state);
                 * 0 = explicitly DISABLE decay (wins over a shared
                 * state's setting); > 0 = set it. */
               weightDecay: Double = -1.0,
               /** Global-norm gradient clipping (Pascanu et al. 2013):
                 * if ‖∇‖₂ over the optimized collection exceeds this,
                 * the gradient is rescaled to that norm BEFORE the
                 * moment updates — bounding a pathological step's
                 * damage to Adam's m/v state. ≤ 0 disables (and is
                 * bit-identical to no clipping). */
               clipNorm: Double = 0.0,
               /** Polyak–Ruppert tail averaging: write back the MEAN
                 * of θ over the last `polyakTail` steps instead of
                 * the final iterate — at a constant learning rate the
                 * iterate orbits the optimum at step-size scale and
                 * the tail average sits near its center (Polyak &
                 * Juditsky 1992; the SWA recipe). 0 disables. */
               polyakTail: Int = 0): Double = {
    val theta = thetaFromTree()
    val mask = collectionMask(collection)
    val adam = if (adamState != null) adamState
      else new Adam(nSlots, lr, weightDecay = math.max(weightDecay, 0.0))
    // a shared/restored state carries its own decay config; an explicit
    // weightDecay here — INCLUDING an explicit 0.0 to disable a shared
    // state's decay for a fine-tune phase — must win. Only the < 0
    // sentinel inherits.
    if (adamState != null && weightDecay >= 0.0)
      adam.weightDecay = weightDecay
    // a schedule rewrites adam.lr in place each step; restore the
    // entry lr afterwards so a shared state's next schedule-less run
    // trains at its configured rate, not the schedule's last value
    val entryLr = adam.lr
    val total = dataset.trainCount
    var lastElbo = Double.NaN // NaN until a step runs: optimize(0) must
    // not fabricate a plausible-looking 0.0 ELBO
    val polyTailN = math.min(math.max(polyakTail, 0), maxiter)
    val polyStart = startStep + maxiter - polyTailN
    val polySum =
      if (polyTailN > 0) new Array[Double](theta.length) else null
    var polyCnt = 0

    // one Adam ascent sub-step from a computed (loss, grad, cnt)
    def applyStep(loss: Double, grad: Array[Double], cnt: Long,
                  draws: Array[Double], it: Int): Unit = {
      // an empty Poisson minibatch (tiny fraction x unlucky step)
      // carries NO data evidence: combineKl would zero the data term
      // and the "update" would be a full-size pull of every
      // variational toward its prior — skip the step instead (the
      // seeded draw stream stays aligned; total == 0 means a genuinely
      // data-free model, where prior-only optimization is the point)
      if (cnt == 0 && total > 0) return
      lastElbo = combineKl(loss, grad, cnt, total, theta, draws)
      if (clipNorm > 0.0) {
        var ss = 0.0
        var i = 0
        while (i < grad.length) {
          if (mask(i)) ss += grad(i) * grad(i)
          i += 1
        }
        val nrm = math.sqrt(ss)
        if (nrm > clipNorm) {
          val s = clipNorm / nrm
          i = 0
          while (i < grad.length) {
            if (mask(i)) grad(i) *= s
            i += 1
          }
        }
      }
      if (lrSchedule != null) adam.lr = lrSchedule(it)
      adam.step(theta, grad, mask)
      if (polySum != null && it >= polyStart) {
        var i = 0
        while (i < theta.length) { polySum(i) += theta(i); i += 1 }
        polyCnt += 1
      }
      if (verboseEvery > 0 && (it % verboseEvery == 0))
        println(f"[elbo] iter $it%6d elbo=$lastElbo%.4f")
    }

    // fusing only helps where a batch is expensive to produce: the
    // distributed minibatch paths (local data re-indexes for free;
    // full-batch reuses the same persisted RDD every step already)
    val fuse = stepsPerBatch > 1 && !useLocal && minibatchSize > 0
    var it = 0
    while (it < maxiter) {
      if (!fuse) {
        val g = startStep + it
        val draws = freshDraws(g)
        val (loss, grad, cnt) = batchGrad(g, minibatchSize,
          training = true, theta, draws)
        applyStep(loss, grad, cnt, draws, g)
        it += 1
      } else {
        // batch groups are aligned to GLOBAL step boundaries (0, k,
        // 2k, …), and a resumed run entering mid-group re-samples that
        // group's batch by its group-start seed and runs only the
        // remaining sub-steps — so optimize(startStep = t) continues
        // the exact batch/draw schedule of the uninterrupted run for
        // ANY t, not just multiples of k
        val globalIt = startStep + it
        val groupStart = globalIt - (globalIt % stepsPerBatch)
        val k = math.min(stepsPerBatch - (globalIt % stepsPerBatch),
          maxiter - it)
        // a minibatch is memory-bounded BY CONSTRUCTION (the user chose
        // its size), so collecting it for driver-local sub-steps is
        // gated on its own fixed budget — NOT on localThreshold, which
        // governs whether the whole DATASET may live on the driver
        // (and is 0 when forcing the distributed path for benching)
        val collectable = augmentIsDefault &&
          minibatchSize.toLong * math.max(1, inputCols.length) <=
            Elbo.FusedCollectBudget
        var rows: Array[Array[Double]] = null
        var rdd: org.apache.spark.rdd.RDD[Array[Double]] = null
        var df: org.apache.spark.sql.DataFrame = null
        if (augmentIsDefault) {
          val sampled = sampledBlocks(minibatchSize, groupStart,
            training = true)
          // a few large blocks cross to the driver, not one object per
          // row; split there into the rows localGrad walks
          if (collectable)
            rows = DataSet.allRows(sampled.collect(), inputCols.length)
          else {
            rdd = sampled.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            rdd.count()
          }
        } else {
          df = dataset.minibatch(minibatchSize, groupStart)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          df.count()
        }
        try {
          var s = 0
          while (s < k) {
            val step = startStep + it + s
            val draws = freshDraws(step)
            val (loss, grad, cnt) =
              if (rows != null) localGrad(rows, null, theta, draws)
              else if (rdd != null) rddGrad(rdd, theta, draws)
              else rddGrad(dataset.pack(augment(df, step), inputCols),
                theta, draws)
            applyStep(loss, grad, cnt, draws, step)
            s += 1
          }
        } finally {
          // release the group's cache even when a sub-step throws —
          // re-linearization loops retry across many Elbo builds and
          // leaked minibatch caches accumulate in storage memory
          if (rdd != null) rdd.unpersist(false)
          if (df != null) df.unpersist(false)
        }
        it += k
      }
    }
    if (lrSchedule != null) adam.lr = entryLr
    if (polySum != null && polyCnt > 0) {
      var i = 0
      while (i < theta.length) { theta(i) = polySum(i) / polyCnt; i += 1 }
      // the write-back is the tail AVERAGE, not the last iterate — one
      // extra evaluation so the returned ELBO describes the θ the
      // caller actually receives
      val g = startStep + maxiter
      val draws = freshDraws(g)
      val (loss, grad, cnt) =
        batchGrad(g, minibatchSize, training = true, theta, draws)
      lastElbo = combineKl(loss, grad, cnt, total, theta, draws)
    }
    thetaToTree(theta)
    module.initialize()
    lastElbo
  }

  /** Deterministic full-batch L-BFGS ascent (breeze.optimize) — the
    * quasi-Newton path for MAP / point estimation and for variational
    * fits wanting a real convergence test: the reparameterization
    * draw vector is FROZEN (zeros by default — each Variational sits
    * at its posterior mean; pass `frozenDrawStep ≥ 0` for one seeded
    * draw), so the objective is an exact deterministic function of θ
    * and Breeze's relative-tolerance stopping rule applies. Every
    * function evaluation is one full-batch gradient pass (the same
    * treeAggregate/local path as Adam training). Returns the final
    * objective (ELBO under the frozen draw). */
  def optimizeLbfgs(maxiter: Int = 100, m: Int = 7,
                    collection: String = Collections.Variables,
                    frozenDrawStep: Int = -1): Double = {
    import breeze.linalg.DenseVector
    import breeze.optimize.{DiffFunction, LBFGS}
    val draws = if (frozenDrawStep < 0) new Array[Double](nDraws)
      else freshDraws(frozenDrawStep)
    val mask = collectionMask(collection)
    val total = dataset.trainCount
    def elboAndGrad(th: Array[Double]): (Double, Array[Double]) = {
      val (loss, grad, cnt) = batchGrad(0, -1, training = true, th, draws)
      val elbo = combineKl(loss, grad, cnt, total, th, draws)
      var i = 0
      while (i < nSlots) { if (!mask(i)) grad(i) = 0.0; i += 1 }
      (elbo, grad)
    }
    val f = new DiffFunction[DenseVector[Double]] {
      def calculate(x: DenseVector[Double]): (Double, DenseVector[Double]) = {
        val (elbo, grad) = elboAndGrad(x.toArray)
        // breeze minimizes: negate the ascent problem
        (-elbo, -DenseVector(grad))
      }
    }
    val opt = new LBFGS[DenseVector[Double]](maxIter = maxiter, m = m)
    // minimizeAndReturnState: the optimizer already evaluated the
    // objective at the optimum — returning its value avoids one
    // redundant full-batch pass
    val state = opt.minimizeAndReturnState(f, DenseVector(thetaFromTree()))
    thetaToTree(state.x.toArray)
    module.initialize()
    -state.value
  }
}

object Elbo {

  /** Default `localThreshold`: 32M cells (256 MB of doubles). */
  val LocalThresholdCells: Long = 32000000L

  /** Max minibatch doubles (rows × input cols ≈ 32 MB) collected to
    * the driver for fused multi-step groups; larger batches stay a
    * cached RDD and sub-steps run as jobs. */
  val FusedCollectBudget: Long = 4000000L

  /** Default no-op augment marker (identity). Kept as a named object so
    * the engine can detect "no per-step columns" and use the persisted
    * vector / driver-local fast paths. */
  val NoAugment: (org.apache.spark.sql.DataFrame, Int) =>
    org.apache.spark.sql.DataFrame = (df, _) => df

  /** One thread's working arrays for a tape: the value and adjoint
    * slots of the interpreter and one input row. */
  private[optimize] final class Scratch(val tape: CompiledExpr) {
    val vals: Array[Double] = tape.newValues
    val adj: Array[Double] = tape.newValues
    val in: Array[Double] = new Array[Double](tape.nIn)
  }

  private val scratch = new ThreadLocal[Scratch]()

  private[optimize] def scratchFor(tape: CompiledExpr): Scratch = {
    val cur = scratch.get()
    if (cur != null && (cur.tape eq tape)) cur
    else { val fresh = new Scratch(tape); scratch.set(fresh); fresh }
  }

  /** A partition's mutable partial Σ (logp, ∇logp, rows): one object,
    * serialized once per task, instead of a tuple per row. */
  private[optimize] final class GradAcc(nSlots: Int) extends Serializable {
    var loss = 0.0
    val grad = new Array[Double](nSlots)
    var count = 0L

    def merge(o: GradAcc): GradAcc = {
      var i = 0
      while (i < grad.length) { grad(i) += o.grad(i); i += 1 }
      loss += o.loss
      count += o.count
      this
    }
  }

  /** Model-building context handed to the user's log-likelihood
    * builder — the analog of writing TF ops under `tf_mode`
    * (reference `model.py:23-41`). */
  final class Ctx private[optimize] (
      inputCols: Seq[String],
      offsets: Map[String, Int],
      drawOffsets: Map[String, Int],
      nameOf: Map[Param, String],
      vnameOf: Map[Variational, String]) {

    /** Per-row input column. */
    def in(name: String): Expr = {
      val i = inputCols.indexOf(name)
      require(i >= 0, s"input '$name' not in $inputCols")
      In(i)
    }

    /** Constrained-space value elements of a plain Param. */
    def read(p: Param): IndexedSeq[Expr] = {
      val o = offsets(nameOf(p))
      (0 until p.size).map(i => ExprFns.forward(p.transform, P(o + i)))
    }
    def read1(p: Param): Expr = { require(p.size == 1); read(p).head }

    /** Raw (pre-transform, pre-scale) reparameterized sample. */
    private def rawSample(v: Variational): IndexedSeq[Expr] = {
      val name = vnameOf(v)
      val muO = offsets(s"$name/q_mu")
      val sqO = offsets(s"$name/q_sqrt")
      val dO = drawOffsets(name)
      v.qShape match {
        case QShape.Diagonal =>
          (0 until v.size).map(i =>
            P(muO + i) + Expr.exp(P(sqO + i)) * Dr(dO + i))
        case QShape.FullRank =>
          // row-major lower-triangle matmul per LAYER block (block-
          // diagonal across v.nLayers; one block == the old whole-
          // vector case when unlayered)
          val s = v.layerSize
          (0 until v.size).map { g =>
            val l = g / s; val i = g % s
            val terms = (0 to i).map(j =>
              P(sqO + l * s * s + i * s + j) * Dr(dO + l * s + j))
            P(muO + g) + Expr.sum(terms)
          }
      }
    }

    /** Transformed, scaled sample — what the model reads (mirrors
      * `Variational.tensor()` incl. the Gaussian/OffsetGaussian scale
      * and offset wrapping, reference `variationals.py:112-119,
      * 290-291, 313-314`). */
    def sample(v: Variational): IndexedSeq[Expr] = {
      val base = rawSample(v).map(ExprFns.forward(v.transform, _))
      v match {
        case og: Variational.OffsetGaussian =>
          val s = read1(og.scale); val o = read1(og.offset)
          base.map(e => e * s + o)
        case g: Variational.Gaussian =>
          val s = read1(g.scale)
          base.map(e => e * s)
        case _ => base
      }
    }
    def sample1(v: Variational): Expr = { require(v.size == 1); sample(v).head }

    /** Per-variational KL(q‖p) as an Expr over (θ, u) — matches
      * `Variational._KL` / `Normal._KL` / `Beta._KL`
      * (reference `variationals.py:188-230,369-381`). */
    private[optimize] def klExpr(v: Variational): Expr = {
      val name = vnameOf(v)
      val sqO = offsets(s"$name/q_sqrt")
      val dO = drawOffsets(name)
      val logdet: IndexedSeq[Expr] = v.qShape match {
        case QShape.Diagonal =>
          (0 until v.size).map(i => Expr.c(2.0) * P(sqO + i))
        case QShape.FullRank =>
          val s = v.layerSize
          (0 until v.size).map { g =>
            val l = g / s; val i = g % s
            Expr.log(P(sqO + l * s * s + i * s + i).sq)
          }
      }
      val raw = rawSample(v)
      val us = (0 until v.size).map(i => Dr(dO + i))
      v match {
        case b: Variational.Beta =>
          val a = read1(b.alpha); val bb = read1(b.beta)
          val ent = Expr.sum((0 until v.size).map(i =>
            Expr.c(-0.5) * (Expr.c(math.log(2 * math.Pi)) + logdet(i) +
              us(i).sq)))
          val pr = Expr.sum(raw.map { r =>
            ExprFns.beta(a, bb, ExprFns.forward(b.transform, r)) +
              ExprFns.logJacobian(b.transform, r)
          })
          ent - pr
        case _: Variational.Normal => // Normal/Gaussian/OffsetGaussian
          Expr.sum((0 until v.size).map(i =>
            Expr.c(-0.5) * (logdet(i) + us(i).sq - raw(i).sq)))
        case _ =>
          val ent = Expr.sum((0 until v.size).map(i =>
            Expr.c(-0.5) * (Expr.c(math.log(2 * math.Pi)) + logdet(i) +
              us(i).sq)))
          val pr = v.prior match {
            case Some(p) => Expr.sum(raw.map { r =>
              ExprFns.priorLogp(p, ExprFns.forward(v.transform, r)) +
                ExprFns.logJacobian(v.transform, r)
            })
            case None => Expr.zero
          }
          ent - pr
      }
    }
  }
}
