package graft.autodiff

import org.scalatest.funsuite.AnyFunSuite

/** `CompiledExpr.hoist` against the un-hoisted tape: row values must be
  * bit-identical, and ∂θ/∂draws (row tape's ∂ℓ/∂B chained through the
  * head) must agree to 1e-12 relative to the gradient's ∞-norm. */
class HoistSpec extends AnyFunSuite {

  private val nIn = 2
  private val nSlots = 3
  private val nDraws = 2

  /** Random expressions over every node kind and leaf type. Arguments of
    * log, sqrt, pow and lgamma are kept ≥ 0.5, denominators ≥ 1 and
    * exponents in [-1, 1], so every value and gradient is finite. Each
    * built subtree joins a pool that later nodes draw from, so the DAG
    * shares subtrees inside, outside and across the θ boundary. */
  private final class Gen(seed: Long) {
    private val r = new scala.util.Random(seed)
    private val pool = scala.collection.mutable.ArrayBuffer.empty[Expr]

    private def leaf(): Expr = r.nextInt(4) match {
      case 0 => Const(r.nextInt(9) * 0.25 - 1.0)
      case 1 => In(r.nextInt(nIn))
      case 2 => P(r.nextInt(nSlots))
      case _ => Dr(r.nextInt(nDraws))
    }

    private def pos(a: Expr): Expr = AbsE(a) + Const(0.5)

    def apply(depth: Int): Expr = {
      val e =
        if (depth == 0 || r.nextInt(6) == 0) leaf()
        else if (pool.nonEmpty && r.nextInt(5) == 0) pool(r.nextInt(pool.size))
        else {
          def a = apply(depth - 1)
          r.nextInt(18) match {
            case 0 => Add(a, a)
            case 1 => Sub(a, a)
            case 2 => Mul(a, a)
            case 3 => Div(a, Const(1.0) + a.sq)
            case 4 => Neg(a)
            case 5 => ExpE(TanhE(a))
            case 6 => LogE(pos(a))
            case 7 => SqrtE(pos(a))
            case 8 => AbsE(a)
            case 9 => PowC(pos(a), Seq(-1.5, 0.5, 1.7, 3.0)(r.nextInt(4)))
            case 10 => Sigmoid(a)
            case 11 => Softplus(a)
            case 12 => TanhE(a)
            case 13 => Relu(a)
            case 14 => LgammaE(pos(a))
            case 15 => Lse2(a, a)
            case 16 => SinE(a)
            case _ => CosE(a)
          }
        }
      pool += e
      e
    }
  }

  private def kinds(e: Expr): Set[String] = e match {
    case p: Product => p.productIterator.collect { case c: Expr => kinds(c) }
      .foldLeft(Set(e.getClass.getSimpleName))(_ ++ _)
  }

  private def same(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToRawLongBits(a) ==
      java.lang.Double.doubleToRawLongBits(b)

  /** Checks `e` on `rows` random rows at one random (θ, draws); returns
    * the hoisted form. With `fast`, the generated code is checked too. */
  private def check(e: Expr, seed: Long, rows: Int = 6,
                    fast: Boolean = false): HoistedExpr = {
    val r = new scala.util.Random(seed)
    val flat = CompiledExpr.compile(e, nIn, nSlots, nDraws)
    val h = CompiledExpr.hoist(e, nIn, nSlots, nDraws)
    assert(h.row.nSlots == h.nB && h.row.nDraws == 0 && h.row.nIn == nIn)
    assert(!h.row.ops.contains(CompiledExpr.OpDr), "a draw left in the row tape")
    assert(h.head.ops.count(_ == CompiledExpr.OpIn) == h.nB,
      "the head reads only the slot adjoints")
    val th = Array.fill(nSlots)(r.nextGaussian())
    val dr = Array.fill(nDraws)(r.nextGaussian())
    val b = h.slots(th, dr)
    (0 until rows).foreach { _ =>
      val in = Array.fill(nIn)(r.nextGaussian())
      val want = flat.eval(in, th, dr, flat.newValues)
      val got = h.row.eval(in, b, Array.empty, h.row.newValues)
      assert(same(want, got), s"row value $got vs $want for $e")
      if (fast) assert(same(flat.evalFast(in, th, dr, flat.newValues),
        h.row.evalFast(in, b, Array.empty, h.row.newValues)), s"codegen $e")

      val gThU = new Array[Double](nSlots); val gDrU = new Array[Double](nDraws)
      val vu = flat.evalGrad(in, th, dr, flat.newValues, flat.newValues,
        gThU, gDrU)
      val gB = new Array[Double](h.nB)
      val vh = h.row.evalGrad(in, b, Array.empty, h.row.newValues,
        h.row.newValues, gB)
      assert(same(vu, vh))
      val gThH = new Array[Double](nSlots); val gDrH = new Array[Double](nDraws)
      h.chain(gB, th, dr, gThH, gDrH)
      val want2 = gThU ++ gDrU
      val got2 = gThH ++ gDrH
      val norm = want2.map(math.abs).max
      want2.indices.foreach { k =>
        assert(math.abs(want2(k) - got2(k)) <= 1e-12 * norm,
          s"gradient $k: hoisted ${got2(k)} vs ${want2(k)} (norm $norm) for $e")
      }
    }
    h
  }

  test("hoist: random expressions over all 22 node kinds keep row values " +
    "bit-identical and gradients within 1e-12") {
    var seen = Set.empty[String]
    var cut = 0
    (0 until 400).foreach { s =>
      val e = new Gen(s)(6)
      seen ++= kinds(e)
      val h = check(e, 1000L + s, fast = s < 30)
      if (h.row.ops.length < CompiledExpr.compile(e, nIn, nSlots, nDraws)
          .ops.length) cut += 1
    }
    assert(seen.size == 22, s"node kinds seen: ${seen.toSeq.sorted}")
    assert(cut > 100, s"only $cut of 400 row tapes got smaller")
  }

  test("hoist edge cases: no In, no P/Dr, a subtree shared across the " +
    "boundary, equal subtrees sharing one slot") {
    // no In at all: the whole expression is one slot
    val noIn = check(ExpE(P(0)) * Dr(0) + Lse2(P(1), Dr(1)), 1L)
    assert(noIn.nB == 1 && noIn.row.ops.toSeq == Seq(CompiledExpr.OpP))
    // no P or Dr: zero slots, the row tape is the whole tape
    val e = In(0) * In(1) + SinE(In(0)) / (Const(2.0) + In(1).sq)
    val noTheta = check(e, 2L)
    assert(noTheta.nB == 0)
    assert(noTheta.row.ops.length ==
      CompiledExpr.compile(e, nIn, nSlots, nDraws).ops.length)
    val g = new Array[Double](nSlots)
    noTheta.chain(Array.empty, Array(1.0, 2.0, 3.0), Array(0.5, 0.5), g)
    assert(g.forall(_ == 0.0))
    // exp(P0) is a slot of its own (under a data node) and also sits
    // inside the slot log(exp(P0)·P1 + 2): the head evaluates it once
    // and both slots' adjoints reach P0
    val s = ExpE(P(0))
    val shared = check(s * In(0) + LogE(s * P(1) + Const(2.0)) * In(1) +
      s * Dr(0), 3L)
    assert(shared.nB == 3)
    assert(shared.head.ops.count(_ == CompiledExpr.OpExp) == 1)
    // structurally equal subtrees built apart share one slot
    val twice = check(ExpE(P(0) + Dr(1)) * In(0) + ExpE(P(0) + Dr(1)) * In(1), 4L)
    assert(twice.nB == 1)
  }

  test("hoist: the Bayesian linear model's row tape keeps no exp") {
    def sample(i: Int) = P(2 * i) + ExpE(P(2 * i + 1)) * Dr(i)
    val e = ExprFns.gaussian(In(1), sample(0) + sample(1) * In(0),
      ExpE(sample(2)))
    val h = CompiledExpr.hoist(e, nIn, 6, 3)
    val flat = CompiledExpr.compile(e, nIn, 6, 3)
    assert(!h.row.ops.contains(CompiledExpr.OpExp))
    assert(flat.ops.count(_ == CompiledExpr.OpExp) == 4)
    assert(h.row.ops.length < flat.ops.length / 2,
      s"${h.row.ops.length} row ops vs ${flat.ops.length}")
  }
}
