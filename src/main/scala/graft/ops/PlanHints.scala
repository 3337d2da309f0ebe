package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, KnownNotNull,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.DataType

/** Nullability hints that keep Catalyst from duplicating expensive
  * kernels (the round-11 PlanAudit finding): when a projection's
  * expensive expression (a signature/bucket kernel) later serves as
  * a JOIN key, InferFiltersFromConstraints derives `IsNotNull(key)`
  * and pushes it below the defining projection — re-evaluating the
  * kernel per row in a separate Filter operator, outside codegen
  * subexpression elimination's per-operator scope (measured 2x on
  * the simhash/LSH/minhash families). Constraint inference only
  * fires for NULLABLE attributes, so wrapping the kernel's INPUT in
  * [[KnownNotNull]] — after the caller's explicit cheap null filter
  * on that input — makes the kernel output non-nullable and the
  * inferred filter never materializes. */
object PlanHints {

  /** A whole-number knob: the value of the environment variable
    * `name`, or `default` when it is unset. A value that is not a
    * whole number in [min, max] fails with an
    * [[IllegalArgumentException]] that names the variable and says
    * `what` it must be. The one parser behind [[bytesFromEnv]] and
    * [[countFromEnv]]. */
  private def longFromEnv(name: String, default: Long, min: Long,
      max: Long, what: String, env: Map[String, String]): Long =
    env.get(name).fold(default) { v =>
      v.toLongOption.filter(n => n >= min && n <= max).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be $what, got '$v'"))
    }

  /** A byte-size threshold for a size-gated plan choice (a
    * non-negative whole number). */
  def bytesFromEnv(name: String, default: Long,
                   env: Map[String, String] = sys.env): Long =
    longFromEnv(name, default, 0L, Long.MaxValue,
      "a non-negative byte count", env)

  /** A core or thread count (a positive `Int`). */
  def countFromEnv(name: String, default: Int,
                   env: Map[String, String] = sys.env): Int =
    longFromEnv(name, default, 1L, Int.MaxValue,
      "a positive integer", env).toInt

  /** Mark `c` non-nullable. ONLY valid immediately downstream of an
    * explicit `c.isNotNull` filter (KnownNotNull is a pass-through
    * with no runtime check — a null slipping past the contract would
    * reach consumers as an undefined non-null slot). */
  def knownNotNull(c: Column): Column =
    bridge.toColumn(KnownNotNull(bridge.toExpression(c)))

  /** Identity pass-through flagged non-deterministic: the projection
    * pin. A predicate over a projected expensive column (a score
    * threshold over a classifier chain, a bloom membership test over
    * a signature fold) is pushed through the defining projection by
    * Catalyst — push-through-Project is gated on the PROJECT FIELDS'
    * determinism, not the condition's — substituting the whole
    * kernel chain into a separate Filter operator, 2x the kernel per
    * row. Wrapping the projected expression makes its Project
    * non-collapsible and non-push-through-able: consumers reference
    * the computed column, and the kernel runs exactly once where it
    * was written. Costs to be aware of: NO predicate (not even a
    * cheap one) can sink through the pinned projection, so author
    * cheap filters BELOW it, and the wrapped field cannot be used as
    * a grouping/join key directly (nondeterministic-expression
    * analysis rules) — project first, key on the column. Evaluation
    * and codegen are byte-for-byte the child's. */
  private[graft] case class OpaqueExpr(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = child.dataType
    override lazy val deterministic: Boolean = false
    override def foldable: Boolean = false
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = child.eval(input)
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      ev.copy(code = c.code, isNull = c.isNull, value = c.value)
    }
    override protected def withNewChildInternal(c: Expression): OpaqueExpr =
      copy(child = c)
  }

  /** Pin a projected expensive expression in place (see
    * [[OpaqueExpr]]): it computes exactly once, where written.
    * Semantically the identity. */
  def computeOnce(c: Column): Column =
    bridge.toColumn(OpaqueExpr(bridge.toExpression(c)))
}
