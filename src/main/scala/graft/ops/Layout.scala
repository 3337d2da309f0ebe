package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** JVM kernels for [[Layout]]'s codegen'd expressions. */
object LayoutFns {

  /** Hilbert-curve index of (x, y) on the order-`order` curve (the
    * classic xy2d walk: per level, quadrant digit (3·rx)⊕ry, then
    * reflect+swap into the sub-square's frame). Inputs must be in
    * [0, 2^order). Distance-1 steps along the curve are ALWAYS
    * distance-1 in the grid — the locality property Z-order lacks at
    * quadrant seams. */
  def hilbert(x0: Long, y0: Long, order: Int): Long = {
    var x = x0; var y = y0; var d = 0L
    var s = 1L << (order - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

/** Codegen'd Hilbert index: a native loop beats the unrolled Column
  * form, whose (x, y, d) state expressions would triple in size per
  * level (3^order nodes — HOF-free but unshareable across levels). */
case class HilbertIndex(left: Expression, right: Expression, order: Int)
  extends BinaryExpression {
  require(order >= 1 && order <= 31, s"bad hilbert order $order")
  override def dataType: DataType = LongType
  override def nullSafeEval(x: Any, y: Any): Any =
    LayoutFns.hilbert(x.asInstanceOf[Long], y.asInstanceOf[Long], order)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.ops.LayoutFns.hilbert($x, $y, $order)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): HilbertIndex = copy(left = l, right = r)
  override def prettyName: String = "hilbert_index"
}

/** At-rest layout operators: Z-order (Morton) clustering, the
  * standard multi-dimensional sort for file/row-group skipping — a
  * lexicographic sort clusters only its leading column, while the
  * bit-interleaved Z-value keeps EVERY interleaved dimension's range
  * narrow within a file, so min/max pruning works for filters on any
  * of them (the Delta/Iceberg OPTIMIZE ZORDER story, as plain
  * deterministic integer arithmetic).
  */
object Layout {

  /** Morton Z-value of two non-negative int columns: the low `bits`
    * bits of `a` and `b` interleaved (a gets the even positions).
    * Pure shift/mask/add column arithmetic — codegen'd in Spark and
    * reproducible in any SQL engine. */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bad bit width $bits")
    (0 until bits).map { i =>
      shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** DuckDB rendering of the same interleave (same validity bounds —
    * shifts past 62 would wrap Long constants into wrong SQL). */
  def ZValueSql(a: String, b: String, bits: Int): String = {
    require(bits >= 1 && bits <= 31, s"bad bit width $bits")
    (0 until bits).map { i =>
      s"((($a >> $i) & 1) * ${1L << (2 * i)} + " +
        s"((($b >> $i) & 1)) * ${1L << (2 * i + 1)})"
    }.mkString("(", " + ", ")")
  }

  /** Hilbert index of two non-negative long columns on the
    * order-`bits` curve ([[LayoutFns.hilbert]], codegen'd). Total on
    * [0, 2^bits)² like [[zValue]], but consecutive curve positions
    * are ALWAYS grid-adjacent — the locality that makes file min/max
    * ranges tighter than Z-order's quadrant-seam jumps. */
  def hilbertValue(a: Column, b: Column, bits: Int): Column =
    bridge.toColumn(HilbertIndex(
      bridge.toExpression(a.cast("long")),
      bridge.toExpression(b.cast("long")), bits))

  /** DuckDB rendering of the same walk, as CHAINED CTE stages (the
    * per-level (x, y, d) state rotates, so a single expression would
    * grow 3^bits nodes — stages keep it linear). Returns the CTE list
    * `h1 AS (...), …, h<bits> AS (...)`; `fromCte` must expose
    * columns `hx0`/`hy0` plus whatever should ride along, and the
    * final stage `h<bits>` carries the index as `hd<bits>`. Column
    * names are per-level (hx1, hx2, …) — an alias reusing the input
    * column's name would be shadowed by DuckDB's lateral alias
    * binding within the same SELECT. Level i handles bit
    * s = 2^(bits−i). */
  def HilbertCtesSql(fromCte: String, bits: Int): String = {
    require(bits >= 1 && bits <= 31, s"bad bit width $bits")
    (1 to bits).map { i =>
      val s = 1L << (bits - i)
      val prev = if (i == 1) fromCte else s"h${i - 1}"
      val (px, py) = (s"hx${i - 1}", s"hy${i - 1}")
      val d0 = if (i == 1) "CAST(0 AS BIGINT)" else s"hd${i - 1}"
      val rx = s"CASE WHEN ($px & $s) > 0 THEN 1 ELSE 0 END"
      val ry = s"CASE WHEN ($py & $s) > 0 THEN 1 ELSE 0 END"
      s"h$i AS (SELECT * EXCLUDE ($px, $py" +
        s"${if (i == 1) "" else s", hd${i - 1}"}), " +
        s"CASE WHEN ($ry) = 0 THEN (CASE WHEN ($rx) = 1 " +
        s"THEN ${s - 1} - $py ELSE $py END) ELSE $px END AS hx$i, " +
        s"CASE WHEN ($ry) = 0 THEN (CASE WHEN ($rx) = 1 " +
        s"THEN ${s - 1} - $px ELSE $px END) ELSE $py END AS hy$i, " +
        s"$d0 + ${s * s} * xor(3 * ($rx), $ry) AS hd$i " +
        s"FROM $prev)"
    }.mkString(", ")
  }

  /** Repartition-by-range on the Z-value — the write-side layout op:
    * `df.transform(zOrderBy(col(a), col(b), bits, n)).write...` yields
    * files whose min/max ranges are narrow in BOTH a and b. The
    * Z-value rides as an expression, so no column name can collide. */
  def zOrderBy(a: Column, b: Column, bits: Int,
               numFiles: Int)(df: DataFrame): DataFrame = {
    val z = zValue(a, b, bits)
    df.repartitionByRange(numFiles, z).sortWithinPartitions(z)
  }

  /** Target-size compaction — the small-files fix for any table that
    * accumulated per-batch fragments (incremental ingest): rewrite to ⌈rows/targetRows⌉ similar-sized files. With
    * a `clusterBy` column the rewrite range-partitions on it (files
    * stay min/max-prunable on that column); without one it
    * round-robins for pure size balancing. The row count comes from
    * ONE count() pass — at 100 TB that is a metadata-cheap columnar
    * scan, and the alternative (guessing file counts) is exactly what
    * produced the fragments. */
  def compact(df: DataFrame, targetRows: Long,
              clusterBy: Option[Column] = None): DataFrame = {
    require(targetRows > 0, s"bad target $targetRows")
    val n = df.count()
    val files = math.max(1L, (n + targetRows - 1) / targetRows).toInt
    clusterBy match {
      case Some(c) => df.repartitionByRange(files, c)
        .sortWithinPartitions(c)
      case None => df.repartition(files)
    }
  }

  /** Rendezvous (highest-random-weight) shard of `id` among
    * `nShards`: argmax over shards s of the portable 60-bit hash of
    * "id:s" (Thaler & Ravishankar 1998). The property mod-sharding
    * lacks: growing S → S' relabels ONLY the rows whose new argmax
    * lands in the added shards — an expected (S'−S)/S' fraction —
    * because the scores of the surviving shards are unchanged, so a
    * shard-count bump on an incrementally-ingested 100 TB layout
    * rewrites 1/3 of the files instead of ~all of them. Ties break to
    * the first (lowest) shard in BOTH engines (array_position /
    * list_position are first-match). Pure per-row expressions — no
    * shuffle, no state. The score array is evaluated twice (once
    * under array_max, once under array_position); that is a constant
    * 2× on a model-sized (nShards) array, not the O(m²) HOF
    * re-evaluation trap (no per-element lambda references the array). */
  def rendezvousShard(id: Column, nShards: Int): Column = {
    require(nShards >= 1, s"bad shard count $nShards")
    val scores = transform(sequence(lit(0), lit(nShards - 1)),
      s => TextAnalysis.tokenHash(
        concat(id.cast("string"), lit(":"), s.cast("string"))))
    (array_position(scores, array_max(scores)) - lit(1L)).cast("int")
  }

  /** DuckDB rendering of [[rendezvousShard]]'s score list (same bits;
    * materialize it in a CTE, then the shard is
    * `list_position(l, list_aggregate(l, 'max')) - 1` — 1-based
    * first-match like Spark's array_position). */
  def RendezvousScoresSql(idCol: String, nShards: Int): String = {
    val h = TextAnalysis.TokenHashSql(
      s"CAST($idCol AS VARCHAR) || ':' || CAST(s AS VARCHAR)")
    s"[$h for s in range(0, $nShards)]"
  }
}
