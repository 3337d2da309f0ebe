package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream relational operators the reference has no analog for
  * (its only "time" axis is SGD iteration count) but that any
  * large-scale behavioral / training-telemetry pipeline needs: as-of
  * (point-in-time) joins and gap-based sessionization.
  *
  * Timestamps are int64 epoch-nanos end to end ([[load]] normalizes
  * the fixture's `ts` — TIMESTAMP(MICROS), or TIMESTAMP(NANOS) read
  * as LongType under `spark.sql.legacy.parquet.nanosAsLong` — to
  * epoch-nanos; DuckDB mirrors with `epoch_ns`), so every comparison
  * is exact integer arithmetic — no timezone or unit drift between
  * engines.
  *
  * Scale shapes:
  *  - [[asofJoin]] is NOT a range join (Spark would execute the
  *    `r.ts <= l.ts` non-equi condition as a per-key nested loop —
  *    quadratic in events-per-key). Instead the two sides UNION (a
  *    zero-shuffle concat) and ONE window pass partitioned by the
  *    high-cardinality key carries the latest right-side payload
  *    forward onto each left row. Total cost = one exchange + one
  *    sort of (left ∪ right), linear per key — the merge-scan an
  *    ASOF-aware engine (DuckDB, kdb) runs natively.
  *  - [[sessionize]] is the same single exchange + sort per key; the
  *    lag/cumsum pair shares one window spec, so Catalyst plans one
  *    Window operator chain over one shuffle.
  */
object Events {

  /** Read an events table with `ts` normalized to int64 epoch-nanos,
    * whatever the physical type: a TIMESTAMP(MICROS/NTZ) column maps
    * through `unix_micros` × 1000 (exactly what DuckDB's `epoch_ns`
    * returns for a µs timestamp, with the session timezone pinned to
    * UTC), and an int64 column (TIMESTAMP(NANOS) fixtures under the
    * legacy nanosAsLong flag) passes through unchanged. */
  def load(spark: org.apache.spark.sql.SparkSession,
           path: String): DataFrame =
    normalizeTs(spark.read.parquet(path))

  /** The [[load]] normalization as a pure projection, for any frame
    * read over the events schema.
    *
    * Timezone-independence contract: the fixture's parquet ts is
    * TIMESTAMP(MICROS) with isAdjustedToUTC=false, which Spark reads
    * as TIMESTAMP_NTZ. Casting NTZ→TIMESTAMP would interpret the
    * local datetime in the SESSION timezone — epoch-aligned results
    * (tumbling windows, retention weeks, as-of cutoffs) would then
    * silently differ on a non-UTC host. Instead the NTZ branch uses
    * `timestampdiff(MICROSECOND, epoch, ts)`, which subtracts raw
    * local-datetime micros with no zone conversion, i.e. reads the
    * NTZ value AS UTC — exactly DuckDB's `epoch_ns` on the same
    * column. Instant-typed TIMESTAMP goes through `unix_micros`
    * (already zone-free). */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          expr("timestampdiff(MICROSECOND, " +
            "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)") * lit(1000L))
      case org.apache.spark.sql.types.TimestampType =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts must be long / timestamp / timestamp_ntz, got $other")
    }

  /** As-of join: attach to each `left` row the payload of the most
    * recent `right` row with the same `keyCol` and `right.tsCol <=
    * left.tsCol` (ties on ts broken toward the greatest `seqCol`,
    * and a right row at exactly left.ts IS visible). Unmatched left
    * rows keep null payloads (left-outer semantics).
    *
    * `right` must carry `keyCol`, `tsCol`, `seqCol` and the
    * `payloadCols`; payloads land on the output as `prefix+name`.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               tsCol: String, seqCol: String, payloadCols: Seq[String],
               prefix: String = "asof_"): DataFrame = {
    require(payloadCols.nonEmpty, "asofJoin needs at least one payload column")
    val reserved = Seq("__seq", "__side", "__p", "__m")
    require(!left.columns.exists(reserved.contains),
      s"asofJoin reserves ${reserved.mkString("/")} — rename the " +
        "colliding left column")
    // null-key right rows can match nothing under SQL equality, but
    // Window.partitionBy groups nulls into ONE partition and would
    // attach their payloads to null-key left rows — drop them so a
    // null-key left row gets the null payload ASOF semantics dictate
    val r0 = right.where(col(keyCol).isNotNull)
      .select(col(keyCol), col(tsCol), col(seqCol).as("__seq"),
        lit(0).as("__side"),
        struct(payloadCols.map(col): _*).as("__p"))
    val pType = r0.schema("__p").dataType
    val l0 = left
      // the left seq never affects the match (all equal-ts rights sort
      // before all lefts via __side, and last(__p) skips left nulls):
      // a constant removes the undocumented "left must carry seqCol"
      // precondition
      .withColumn("__seq", lit(0L))
      .withColumn("__side", lit(1))
      .withColumn("__p", lit(null).cast(pType))
    // right rows carry nulls for the left-only columns so the two
    // sides union into one relation — ONE projection (a withColumn
    // fold re-analyzes the growing plan per column)
    val extras = left.columns.filterNot(c => c == keyCol || c == tsCol)
    val r1 = r0.select(r0.columns.toIndexedSeq.map(col) ++
      extras.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val cols = left.columns.toIndexedSeq.map(col) :+ col("__seq") :+ col("__side") :+ col("__p")
    val u = l0.select(cols: _*).unionByName(r1.select(cols: _*))
    // at equal (key, ts): __side orders right(0) before left(1), so an
    // exact-ts right row is already visible; among equal-ts right rows
    // the greatest __seq wins (it sorts last under last())
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col("__side").asc, col("__seq").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .select(left.columns.toIndexedSeq.map(col) ++
        payloadCols.map(p => col("__m").getField(p).as(prefix + p)): _*)
  }

  /** Gap-based sessionization: within each `keyCol`, events ordered by
    * (tsCol, seqCol) belong to one session until a gap greater than
    * `gapNanos` starts the next. Adds `session_idx` (1-based per key).
    * One exchange on the key; lag + running-sum share the sort. */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
                 seqCol: String, gapNanos: Long): DataFrame = {
    require(gapNanos > 0, s"bad session gap $gapNanos")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(seqCol))
    val prev = lag(col(tsCol), 1).over(w)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__new",
        when(prev.isNull || col(tsCol) - prev > lit(gapNanos), 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("__new")).over(cum))
      .drop("__new")
  }

  /** Per-session rollup of a sessionized frame: one row per (key,
    * session_idx) with event count and span. A second exchange on
    * (key, session) — partial-aggregated map-side like any hash agg. */
  def sessionStats(sessions: DataFrame, keyCol: String,
                   tsCol: String): DataFrame =
    sessions.groupBy(col(keyCol), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        (max(col(tsCol)) - min(col(tsCol))).as("span_ns"))

  /** First-touch funnel: for an ordered sequence of step predicates,
    * each key's step-k timestamp is the EARLIEST event satisfying
    * step k strictly after its step-(k−1) timestamp (step 1: earliest
    * overall). Returns (key, t1..tk nullable) — one row per key that
    * completed step 1. The classic product-analytics conversion op.
    *
    * Scale shape: k rounds of (filter → per-key min-aggregate →
    * same-key join) — every aggregate map-side partial, every join on
    * the already-shuffled key, no window over event history, state
    * O(keys) not O(events). Timestamps must be integral (epoch-nanos
    * convention) so comparisons are exact. */
  def funnel(df: DataFrame, keyCol: String, tsCol: String,
             steps: Seq[Column]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val key = col(keyCol)
    var acc = df.where(steps.head)
      .groupBy(key.as(keyCol))
      .agg(min(col(tsCol)).as("t1"))
    var k = 2
    steps.tail.foreach { pred =>
      val next = df.where(pred)
        .select(key.as(keyCol), col(tsCol).as("__ts"))
        .join(acc, keyCol)
        .where(col("__ts") > col(s"t${k - 1}"))
        .groupBy(col(keyCol))
        .agg(min(col("__ts")).as(s"t$k"))
      acc = acc.join(next, Seq(keyCol), "left")
      k += 1
    }
    acc
  }

  /** Cohort retention: keys bucketed by their FIRST-activity period
    * (cohort), then for each later period the count of cohort members
    * still active — the (cohort, offset) retention triangle. Periods
    * are integral `tsCol div periodLen` buckets (exact integer math;
    * nonnegative timestamps). Scale shape: one distinct on (key,
    * period) — a hash aggregate — a per-key min, and one final count
    * on the triangle grain; output is O(periods²) rows regardless of
    * input size. */
  def retention(df: DataFrame, keyCol: String, tsCol: String,
                periodLen: Long): DataFrame = {
    require(periodLen > 0, s"bad period $periodLen")
    // integer `div`, never `/`: epoch-nanos exceed 2^53 and double
    // division would misplace period boundaries
    val act = df.select(col(keyCol).as("__k"),
        expr(s"`$tsCol` div $periodLen").as("__p"))
      .where(col(tsCol) >= 0)
      .distinct()
    val cohorts = act.groupBy("__k").agg(min(col("__p")).as("cohort"))
    act.join(cohorts, "__k")
      .groupBy(col("cohort"), (col("__p") - col("cohort")).as("wk_offset"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort", "wk_offset")
  }

  /** Bucketed range (interval-containment) join: `points` rows join
    * every `intervals` row of the same key with `lo <= t <= hi`.
    *
    * Spark plans a raw range predicate as a nested-loop join —
    * quadratic per key. The standard fix (the Databricks range-join /
    * interval-bucketing technique): quantize time into `bucketNs`-wide
    * buckets, replicate each interval onto the buckets it covers
    * (⌈len/W⌉+1 rows — size W to the typical interval length),
    * equi-join on (key, bucket), then apply the exact containment
    * filter. Each (point, interval) pair meets in EXACTLY one bucket —
    * the point's own — so no dedup pass is needed. Every operator is
    * a hash join / map: linear, shuffle-partitioned, AQE-skew-safe.
    *
    * Returns the joined rows: point columns plus interval columns
    * (callers rename interval columns to avoid collisions). */
  def rangeJoinBucketed(points: DataFrame, intervals: DataFrame,
                        keyCol: String, tCol: String, loCol: String,
                        hiCol: String, bucketNs: Long): DataFrame = {
    require(bucketNs > 0, s"bad bucket width $bucketNs")
    // integer `div`, never `/`: epoch-nanos exceed 2^53, so double
    // division can misplace a boundary-adjacent row by one bucket and
    // silently drop its pairs. Times must be non-negative (div
    // truncates toward zero; the epoch-nano domain is).
    val pb = points.withColumn("__b", expr(s"`$tCol` div $bucketNs"))
    val ib = intervals
      .withColumn("__b", explode(sequence(
        expr(s"`$loCol` div $bucketNs"), expr(s"`$hiCol` div $bucketNs"))))
    pb.join(ib, Seq(keyCol, "__b"))
      .where(col(tCol) >= col(loCol) && col(tCol) <= col(hiCol))
      .drop("__b")
  }

  /** Tumbling-window aggregation over event time:
    * `window_start = (ts div w)·w` in exact int64 nano math (never
    * float division — epoch-nanos exceed 2⁵³), then per
    * (window, keys) count/sum in ONE hash aggregate. No window
    * function anywhere: map-side partial aggregation, shuffle only on
    * the (window, keys) grain, any engine rebuilds the same buckets.
    * Times must be non-negative (`div` truncates toward zero, so a
    * pre-epoch timestamp would fold into the wrong bucket vs an
    * engine that floors — same domain rule as
    * [[rangeJoinBucketed]]). */
  def tumblingAgg(df: DataFrame, tsCol: String, windowNanos: Long,
                  keyCols: Seq[String], value: Column): DataFrame = {
    require(windowNanos > 0, s"bad window width $windowNanos")
    val ws = (expr(s"`$tsCol` div $windowNanos") * lit(windowNanos))
      .as("window_start")
    df.groupBy(ws +: keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(value).as("sum_value"))
  }

  /** Exponentially time-decayed event mass per key — the recency
    * weighting behind freshness-aware mixing, decayed engagement
    * scores, and "still-active" filters: each event contributes
    * e^(−(T−t)/τ) evaluated at the reference instant T.
    *
    * Exactness under distribution: the per-row weight is a double
    * (identical on any engine — same exp of the same integer-derived
    * argument at the shared µs grain, never raw nanos: engines read
    * parquet NANOS timestamps at different precisions), but it is
    * QUANTIZED to int64 fixed point BEFORE the sum, so the aggregate
    * is order-independent and bit-identical under any partitioning —
    * the k-means register discipline applied to a decayed aggregate.
    * One scan + one map-side-partial hash agg.
    *
    * Both `tsMicros` and `refMicros` are MICROSECOND columns
    * (`ts div 1000` on the nanos long / `epoch_us` in SQL): engines
    * read parquet NANO timestamps at different precisions, so the µs
    * grain is the shared exact one, and a µs delta ≪ 2⁵³ casts to
    * double losslessly. `refMicros` is typically a one-row max-ts
    * frame joined in-plan, or a literal "now". */
  def decayedMass(df: DataFrame, tsMicros: Column, keyCols: Seq[String],
                  refMicros: Column, tauMicros: Double,
                  scale: Long = graft.ops.Stats.FxScale): DataFrame = {
    require(tauMicros > 0, s"bad decay tau $tauMicros")
    // clamp the age at 0: a clock-skewed FUTURE event (ts > ref) would
    // otherwise weigh e^(+age/tau) — a few tens of tau overflows the
    // fixed-point long and wraps the aggregate negative. A future
    // event is "now" (weight 1), identical to the oracle on any
    // well-formed input (ref is typically max ts, so age >= 0 there)
    val age = greatest((refMicros - tsMicros).cast("double"), lit(0.0))
    val w = exp(-(age / lit(tauMicros)))
    val fp = floor(w * lit(scale.toDouble)).cast("long")
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(fp).as("decayed_fp"))
  }

  /** First-order (Markov) next-event transition matrix: counts and
    * row-normalized probabilities of `typeCol` → next `typeCol` in
    * each key's time-ordered stream (the "what do users do after X"
    * product-analytics staple, and the transition model behind
    * session-based recommenders). One row per observed (from, to).
    *
    * Scale shape: ONE exchange+sort on the high-cardinality key for
    * the `lead` (the same honest per-key-sequential shape as
    * [[sessionize]] — a key's stream is ordered BY DEFINITION), then
    * a hash aggregate onto the (from, to) grain, which is
    * k²-bounded — KBs for any corpus. The row normalization runs
    * over the k²-row MATRIX, never the data. Ties in `tsCol` break
    * by `seqCol` so the order — and therefore the matrix — is a pure
    * function of the data. */
  def transitions(df: DataFrame, keyCol: String, tsCol: String,
                  seqCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(seqCol))
    // lead a PRESENCE-tagged struct: a bare lead(typeCol) is null both
    // at end-of-stream AND when the next event's type is null, so real
    // X -> null transitions would be silently dropped while null -> Y
    // stayed counted — an asymmetric matrix on nullable type columns
    val counts = df
      .withColumn("__next",
        lead(struct(lit(1).as("__one"), col(typeCol).as("t")), 1).over(w))
      .where(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"),
        col("__next").getField("t").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val wFrom = Window.partitionBy("from_type")
    counts.withColumn("p",
      round(col("n").cast("double") /
        sum(col("n")).over(wFrom).cast("double"), 5))
  }

  /** Session-scoped event paths (the length-n generalization of
    * [[transitions]]): every run of n consecutive events a key makes
    * WITHIN one gap-bounded session becomes a (step1 … stepn) path,
    * counted on the ≤ |event types|ⁿ grain — the product-analytics
    * "top flows" report, and n-gram extraction over behavioral
    * sequences.
    *
    * Scale shape: sessionization (lag + running sum) and the n−1
    * `lead`s all share ONE window spec, so Catalyst plans a single
    * exchange + sort on the high-cardinality key; session boundaries
    * are enforced by comparing the LAST step's session index (the
    * index is monotone per key, so endpoint equality implies the
    * whole run is in-session). The final aggregate lands on the
    * bounded path grain — map-side partial, never a window over the
    * output. */
  def eventPaths(df: DataFrame, keyCol: String, tsCol: String,
                 seqCol: String, typeCol: String, n: Int,
                 gapNanos: Long): DataFrame = {
    require(n >= 2, s"path length $n must be >= 2")
    val sess = sessionize(df, keyCol, tsCol, seqCol, gapNanos)
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(seqCol))
    val steps = (0 until n).map {
      case 0 => col(typeCol).as("step1")
      case i => lead(col(typeCol), i).over(w).as(s"step${i + 1}")
    }
    val endSess = lead(col("session_idx"), n - 1).over(w)
    val paths = sess.select(steps :+ col("session_idx").as("__s")
        :+ endSess.as("__e"): _*)
      .where(col("__e").isNotNull && col("__e") === col("__s"))
      .groupBy((1 to n).map(i => col(s"step$i")): _*)
      .agg(count(lit(1)).as("n"))
    // whole-frame share over the ≤ typesⁿ path grain, ONE pass over
    // the already-aggregated matrix-sized frame. The constant
    // partition key is folded out of the partition spec by Catalyst,
    // so WindowExec logs its single-partition WARN anyway — for THIS
    // frame that is by design (≤ typesⁿ rows, never data-sized), and
    // the entry-point mains scope that logger down with an audit
    // note. The alternative (one-row total cross-joined back) plans
    // the expensive sessionize+lead subtree TWICE — strictly worse.
    paths.withColumn("share",
      round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(lit(0))).cast("double"), 5))
  }

  /** Per-key CUSUM drift detection (Page 1954, "Continuous inspection
    * schemes") — the change-point primitive of telemetry/data-quality
    * monitoring: within each key, events ordered by (tsCol, seqCol)
    * fold the one-sided cumulative sums
    *
    *   hiₙ = max(0, hiₙ₋₁ + (xₙ − target − slack))
    *   loₙ = max(0, loₙ₋₁ + (target − slack − xₙ))
    *
    * from (0, 0). `hi` crossing a threshold h flags a sustained
    * upward level shift (lo: downward) long before any single
    * residual looks anomalous — the sequential complement of
    * [[ewma]]'s per-event surprise. Adds `cusum_hi` / `cusum_lo`.
    *
    * Same scale shape and determinism contract as [[ewma]]: ONE
    * exchange + ONE (key, ts, seq) sort, then a streaming narrow
    * `mapPartitions` fold with two doubles of state per in-flight
    * key; the update is max(0, s + (x − target − slack)) with the
    * subtraction left-associated, so DuckDB `list_reduce` replaying
    * the same literal lambda lands bit-identically on every row. */
  def cusum(df: DataFrame, keyCol: String, tsCol: String, seqCol: String,
            valCol: String, target: Double, slack: Double): DataFrame = {
    // normalize the metric ONCE: getDouble on a null or int-typed
    // value would throw per-row inside the fold; null-metric rows
    // carry no signal for the recurrence and are excluded (valCol
    // arrives as double in the output)
    val sorted = df.withColumn(valCol, col(valCol).cast("double"))
      .where(col(valCol).isNotNull)
      .repartition(col(keyCol))
      .sortWithinPartitions(col(keyCol), col(tsCol), col(seqCol))
    val ki = sorted.schema.fieldIndex(keyCol)
    val vi = sorted.schema.fieldIndex(valCol)
    val outSchema = sorted.schema
      .add("cusum_hi", org.apache.spark.sql.types.DoubleType,
        nullable = false)
      .add("cusum_lo", org.apache.spark.sql.types.DoubleType,
        nullable = false)
    sorted.mapPartitions { it =>
      var cur: Any = null
      var have = false
      var hi = 0.0
      var lo = 0.0
      it.map { r =>
        val k = r.get(ki)
        val v = r.getDouble(vi)
        if (!have || k != cur) { hi = 0.0; lo = 0.0 }
        hi = math.max(0.0, hi + (v - target - slack))
        lo = math.max(0.0, lo + (target - slack - v))
        cur = k
        have = true
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ hi :+ lo)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Per-key event-time EWMA (exponentially weighted moving average):
    * within each key, events ordered by (tsCol, seqCol) fold e₁ = x₁,
    * eₙ = α·xₙ + (1−α)·eₙ₋₁. Adds `ewma` (the smoothed level through
    * this event) and `forecast` (the PREVIOUS level — the one-step
    * prediction this event is judged against; null on each key's
    * first event). xₙ − forecast is the standard anomaly/surprise
    * residual.
    *
    * Scale shape: a sequential recurrence can't be a window SUM, and
    * the closed-form pow-weight rewrite overflows (1−α)⁻ⁿ on long
    * histories — so this is the secondary-sort pattern: ONE exchange
    * on the key + ONE sort of (key, ts, seq), then a streaming
    * narrow `mapPartitions` fold carrying O(1) state per in-flight
    * key — the same cost class as the sessionize window, linear per
    * key at any history length. The fold is α·x + (1−α)·e with
    * (1−α) hoisted, so an engine replaying the same literal
    * recurrence (e.g. DuckDB `list_reduce`) lands bit-identically. */
  def ewma(df: DataFrame, keyCol: String, tsCol: String, seqCol: String,
           valCol: String, alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"bad smoothing alpha $alpha")
    val beta = 1.0 - alpha
    // same metric normalization as [[cusum]]
    val sorted = df.withColumn(valCol, col(valCol).cast("double"))
      .where(col(valCol).isNotNull)
      .repartition(col(keyCol))
      .sortWithinPartitions(col(keyCol), col(tsCol), col(seqCol))
    val ki = sorted.schema.fieldIndex(keyCol)
    val vi = sorted.schema.fieldIndex(valCol)
    val outSchema = sorted.schema
      .add("ewma", org.apache.spark.sql.types.DoubleType, nullable = false)
      .add("forecast", org.apache.spark.sql.types.DoubleType,
        nullable = true)
    sorted.mapPartitions { it =>
      var cur: Any = null
      var have = false
      var e = 0.0
      it.map { r =>
        val k = r.get(ki)
        val v = r.getDouble(vi)
        val fresh = !have || k != cur
        val fc: Any = if (fresh) null else e
        e = if (fresh) v else alpha * v + beta * e
        cur = k
        have = true
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ e :+ fc)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Hour-of-day seasonal decomposition with residual anomaly cells
    * (STL-lite for event streams): events aggregate to (type, day,
    * hour-of-day) cells; the seasonal baseline is each (type, hour)'s
    * mean over all days; a cell is anomalous when its squared
    * residual exceeds 9× the type's mean squared residual (the 3σ
    * rule on the cell grain).
    *
    * Determinism discipline: values quantize ONCE to integer
    * micro-units at the event grain, so every sum is exact int64 and
    * every mean is one correctly-rounded division of exact integers —
    * the residuals are bit-identical cross-engine. Squared residuals
    * FLOOR-QUANTIZE to int64 micro-units before summing (the decayed-
    * mass discipline), so the anomaly test `r²_fx · n > 9 · Σ r²_fx`
    * is pure integer comparison — no order-dependent double sum
    * anywhere. Null values drop (the [[ewma]] normalization).
    *
    * Scale shape: one map-side-partial aggregate onto the bounded
    * (type, day, hour) cell grain; baseline and variance are cell-
    * grain rollups joined back on post-agg keys. Returns one row per
    * cell: (typeCol, day, hour, cnt, cell_mean, seas_mean, r2_fx,
    * anom). */
  def seasonalAnomalies(df: DataFrame, typeCol: String, tsCol: String,
                        valCol: String): DataFrame = {
    val HourNs = 3600L * 1000000000L
    val cells = df.where(col(valCol).isNotNull)
      .select(col(typeCol),
        expr(s"`$tsCol` div ${24 * HourNs}").as("day"),
        pmod(expr(s"`$tsCol` div $HourNs"), lit(24L)).as("hour"),
        floor(col(valCol).cast("double") * lit(1000000.0)).cast("long")
          .as("vfx"))
      .groupBy(typeCol, "day", "hour")
      .agg(count(lit(1)).as("cnt"), sum(col("vfx")).as("sfx"))
    val seas = cells.groupBy(typeCol, "hour")
      .agg(sum(col("cnt")).as("scnt"), sum(col("sfx")).as("ssfx"))
    val withR = cells.join(seas, Seq(typeCol, "hour"))
      .withColumn("cell_mean",
        col("sfx").cast("double") / col("cnt").cast("double"))
      .withColumn("seas_mean",
        col("ssfx").cast("double") / col("scnt").cast("double"))
      // residual in VALUE units (µ-units / 1e6), squared, floor-
      // quantized back to µ-units: ≤ (maxval)²·1e6 per cell, int64-
      // safe summed over the bounded cell grain
      .withColumn("r2_fx", floor(
        ((col("cell_mean") - col("seas_mean")) / lit(1000000.0))
          * ((col("cell_mean") - col("seas_mean")) / lit(1000000.0))
          * lit(1000000.0)).cast("long"))
    val disp = withR.groupBy(typeCol)
      .agg(count(lit(1)).as("n_cells"), sum(col("r2_fx")).as("sum_r2"))
    withR.join(disp, Seq(typeCol))
      .withColumn("anom",
        col("r2_fx") * col("n_cells") > lit(9L) * col("sum_r2"))
      .select(col(typeCol), col("day"), col("hour"), col("cnt"),
        col("cell_mean"), col("seas_mean"), col("r2_fx"), col("anom"))
  }
}
