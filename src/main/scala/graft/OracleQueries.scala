package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.{Densities, Numerics, Transforms}

/** The SURVEY §2.1 declared oracle corpus: every deterministic operator
  * of the reference, expressed (a) through this library's Column
  * builders and (b) as ANSI SQL for the driver's DuckDB check.
  *
  * Conventions (FIXTURES.md §B): inputs drawn from the driver Parquet
  * tables; all constants baked into the query text identically on both
  * sides; every result is a small grouped aggregate with a deterministic
  * ORDER BY; aggregate doubles rounded to 5 dp so the hash compare is
  * insensitive to summation order (Spark partial aggs vs DuckDB serial).
  *
  * Scale posture: each query is a single scan → partial hash-aggregate →
  * final aggregate on a low-cardinality key — the shape that survives a
  * 1000-executor 100 TB run. The kernel queries cross-join against the
  * (small, broadcast) supplier dimension, mirroring how K(z, x) is a
  * broadcast nested-loop product of data against model-sized inducing
  * points.
  */
object OracleQueries {

  private def table(s: SparkSession, dir: String, t: String): DataFrame =
    s.read.parquet(s"$dir/$t.parquet")

  /** x standardization used throughout: (l_quantity − 25)/10. */
  private def xq: Column = (col("l_quantity") - lit(25.0)) / lit(10.0)
  private val xqSql = "(l_quantity - 25.0)/10.0"

  private def grouped(df: DataFrame, value: Column, out: String,
                      key: String = "l_returnflag"): DataFrame =
    df.groupBy(key)
      .agg(count(lit(1)).as("n"), round(avg(value), 5).as(out))
      .orderBy(key)

  private def groupedSql(expr: String, out: String, from: String = "lineitem",
                         key: String = "l_returnflag",
                         where: String = ""): String =
    s"SELECT $key, count(*) AS n, round(avg($expr), 5) AS $out " +
      s"FROM $from $where GROUP BY $key ORDER BY $key"

  // ------------------------------------------------------ density corpus

  private val densGaussian = Q("q_dens_gaussian",
    (s, d) => grouped(table(s, d, "lineitem"),
      Densities.gaussian(col("l_quantity"), lit(25.0), lit(9.0)), "avg_logp"),
    groupedSql("-0.5*ln(2*pi()) - 0.5*ln(9.0) - 0.5*pow(25.0 - l_quantity, 2)/9.0",
      "avg_logp"))

  private val densLognormal = Q("q_dens_lognormal",
    (s, d) => grouped(table(s, d, "lineitem").filter(col("l_quantity") > 0),
      Densities.lognormal(col("l_quantity"), lit(3.0), lit(2.0)), "avg_logp"),
    groupedSql("-0.5*ln(2*pi()) - 0.5*ln(2.0) - 0.5*pow(3.0 - ln(l_quantity), 2)/2.0 - ln(l_quantity)",
      "avg_logp", where = "WHERE l_quantity > 0"))

  private val densBernoulli = Q("q_dens_bernoulli",
    (s, d) => {
      val p = lit(1.0) / (lit(1.0) + exp(-xq))
      val y = (col("l_linenumber") % 2).cast("double")
      grouped(table(s, d, "lineitem"), Densities.bernoulli(p, y), "avg_logp")
    },
    groupedSql(s"CASE WHEN l_linenumber % 2 = 1 THEN ln(1.0/(1.0 + exp(-($xqSql)))) " +
      s"ELSE ln(1.0 - 1.0/(1.0 + exp(-($xqSql)))) END", "avg_logp"))

  private val densPoisson = Q("q_dens_poisson",
    (s, d) => grouped(table(s, d, "lineitem"),
      Densities.poisson(col("l_quantity") / lit(10.0) + lit(0.5),
        col("l_linenumber").cast("double")), "avg_logp"),
    groupedSql("cast(l_linenumber AS DOUBLE)*ln(l_quantity/10.0 + 0.5) " +
      "- (l_quantity/10.0 + 0.5) - lgamma(cast(l_linenumber AS DOUBLE) + 1.0)",
      "avg_logp"))

  private val densExponential = Q("q_dens_exponential",
    (s, d) => grouped(table(s, d, "lineitem"),
      Densities.exponential(col("l_extendedprice") / lit(10000.0) + lit(1.0),
        col("l_quantity")), "avg_logp"),
    groupedSql("-l_quantity/(l_extendedprice/10000.0 + 1.0) - ln(l_extendedprice/10000.0 + 1.0)",
      "avg_logp"))

  private val densGamma = Q("q_dens_gamma",
    (s, d) => grouped(table(s, d, "lineitem").filter(col("l_quantity") > 0),
      Densities.gamma(lit(2.5), lit(10.0), col("l_quantity")), "avg_logp"),
    groupedSql("-2.5*ln(10.0) - lgamma(2.5) + (2.5 - 1.0)*ln(l_quantity) - l_quantity/10.0",
      "avg_logp", where = "WHERE l_quantity > 0"))

  private val densStudentT = Q("q_dens_student_t",
    (s, d) => grouped(table(s, d, "lineitem"),
      Densities.studentT(col("l_quantity"), lit(25.0), lit(10.0),
        col("l_linenumber").cast("double") + lit(1.0)), "avg_logp"),
    groupedSql(
      "lgamma(((cast(l_linenumber AS DOUBLE) + 1.0) + 1.0)*0.5) " +
        "- lgamma((cast(l_linenumber AS DOUBLE) + 1.0)*0.5) " +
        "- 0.5*(ln(pow(10.0, 2)) + ln(cast(l_linenumber AS DOUBLE) + 1.0) + ln(pi())) " +
        "- 0.5*((cast(l_linenumber AS DOUBLE) + 1.0) + 1.0)" +
        "*ln(1.0 + (1.0/(cast(l_linenumber AS DOUBLE) + 1.0))*pow((l_quantity - 25.0)/10.0, 2))",
      "avg_logp"))

  private val densBeta = Q("q_dens_beta",
    (s, d) => grouped(table(s, d, "lineitem"),
      Densities.beta(lit(2.0), lit(5.0), col("l_discount")), "avg_logp"),
    groupedSql(
      "(2.0 - 1.0)*ln(least(greatest(l_discount, 0.000001), 1.0 - 0.000001)) " +
        "+ (5.0 - 1.0)*ln(1.0 - least(greatest(l_discount, 0.000001), 1.0 - 0.000001)) " +
        "+ lgamma(2.0 + 5.0) - lgamma(2.0) - lgamma(5.0)",
      "avg_logp"))

  private val densLaplace = Q("q_dens_laplace",
    (s, d) => grouped(table(s, d, "events"),
      Densities.laplace(lit(100.0), lit(50.0), col("value")), "avg_logp",
      key = "event_type"),
    groupedSql("-abs(100.0 - value)/50.0 - ln(2.0*50.0)", "avg_logp",
      from = "events", key = "event_type"))

  private val densBimixture = Q("q_dens_bimixture",
    (s, d) => grouped(table(s, d, "lineitem"),
      Densities.bimixture(lit(0.3),
        Densities.gaussian(col("l_quantity"), lit(20.0), lit(25.0)),
        Densities.gaussian(col("l_quantity"), lit(40.0), lit(100.0))), "avg_logp"),
    "WITH t AS (SELECT l_returnflag, " +
      "ln(0.3) + (-0.5*ln(2*pi()) - 0.5*ln(25.0) - 0.5*pow(20.0 - l_quantity, 2)/25.0) AS a, " +
      "ln(1.0 - 0.3) + (-0.5*ln(2*pi()) - 0.5*ln(100.0) - 0.5*pow(40.0 - l_quantity, 2)/100.0) AS b " +
      "FROM lineitem) " +
      "SELECT l_returnflag, count(*) AS n, " +
      "round(avg(greatest(a, b) + ln(exp(a - greatest(a, b)) + exp(b - greatest(a, b)))), 5) AS avg_logp " +
      "FROM t GROUP BY l_returnflag ORDER BY l_returnflag")

  // --------------------------------------------- transforms (fwd + roundtrip)

  private def transformQ(name: String, t: Transforms.type => graft.functions.Transform,
                         fwdSql: => String, bwdSql: => String): Q = Q(name,
    (s, d) => {
      val tr = t(Transforms)
      val y = tr.forward(xq)
      val err = abs(tr.backward(y) - xq)
      table(s, d, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(avg(y), 5).as("avg_y"),
          round(max(err), 5).as("max_err"))
        .orderBy("l_returnflag")
    },
    s"WITH t AS (SELECT l_returnflag, $fwdSql AS y, $xqSql AS x FROM lineitem) " +
      "SELECT l_returnflag, count(*) AS n, round(avg(y), 5) AS avg_y, " +
      s"round(max(abs(($bwdSql) - x)), 5) AS max_err " +
      "FROM t GROUP BY l_returnflag ORDER BY l_returnflag")

  private val transExp = transformQ("q_trans_exp", _.Exp(),
    s"exp($xqSql) + 0.000001", "ln(y - 0.000001)")
  private val transLog1pe = transformQ("q_trans_log1pe", _.Log1pe(),
    s"ln(1.0 + exp($xqSql)) + 0.000001", "ln(exp(y - 0.000001) - 1.0)")
  private val transLogistic = transformQ("q_trans_logistic", _.Logistic(7.3, 19.4),
    s"7.3 + (19.4 - 7.3)/(1.0 + exp(-($xqSql)))", "ln((y - 7.3)/(19.4 - y))")

  // ------------------------------------------------------- log-jacobians

  private val logjacExp = Q("q_logjac_exp",
    (s, d) => grouped(table(s, d, "lineitem"),
      Transforms.Exp().logJacobian(xq), "avg_logjac"),
    groupedSql(xqSql, "avg_logjac"))

  private val logjacLog1pe = Q("q_logjac_log1pe",
    (s, d) => grouped(table(s, d, "lineitem"),
      Transforms.Log1pe().logJacobian(xq), "avg_logjac"),
    groupedSql(s"-ln(1.0 + exp(-($xqSql)))", "avg_logjac"))

  private val logjacLogistic = Q("q_logjac_logistic",
    (s, d) => grouped(table(s, d, "lineitem"),
      Transforms.Logistic(7.3, 19.4).logJacobian(xq), "avg_logjac"),
    groupedSql(s"($xqSql) - 2.0*ln(1.0 + exp($xqSql)) + ln(19.4 - 7.3)",
      "avg_logjac"))

  // ----------------------------------------------------------- LSE / clip

  // Two hash aggregates + broadcast join-back of the per-group maxes
  // (see Numerics.logSumExp): both passes are map-side partial, no
  // Window (a partitionBy Window would funnel whole groups onto single
  // tasks — a scale-killer at 100 TB with low-cardinality keys).
  private val lse = Q("q_lse",
    (s, d) => {
      val base = table(s, d, "lineitem")
        .select(col("l_returnflag"), xq.as("x"))
      val maxes = base.groupBy("l_returnflag").agg(max(col("x")).as("mx"))
      base.join(broadcast(maxes), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(max(col("mx")) + log(sum(exp(col("x") - col("mx")))), 5).as("lse"))
        .orderBy("l_returnflag")
    },
    s"WITH x AS (SELECT l_returnflag, $xqSql AS x FROM lineitem), " +
      "t AS (SELECT l_returnflag, x, max(x) OVER (PARTITION BY l_returnflag) AS mx FROM x) " +
      "SELECT l_returnflag, count(*) AS n, " +
      "round(max(mx) + ln(sum(exp(x - mx))), 5) AS lse " +
      "FROM t GROUP BY l_returnflag ORDER BY l_returnflag")

  private val clipQ = Q("q_clip",
    (s, d) => grouped(table(s, d, "lineitem"),
      Numerics.clip((col("l_quantity") - lit(25.0)) * lit(3.0)), "avg_clip"),
    groupedSql("greatest(least((l_quantity - 25.0)*3.0, 50.0), -50.0)", "avg_clip"))

  // ------------------------------------------------- kernel corpus (pairwise)

  // Supplier rows as 2-d points u = (s_acctbal/1000, s_suppkey mod 7),
  // lengthscale l = 2.0; pairwise over a broadcast self-cross-join — the
  // distributed form of the reference's K(X, X2) gram construction
  // (`gp/kernels.py:54-84`): big side stays partitioned, small side is
  // broadcast, no shuffle.
  private def supPoints(s: SparkSession, d: String, pfx: String): DataFrame =
    table(s, d, "supplier").select(
      col("s_suppkey").as(s"${pfx}_key"),
      col("s_nationkey").as(s"${pfx}_nat"),
      (col("s_acctbal") / lit(1000.0)).as(s"${pfx}_u1"),
      (col("s_suppkey") % 7).cast("double").as(s"${pfx}_u2"))

  private val supSqlPts =
    "(SELECT s_suppkey AS k, s_nationkey AS nat, s_acctbal/1000.0 AS u1, " +
      "cast(s_suppkey % 7 AS DOUBLE) AS u2 FROM supplier)"

  private def sqdistCol(sign: Double): Column =
    pow((col("a_u1") - lit(sign) * col("b_u1")) / lit(2.0), 2) +
      pow((col("a_u2") - lit(sign) * col("b_u2")) / lit(2.0), 2)

  private def sqdistSql(sign: String): String =
    s"pow((a.u1 $sign b.u1)/2.0, 2) + pow((a.u2 $sign b.u2)/2.0, 2)"

  private def kernQ(name: String, value: => Column, valueSql: => String,
                    out: String): Q = Q(name,
    (s, d) => supPoints(s, d, "a")
      .crossJoin(broadcast(supPoints(s, d, "b")))
      .groupBy(col("a_key").as("s_suppkey"))
      .agg(count(lit(1)).as("n"), round(avg(value), 5).as(out))
      .orderBy("s_suppkey"),
    s"SELECT a.k AS s_suppkey, count(*) AS n, round(avg($valueSql), 5) AS $out " +
      s"FROM $supSqlPts a CROSS JOIN $supSqlPts b " +
      "GROUP BY a.k ORDER BY a.k")

  private val kernSqdist = kernQ("q_kern_sqdist", sqdistCol(1.0),
    sqdistSql("-"), "avg_sqdist")

  private val kernRbf = kernQ("q_kern_rbf", exp(lit(-0.5) * sqdistCol(1.0)),
    s"exp(-0.5*(${sqdistSql("-")}))", "avg_k")

  private val kernCsym = kernQ("q_kern_csym",
    exp(lit(-0.5) * sqdistCol(1.0)) + exp(lit(-0.5) * sqdistCol(-1.0)),
    s"exp(-0.5*(${sqdistSql("-")})) + exp(-0.5*(${sqdistSql("+")}))", "avg_k")

  // √3 inlined as the SAME double literal on both engines (Kernels
  // .UnitMatern32 semantics: r = sqrt(sqdist + 1e-12))
  private val Sqrt3 = math.sqrt(3.0)
  private val kernMatern32 = kernQ("q_kern_matern32", {
    val r = sqrt(sqdistCol(1.0) + lit(1e-12))
    (lit(1.0) + lit(Sqrt3) * r) * exp(lit(-Sqrt3) * r)
  }, s"(1.0 + $Sqrt3 * sqrt(${sqdistSql("-")} + 1e-12)) * " +
    s"exp(-$Sqrt3 * sqrt(${sqdistSql("-")} + 1e-12))", "avg_k")

  private val kernLinear = kernQ("q_kern_linear",
    (col("a_u1") / lit(2.0)) * (col("b_u1") / lit(2.0)) +
      (col("a_u2") / lit(2.0)) * (col("b_u2") / lit(2.0)),
    "(a.u1/2.0)*(b.u1/2.0) + (a.u2/2.0)*(b.u2/2.0)", "avg_k")

  // √5 as the same double literal on both engines (Kernels
  // .UnitMatern52 semantics: r = sqrt(sqdist + 1e-12))
  private val Sqrt5 = math.sqrt(5.0)
  private val kernMatern52 = kernQ("q_kern_matern52", {
    val a = lit(Sqrt5) * sqrt(sqdistCol(1.0) + lit(1e-12))
    (lit(1.0) + a + a * a / lit(3.0)) * exp(-a)
  }, s"(1.0 + $Sqrt5 * sqrt(${sqdistSql("-")} + 1e-12) + " +
    s"pow($Sqrt5 * sqrt(${sqdistSql("-")} + 1e-12), 2) / 3.0) * " +
    s"exp(-$Sqrt5 * sqrt(${sqdistSql("-")} + 1e-12))", "avg_k")

  // Rational quadratic at α = 1.5 (Kernels.UnitRQ semantics)
  private val RqAlpha = 1.5
  private val kernRq = kernQ("q_kern_rq",
    pow(lit(1.0) + sqdistCol(1.0) / lit(2.0 * RqAlpha), lit(-RqAlpha)),
    s"pow(1.0 + (${sqdistSql("-")}) / ${2.0 * RqAlpha}, -$RqAlpha)",
    "avg_k")

  // Periodic kernel (MacKay): raw coordinate differences through the
  // sin warp, period 3, ℓ = 1.5; π inlined as the same double literal
  private val PerP = 3.0
  private val PerEll = 1.5
  private val kernPeriodic = kernQ("q_kern_periodic", {
    val s1 = sin(lit(math.Pi) * (col("a_u1") - col("b_u1")) / lit(PerP))
    val s2 = sin(lit(math.Pi) * (col("a_u2") - col("b_u2")) / lit(PerP))
    exp(lit(-2.0) * (s1 * s1 + s2 * s2) / lit(PerEll * PerEll))
  }, s"exp(-2.0 * (pow(sin(${math.Pi} * (a.u1 - b.u1) / $PerP), 2) + " +
    s"pow(sin(${math.Pi} * (a.u2 - b.u2) / $PerP), 2)) / " +
    s"${PerEll * PerEll})", "avg_k")

  private val kernCsymDiag = Q("q_kern_csym_diag",
    (s, d) => supPoints(s, d, "a")
      .groupBy(col("a_nat").as("s_nationkey"))
      .agg(count(lit(1)).as("n"),
        round(avg(lit(1.0) + exp(lit(-2.0) *
          (pow(col("a_u1") / lit(2.0), 2) + pow(col("a_u2") / lit(2.0), 2)))), 5)
          .as("avg_kdiag"))
      .orderBy("s_nationkey"),
    s"SELECT a.nat AS s_nationkey, count(*) AS n, " +
      "round(avg(1.0 + exp(-2.0*(pow(a.u1/2.0, 2) + pow(a.u2/2.0, 2)))), 5) AS avg_kdiag " +
      s"FROM $supSqlPts a GROUP BY a.nat ORDER BY a.nat")

  // ------------------------------------------------- sparse GP (Nyström)

  // Deterministic check of the DISTRIBUTED sparse-GP path: the Nyström
  // residual diag(Knn − Knm Kmm⁻¹ Kmn) over the supplier feature points
  // with m=2 fixed inducing points z=[(0,0),(1,1)], lengthscale 2. The
  // Spark side runs the real SparseGP per-partition gram/gemm kernel;
  // the SQL literals (Lm⁻¹ entries) are generated from the same Breeze
  // Cholesky, so both sides share identical constants to full double
  // precision. Built on first use: registering the query loads no
  // Breeze.
  private lazy val nystromGp: graft.gp.SparseGP = {
    import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
    new graft.gp.SparseGP(graft.gp.Kernels.UnitRBF(BDV(2.0)),
      BDM((0.0, 0.0), (1.0, 1.0)))
  }
  private val gpNystrom = Q("q_gp_nystrom",
    (s, d) => {
      val pts = table(s, d, "supplier").select(
        col("s_nationkey"),
        (col("s_acctbal") / lit(1000.0)).as("u1"),
        (col("s_suppkey") % 7).cast("double").as("u2"))
      nystromGp.nystromResidualColumn(pts, Seq("u1", "u2"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"),
          round(avg(col("gp_resid")), 5).as("avg_resid"))
        .orderBy("s_nationkey")
    }, {
      val li = nystromGp.lmInv // [2,2] lower-tri inverse
      def lit17(v: Double): String = "%.17g".format(v)
      val k1Sql = "exp(-0.5*(pow(u1/2.0, 2) + pow(u2/2.0, 2)))"
      val k2Sql = "exp(-0.5*(pow((u1 - 1.0)/2.0, 2) + pow((u2 - 1.0)/2.0, 2)))"
      "WITH pts AS (SELECT s_nationkey, s_acctbal/1000.0 AS u1, " +
        "cast(s_suppkey % 7 AS DOUBLE) AS u2 FROM supplier), " +
        s"t AS (SELECT s_nationkey, $k1Sql AS k1, $k2Sql AS k2 FROM pts), " +
        s"w AS (SELECT s_nationkey, (${lit17(li(0, 0))})*k1 AS w1, " +
        s"(${lit17(li(1, 0))})*k1 + (${lit17(li(1, 1))})*k2 AS w2 FROM t) " +
        "SELECT s_nationkey, count(*) AS n, " +
        "round(avg(1.0 - (w1*w1 + w2*w2)), 5) AS avg_resid " +
        "FROM w GROUP BY s_nationkey ORDER BY s_nationkey"
    })

  // ------------------------------------------------------------ KL / MVN

  private val klDiagNormal = Q("q_kl_diag_normal",
    (s, d) => grouped(table(s, d, "lineitem"),
      Numerics.klDiagNormal(xq, lit(-0.5) - col("l_discount") * lit(5.0)),
      "avg_kl"),
    groupedSql(
      s"0.5*(-(2.0*(-0.5 - l_discount*5.0)) - 1.0 + exp(2.0*(-0.5 - l_discount*5.0)) + pow($xqSql, 2))",
      "avg_kl"))

  // 2-d MVN with fixed Cholesky L = [[2, 0], [0.5, 1.5]], mu = (0, 0.5),
  // x = (xq, l_discount*10). Forward substitution is unrolled into column
  // arithmetic — same math as Densities.scalar.multivariateNormal
  // (reference `densities.py:75-91`).
  private val mvnLogp = Q("q_mvn_logp",
    (s, d) => {
      val a1 = xq / lit(2.0)
      val a2 = (col("l_discount") * lit(10.0) - lit(0.5) - lit(0.5) * a1) / lit(1.5)
      grouped(table(s, d, "lineitem"),
        lit(-math.log(2.0 * math.Pi)) - log(lit(2.0)) - log(lit(1.5)) -
          lit(0.5) * (a1 * a1 + a2 * a2), "avg_logp")
    },
    "WITH t AS (SELECT l_returnflag, " +
      s"(($xqSql))/2.0 AS a1, " +
      s"(l_discount*10.0 - 0.5 - 0.5*((($xqSql))/2.0))/1.5 AS a2 FROM lineitem) " +
      "SELECT l_returnflag, count(*) AS n, " +
      "round(avg(-ln(2*pi()) - ln(2.0) - ln(1.5) - 0.5*(a1*a1 + a2*a2)), 5) AS avg_logp " +
      "FROM t GROUP BY l_returnflag ORDER BY l_returnflag")

  // ------------------------------------------------- model-style queries

  // Deterministic ELBO data term at FIXED posterior means (draws = 0):
  // the Bayesian-linear-regression likelihood from the minimum
  // end-to-end slice (notebooks/Henbun_structure2.ipynb) evaluated as a
  // single scan+aggregate. Constants: a=0.2, b=0.1, noise σ²=1.5.
  private val modelLoglik = Q("q_model_loglik",
    (s, d) => {
      val x = (col("l_quantity") - lit(25.5)) / lit(14.4)
      val y = (col("l_extendedprice") / lit(10000.0) - lit(3.8)) / lit(2.5)
      val fit = lit(0.2) + lit(0.1) * x
      grouped(table(s, d, "lineitem"),
        Densities.gaussian(y, fit, lit(1.5)), "avg_logp")
    },
    groupedSql(
      "-0.5*ln(2*pi()) - 0.5*ln(1.5) - 0.5*pow((0.2 + 0.1*((l_quantity - 25.5)/14.4)) " +
        "- ((l_extendedprice/10000.0 - 3.8)/2.5), 2)/1.5",
      "avg_logp"))

  // Density over a dimension join: the fact table (orders) keeps its
  // partitioning, the model-sized dimension (customer) broadcasts —
  // the grouped-by-entity likelihood shape of any hierarchical model
  // (per-segment observation models). Predicate/column pruning reach
  // both scans.
  private val densHierJoin = Q("q_dens_hier_join",
    (s, d) => {
      val o = table(s, d, "orders").select(col("o_custkey"),
        (col("o_totalprice") / lit(100000.0)).as("x"))
      val c = table(s, d, "customer").select(col("c_custkey"),
        col("c_mktsegment"))
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          round(avg(Densities.gaussian(col("x"), lit(1.5), lit(1.0))), 5)
            .as("avg_logp"))
        .orderBy("c_mktsegment")
    },
    "SELECT c_mktsegment, count(*) AS n, " +
      "round(avg(-0.5*ln(2*pi()) - 0.5*ln(1.0) " +
      "- 0.5*pow(1.5 - o_totalprice/100000.0, 2)/1.0), 5) AS avg_logp " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "GROUP BY c_mktsegment ORDER BY c_mktsegment")

  // --------------------------------------------------------- split counts

  /** 90/10 split sizing policy (reference `model.py:134-145`): test =
    * floor(0.1·n), train = n − test. */
  private val splitCount = Q("q_split_count",
    (s, d) => table(s, d, "lineitem").agg(count(lit(1)).as("cnt"))
      .select(floor(lit(0.1) * col("cnt")).cast("long").as("test_n"),
        (col("cnt") - floor(lit(0.1) * col("cnt"))).cast("long").as("train_n")),
    "SELECT cast(floor(0.1*count(*)) AS BIGINT) AS test_n, " +
      "cast(count(*) - floor(0.1*count(*)) AS BIGINT) AS train_n FROM lineitem")

  // ---------------------------------------------------------------- export

  val all: Seq[Q] = Seq(
    densGaussian, densLognormal, densBernoulli, densPoisson, densExponential,
    densGamma, densStudentT, densBeta, densLaplace, densBimixture,
    transExp, transLog1pe, transLogistic,
    logjacExp, logjacLog1pe, logjacLogistic,
    lse, clipQ,
    kernSqdist, kernRbf, kernCsym, kernMatern32, kernMatern52, kernRq,
    kernPeriodic, kernLinear, kernCsymDiag, gpNystrom,
    klDiagNormal, mvnLogp, modelLoglik, densHierJoin, splitCount)
}
