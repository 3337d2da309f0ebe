package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.autodiff.{Expr, ExprFns}
import graft.core.{Module, Variational}
import graft.data.DataSet
import graft.optimize.{Elbo, Scoring}

/** Learned document-quality scoring — the bridge between the two
  * halves of the library: the variational inference engine TRAINS a
  * Bayesian logistic regression over cheap deterministic text
  * features, and the trained posterior scores the corpus in one
  * linear scan (CCNet/fastText-style quality classification with
  * calibrated uncertainty instead of point weights).
  *
  * The feature map is exact column arithmetic shared token-for-token
  * with the DuckDB oracle, so scoring under FIXED weights is
  * cross-engine verifiable; training itself is stochastic and is
  * verified statistically (convergence + separation, see
  * QualityClassifierSpec).
  *
  * Scale shape: features and scores are pure per-row maps (no
  * shuffle); training runs the [[graft.optimize.Elbo]]
  * treeAggregate path — per-partition partial gradients against
  * broadcast θ, driver-side Adam — the same 1000-executor shape as
  * every other model in the library. */
object QualityClassifier {

  /** Feature names in weight-slot order (bias first). */
  val FeatureCols: Seq[String] = Seq("f_len", "f_stop", "f_punct", "f_wl")

  /** Bounded length score: min(chars/200, 1). */
  def featLen(text: Column): Column =
    least(length(text).cast("double") / lit(200.0), lit(1.0))

  /** Stopword ratio over words (all languages pooled). */
  def featStop(text: Column): Column = TextAnalysis.stopwordRatio(text)

  /** Punctuation ratio over non-space characters. */
  def featPunct(text: Column): Column = TextAnalysis.punctRatio(text)

  /** Mean word length under the single-space convention, scaled by
    * 1/5 into the unit-ish range the other features live in. */
  def featWl(text: Column): Column = {
    val nw = TextAnalysis.wordCount(text).cast("double")
    (length(text).cast("double") - (nw - lit(1.0))) / nw / lit(5.0)
  }

  /** Attach the feature columns. */
  def withFeatures(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("f_len", featLen(col(textCol)))
      .withColumn("f_stop", featStop(col(textCol)))
      .withColumn("f_punct", featPunct(col(textCol)))
      .withColumn("f_wl", featWl(col(textCol)))

  /** Weak-supervision label (default: the Gopher composite rule as
    * 0/1) — the classifier distills a hard rule set into a smooth,
    * calibrated score. Pass any boolean column to distill a
    * different signal. */
  def withLabel(df: DataFrame, textCol: String,
                rule: Column = null): DataFrame = {
    val r = if (rule != null) rule
      else TextAnalysis.gopherFlags(col(textCol)).getField("keep")
    df.withColumn("label", r.cast("double"))
  }

  /** Score under FIXED weights (bias +: feature weights): sigmoid of
    * the linear form — a pure codegen'd map, identical formula to
    * [[ScoreSql]]. Input must already carry [[FeatureCols]]. */
  def score(w: Array[Double]): Column = {
    require(w.length == FeatureCols.length + 1,
      s"need ${FeatureCols.length + 1} weights (bias first)")
    val z = FeatureCols.zipWithIndex.foldLeft(lit(w(0)): Column) {
      case (acc, (f, i)) => acc + lit(w(i + 1)) * col(f)
    }
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** DuckDB rendering of the features + [[score]] over a text
    * column, same constants and operation order. */
  def ScoreSql(w: Array[Double], t: String = "text"): String = {
    require(w.length == FeatureCols.length + 1,
      s"need ${FeatureCols.length + 1} weights (bias first)")
    val wc = s"(length($t) - length(replace($t, ' ', '')) + 1)"
    val stopSum = TextAnalysis.LangPriority.map { lang =>
      val lst = TextAnalysis.Stopwords(lang).map(s => s"'$s'").mkString(", ")
      s"len(list_filter(string_split($t, ' '), " +
        s"w -> list_contains([$lst], w)))"
    }.mkString(" + ")
    val fLen = s"least(length($t)::DOUBLE / 200.0, 1.0)"
    val fStop = s"(($stopSum)::DOUBLE / $wc::DOUBLE)"
    val fPunct = s"(len(regexp_extract_all($t, '[^A-Za-z0-9 ]'))::DOUBLE" +
      s" / greatest(length(replace($t, ' ', ''))::DOUBLE, 1.0))"
    val fWl = s"((length($t)::DOUBLE - ($wc::DOUBLE - 1.0)) / " +
      s"$wc::DOUBLE / 5.0)"
    val feats = Seq(fLen, fStop, fPunct, fWl)
    val z = feats.zipWithIndex.foldLeft(s"${w(0)}") {
      case (acc, (f, i)) => s"$acc + ${w(i + 1)} * $f"
    }
    s"(1.0 / (1.0 + exp(-($z))))"
  }

  /** Reliability table for a scored corpus: rows binned by predicted
    * score into `bins` equal-width buckets, per-bucket count, mean
    * confidence, and empirical positive rate — the inputs to expected
    * calibration error (ECE = Σ n_b/N·|conf_b − acc_b|, Guo et al.
    * 2017). A learned filter whose scores drift from observed rates
    * mis-budgets every downstream threshold; this is the one-scan
    * check. Pure groupBy over a per-row bucket — map-side partial,
    * ≤ `bins` result rows. */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
                      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"need >= 2 bins, got $bins")
    // clamp BOTH ends: a raw margin/logit column outside [0,1] must
    // land in the edge bins, never mint phantom negative bin ids
    val b = least(greatest(floor(col(scoreCol) * lit(bins.toDouble)),
      lit(0L)), lit((bins - 1).toLong))
    df.groupBy(b.as("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(col(scoreCol)), 5).as("conf"),
        round(avg(col(labelCol).cast("double")), 5).as("acc"),
        round(abs(avg(col(scoreCol)) -
          avg(col(labelCol).cast("double"))), 5).as("gap"))
      .orderBy("bin")
  }

  /** Trained posterior over the weight vector. */
  final case class Trained(module: Module, elbo: Elbo,
                           names: Seq[String]) {
    /** Posterior means in slot order (bias first). */
    def meanWeights: Array[Double] =
      names.map(n => module.variationals.toMap.apply(n).qMu.value(0)).toArray
    /** Posterior scales (stddevs) in slot order. */
    def scaleWeights: Array[Double] =
      names.map(n =>
        math.exp(module.variationals.toMap.apply(n).qSqrt.value(0))).toArray
    /** Posterior-mean score column attached via the shared scoring
      * sweep (θ in closure, one scan, zero driver involvement). */
    def attachScore(df: DataFrame, outCol: String): DataFrame =
      Scoring.attach(elbo, df, ctx => {
        val z = FeatureCols.zipWithIndex.foldLeft(
          ctx.sample1(module.variationals.toMap.apply("w_bias"))) {
          case (acc, (f, i)) =>
            acc + ctx.sample1(module.variationals.toMap.apply(s"w$i")) *
              ctx.in(f)
        }
        Expr.sigmoid(z)
      }, outCol)
  }

  /** Train the Bayesian logistic regression on a labeled feature
    * frame (from [[withFeatures]] + [[withLabel]]): weights get
    * Normal(0,1)-anchored variational posteriors, the likelihood is
    * the Bernoulli log-density of the sigmoid'd linear form —
    * reference densities.bernoulli through the reparameterization
    * trick, minibatch Adam ascent. */
  def train(df: DataFrame, maxiter: Int = 300, lr: Double = 0.05,
            minibatchSize: Int = -1, seed: Long = 0L): Trained = {
    val root = new Module
    val names = "w_bias" +: FeatureCols.indices.map(i => s"w$i")
    names.foreach(n => root.add(n, new Variational.Normal(Seq(1))))
    val vs = root.variationals.toMap
    val ds = new DataSet(df.select(
      (FeatureCols :+ "label").map(col): _*), seed = seed)
    val elbo = new Elbo(root, ds, FeatureCols :+ "label", ctx => {
      val z = FeatureCols.zipWithIndex.foldLeft(
        ctx.sample1(vs("w_bias"))) { case (acc, (f, i)) =>
        acc + ctx.sample1(vs(s"w$i")) * ctx.in(f)
      }
      ExprFns.bernoulli(Expr.sigmoid(z), ctx.in("label"))
    }, seed = seed)
    elbo.optimize(maxiter = maxiter, minibatchSize = minibatchSize, lr = lr)
    Trained(root, elbo, names)
  }
}
