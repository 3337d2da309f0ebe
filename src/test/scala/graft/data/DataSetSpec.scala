package graft.data

import graft.SparkTestSession
import graft.core.Settings
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The block store and its sampler: `DataSet.sampleBlocks` must draw
  * exactly the rows `RDD.sample(withReplacement = true, ...)` draws over
  * the row vectors — same rows, same order, same partitions — because
  * every Elbo minibatch comes from it and the trajectories depend on it. */
class DataSetSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  // 24,000 rows in three partitions, the last one empty (as in the
  // perfbench train data, whose split has an empty partition). Columns
  // of every numeric type the projector reads; 18 columns keep a block
  // to 1,820 rows, so each non-empty partition spans several blocks.
  private lazy val frame: DataFrame = {
    val base = spark.range(0, 36000, 1, 3).where(col("id") < 24000)
    val extra = (0 until 14).map(j =>
      (col("id") * (j + 3) % 1009 / 7.0).as(s"c$j"))
    base.select(Seq((col("id") / 3.0).as("x"),
      (col("id") % 97).cast("int").as("i"),
      (col("id") * 31).as("l"),
      (col("id") / 11.0).cast("float").as("f")) ++ extra: _*)
  }
  private lazy val cols = frame.columns.toSeq
  private val narrow = Seq("x", "f")

  /** The per-row path the blocks replace: each row of a split projected
    * to its own array, then `RDD.sample`d. */
  private def reference(ds: DataSet, cs: Seq[String], training: Boolean,
                        f32: Boolean, frac: Double, seed: Long) = {
    val write = RowVec.writer(cs, f32)
    val n = cs.length
    (if (training) ds.train else ds.test).select(cs.map(col): _*).rdd
      .map { r => val a = new Array[Double](n); write(r, a, 0); a }
      .sample(withReplacement = true, frac, seed)
      .glom().collect().map(_.map(_.toSeq).toSeq).toSeq
  }

  private def sampled(ds: DataSet, cs: Seq[String], training: Boolean,
                      frac: Double, seed: Long) =
    sampledEach(ds, cs, training, frac, Seq(seed)).head

  /** One `sampleBlocks` call over all `seeds`: each seed's rows, by
    * partition. */
  private def sampledEach(ds: DataSet, cs: Seq[String], training: Boolean,
                          frac: Double, seeds: Seq[Long]) = {
    val parts = ds.sampleBlocks(cs, training, frac, seeds).glom().collect()
    seeds.indices.map(j => parts.map(_.filter(_._1 == j)
      .flatMap(b => DataSet.rows(b._2, cs.length)).map(_.toSeq).toSeq).toSeq)
  }

  private def check(ds: DataSet, cs: Seq[String], training: Boolean,
                    f32: Boolean): Unit = {
    val total = if (training) ds.trainCount else ds.testCount
    // 0.1 and 0.3 take the gap sampler, 0.6 the Poisson draw per row,
    // 1.7 more draws than rows
    val seeds = Seq(0L, 1L, 2L, 7919L * 3)
    for (frac <- Seq(0.1, 0.3, 0.6, 1.7)) {
      // all seeds in one call, as a fused Elbo job samples its groups
      val together = sampledEach(ds, cs, training, frac, seeds)
      for ((seed, j) <- seeds.zipWithIndex) {
        val want = reference(ds, cs, training, f32, frac, seed)
        val got = sampled(ds, cs, training, frac, seed)
        assert(got.length == want.length, "partition count")
        assert(got == want, s"frac $frac seed $seed (training=$training)")
        assert(together(j) == want,
          s"frac $frac seed $seed, index $j of a multi-seed call")
        val rows = got.map(_.length).sum
        assert(math.abs(rows - frac * total) < 6 * math.sqrt(frac * total) + 1,
          s"$rows rows for frac $frac of $total")
      }
    }
    val viewed = (if (training) ds.trainVectors(cs) else ds.testVectors(cs))
      .sample(withReplacement = true, 0.25, 5L).collect().map(_.toSeq).toSeq
    assert(viewed == sampled(ds, cs, training, 0.25, 5L).flatten)
  }

  test("sampleBlocks returns RDD.sample's rows in order: several seeds, " +
    "gap / Poisson / >1 fractions, an empty partition, multi-block " +
    "partitions, both splits") {
    val ds = new DataSet(frame, seed = 3)
    try {
      val blocks = ds.blocks(cols, training = true).glom().collect()
      assert(blocks.length == 3 && blocks(2).isEmpty, "third partition empty")
      assert(blocks.take(2).forall(_.length > 2), "multi-block partitions")
      assert(blocks.flatten.map(DataSet.rows(_, cols.length).length).sum ==
        ds.trainCount)
      check(ds, cols, training = true, f32 = false)
      check(ds, cols, training = false, f32 = false)
      check(ds, Seq("x", "l"), training = true, f32 = false)
      assert(ds.sampleBlocks(cols, true, 0.0, Seq(1L, 2L)).count() == 0)
      assert(ds.localTrain(cols).map(_.toSeq).toSeq ==
        ds.train.select(cols.map(col): _*).collect()
          .map(r => cols.indices.map(i => r.get(i) match {
            case d: java.lang.Double => d.doubleValue()
            case v: java.lang.Float => v.toDouble
            case v: java.lang.Long => v.toDouble
            case v: java.lang.Integer => v.toDouble
          })).toSeq)
    } finally ds.unpersist()
  }

  test("float32 mode: blocks and samples carry the narrowed values") {
    val ds = Settings.withSettings(Settings(floatType = Settings.Float32)) {
      new DataSet(frame, seed = 3)
    }
    try {
      check(ds, narrow, training = true, f32 = true)
      val xs = ds.localTrain(narrow).flatten
      assert(xs.forall(v => v.toFloat.toDouble == v))
      assert(ds.train.select("x").collect().exists(r =>
        r.getDouble(0).toFloat.toDouble != r.getDouble(0)),
        "the float64 data is not already float32-representable")
    } finally ds.unpersist()
  }

  test("zero-column projections still count their rows") {
    val ds = new DataSet(frame, seed = 3)
    try {
      assert(ds.localTrain(Nil).length == ds.trainCount)
      assert(ds.trainVectors(Nil).count() == ds.trainCount)
      val got = ds.sampleBlocks(Nil, true, 0.3, Seq(4L)).values.collect()
        .map(DataSet.rows(_, 0).length).sum
      assert(got == ds.trainVectors(Nil)
        .sample(withReplacement = true, 0.3, 4L).count())
    } finally ds.unpersist()
  }
}
