package graft.data

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.random.PoissonSampler

/** Data plane: `Data` / `MinibatchData` + the train/test Indexer
  * (reference `Henbun/param.py:676-739`, `Henbun/model.py:126-153`).
  *
  * Reference policy: 90/10 shuffled split; minibatches drawn uniformly
  * WITH replacement per step. Spark-first mapping: seeded
  * `randomSplit` (the split is a lazy, partition-parallel filter — no
  * shuffle, no driver materialization) and seeded
  * `sample(withReplacement = true)` per step — both scale to any data
  * size because they are row-local operations.
  */
final class DataSet(df: DataFrame, seed: Long = 0L,
                    testFraction: Double = 0.1) {

  /** Float width sampled at construction (reference: data cast to the
    * current `float_type` at feed, `param.py:689-699`). Float32 mode
    * truncates projected vectors to float32-representable values. */
  private val narrowF32: Boolean =
    graft.core.Settings.current.floatType eq graft.core.Settings.Float32

  /** Cached full data (reference `Data`: fed whole each run). */
  val data: DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  private val splits = data.randomSplit(Array(1.0 - testFraction,
    testFraction), seed)

  val train: DataFrame = splits(0).persist(StorageLevel.MEMORY_AND_DISK)
  val test: DataFrame = splits(1).persist(StorageLevel.MEMORY_AND_DISK)

  lazy val trainCount: Long = train.count()
  lazy val testCount: Long = test.count()

  /** Uniform-with-replacement minibatch for one optimization step
    * (reference `train_index`, `model.py:147-149`). `step` perturbs the
    * seed so every iteration is fresh AND replayable (SURVEY §7(c)).
    * With replacement, fractions above 1 are valid — a request larger
    * than the split delivers ~minibatchSize draws, not a capped
    * ~count-row Poisson(1) pass. */
  def minibatch(minibatchSize: Int, step: Int): DataFrame = {
    val frac = minibatchSize.toDouble / math.max(1L, trainCount)
    train.sample(withReplacement = true, frac,
      DataSet.sampleSeed(seed, step, training = true))
  }

  /** Held-out batch (reference `test_index`, `model.py:151-153`). */
  def testBatch(minibatchSize: Int, step: Int): DataFrame = {
    val frac = minibatchSize.toDouble / math.max(1L, testCount)
    test.sample(withReplacement = true, frac,
      DataSet.sampleSeed(seed, step, training = false))
  }

  // ---- projected columns, keyed by (column list, split): each is
  // stored ONCE as row-major blocks ([[pack]]), so multiple Elbo
  // builds over the same data (hyperparameter re-linearization rounds,
  // GpExpr.trainSparse1d) share one persisted projection / one driver
  // collect, and a sampled minibatch moves a few large arrays instead
  // of one object per row.
  private val blockCache = scala.collection.mutable.Map
    .empty[(Seq[String], Boolean), RDD[Array[Double]]]
  private val localCache = scala.collection.mutable.Map
    .empty[(Seq[String], Boolean), Array[Array[Double]]]

  /** Input columns of a split projected once to persisted row-major
    * blocks: partitions and row order are the split's. */
  def blocks(cols: Seq[String], training: Boolean): RDD[Array[Double]] =
    blockCache.synchronized {
      blockCache.getOrElseUpdate((cols, training),
        pack(if (training) train else test, cols)
          .persist(StorageLevel.MEMORY_AND_DISK))
    }

  /** `df`'s `cols` as row-major blocks (unpersisted), honoring this
    * DataSet's float width — for per-step frames such as augmented
    * batches. */
  def pack(df: DataFrame, cols: Seq[String]): RDD[Array[Double]] = {
    val write = RowVec.writer(cols, narrowF32)
    val stride = DataSet.stride(cols.length)
    df.select(cols.map(org.apache.spark.sql.functions.col): _*).rdd
      .mapPartitions(rows => DataSet.packRows(rows, stride, write),
        preservesPartitioning = true)
  }

  /** Exactly the rows of `trainVectors(cols)` (or `testVectors`)
    * `.sample(withReplacement = true, frac, seed)`, in the same order
    * and partitions, as row-major blocks. Mirrors
    * `PartitionwiseSampledRDD`: partition seeds are the successive
    * `nextLong`s of `java.util.Random(seed)`, and one `PoissonSampler`
    * per partition draws one count per row position across all of the
    * partition's blocks. */
  def sampleBlocks(cols: Seq[String], training: Boolean, frac: Double,
                   seed: Long): RDD[Array[Double]] = {
    require(frac >= 0.0, s"Fraction must be nonnegative, but got $frac")
    val src = blocks(cols, training)
    val rnd = new java.util.Random(seed)
    val seeds = Array.fill(src.getNumPartitions)(rnd.nextLong())
    val stride = DataSet.stride(cols.length)
    src.mapPartitionsWithIndex({ (p, in) =>
      val sampler = new PoissonSampler[Any](frac)
      sampler.setSeed(seeds(p))
      new DataSet.Gather(in, stride, sampler)
    }, preservesPartitioning = true)
  }

  /** Input columns as one (unpersisted) Array[Double] per row, viewed
    * over the persisted blocks. */
  def trainVectors(cols: Seq[String]): RDD[Array[Double]] =
    vectors(cols, training = true)
  def testVectors(cols: Seq[String]): RDD[Array[Double]] =
    vectors(cols, training = false)

  private def vectors(cols: Seq[String], training: Boolean) = {
    val width = cols.length
    blocks(cols, training).mapPartitions(
      _.flatMap(b => DataSet.rows(b, width)), preservesPartitioning = true)
  }

  /** Driver-collected vectors (tiny-data fast path; caller gates on
    * row count). MUST NOT be mutated. */
  def localTrain(cols: Seq[String]): Array[Array[Double]] = local(cols, true)
  def localTest(cols: Seq[String]): Array[Array[Double]] = local(cols, false)

  private def local(cols: Seq[String], training: Boolean) =
    localCache.synchronized {
      localCache.getOrElseUpdate((cols, training),
        DataSet.allRows(blocks(cols, training).collect(), cols.length))
    }

  def unpersist(): Unit = {
    data.unpersist(); train.unpersist(); test.unpersist()
    blockCache.synchronized {
      blockCache.values.foreach(_.unpersist()); blockCache.clear()
    }
    localCache.synchronized(localCache.clear())
  }
}

object DataSet {
  /** THE seed keying for batch sampling — one home for the
    * train/test stream split (7919-keyed steps; the 104729 offset
    * selects the test stream). Shared by [[DataSet.minibatch]],
    * [[DataSet.testBatch]], and every Elbo batch path, so the
    * "crossing an execution-path boundary never changes which rows
    * an evaluation sees" contract is structural, not convention
    * (a third hand-copied variant is exactly how it drifted once). */
  def sampleSeed(seed: Long, step: Int, training: Boolean): Long =
    seed + 7919L * (step + 1) + (if (training) 0L else 104729L)

  /** Doubles per block: rows of a block fill at most 256 KB. A fixed
    * bound, so a block stays cache-sized and a partition of any size
    * streams through bounded arrays. */
  private val BlockCells = 1 << 15

  /** Doubles per row in a block: the width, but at least 1, so a
    * zero-column projection still counts its rows. */
  def stride(width: Int): Int = math.max(1, width)

  /** Rows per block for a given stride. */
  private def blockRows(stride: Int): Int = math.max(1, BlockCells / stride)

  /** Consecutive rows into blocks of at most [[blockRows]] rows. */
  private[data] def packRows(rows: Iterator[Row], stride: Int,
                             write: (Row, Array[Double], Int) => Unit)
      : Iterator[Array[Double]] =
    rows.grouped(blockRows(stride)).map { g =>
      val buf = new Array[Double](g.length * stride)
      var n = 0
      g.foreach { r => write(r, buf, n * stride); n += 1 }
      buf
    }

  /** A block's rows, one `width`-long array each. */
  def rows(block: Array[Double], width: Int): Array[Array[Double]] = {
    val s = stride(width)
    Array.tabulate(block.length / s)(i =>
      java.util.Arrays.copyOfRange(block, i * s, i * s + width))
  }

  /** The rows of a sequence of blocks, in order. */
  def allRows(blocks: Array[Array[Double]], width: Int): Array[Array[Double]] =
    blocks.flatMap(rows(_, width))

  /** The sampled rows of one partition's blocks, gathered into blocks of
    * at most [[blockRows]] rows: `sampler.sample()` is drawn once per
    * row position, in order, and its count is how many copies of the
    * row follow — the draws `PoissonSampler.sample(Iterator)` makes. */
  private final class Gather(in: Iterator[Array[Double]], stride: Int,
                             sampler: PoissonSampler[Any])
      extends Iterator[Array[Double]] {
    private val cap = blockRows(stride)
    private var block = Array.emptyDoubleArray
    private var pos = 0 // offset just past the current row in `block`
    private var owed = 0 // copies of the current row not yet written
    private var out = fill()

    def hasNext: Boolean = out != null
    def next(): Array[Double] = {
      if (out == null) throw new NoSuchElementException
      val o = out; out = fill(); o
    }

    /** Moves to the next row with a positive count; false at the end. */
    private def advance(): Boolean = {
      while (true) {
        if (pos == block.length) {
          if (!in.hasNext) return false
          block = in.next(); pos = 0
        } else {
          owed = sampler.sample(); pos += stride
          if (owed > 0) return true
        }
      }
      false
    }

    private def fill(): Array[Double] = {
      var buf: Array[Double] = null
      var n = 0
      while (n < cap && (owed > 0 || advance())) {
        if (buf == null) buf = new Array[Double](cap * stride)
        System.arraycopy(block, pos - stride, buf, n * stride, stride)
        owed -= 1; n += 1
      }
      if (buf == null || n == cap) buf else java.util.Arrays.copyOf(buf, n * stride)
    }
  }
}
