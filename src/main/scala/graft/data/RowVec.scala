package graft.data

import org.apache.spark.sql.Row

/** Row → doubles projector shared by the training and scoring paths
  * (kept a standalone object so RDD closures capture only the column
  * list, never an engine instance). */
object RowVec {

  /** Writes a row's `names.length` values into `dst` from `off` on.
    * `narrowF32 = true` truncates each value to its nearest
    * float32-representable double — the float32 data mode (reference
    * casts fed arrays to the configured `float_type`,
    * `param.py:689-699`). */
  def writer(names: Seq[String], narrowF32: Boolean = false)
      : (Row, Array[Double], Int) => Unit = {
    val n = names.length
    val namesArr = names.toArray
    (row, dst, off) => {
      var i = 0
      while (i < n) {
        val v = row.get(i) match {
          case d: java.lang.Double => d.doubleValue()
          case f: java.lang.Float => f.toDouble
          case l2: java.lang.Long => l2.toDouble
          case i2: java.lang.Integer => i2.toDouble
          case other => throw new IllegalArgumentException(
            s"non-numeric input ${namesArr(i)}: $other")
        }
        dst(off + i) = if (narrowF32) v.toFloat.toDouble else v
        i += 1
      }
    }
  }
}
