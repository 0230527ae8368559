package graft.sources

/** A double array of `n` NaNs: the padding every value window and every
  * in-memory store image starts from. `Array.fill(n)(Double.NaN)` takes
  * the generic `ClassTag` path and boxes each cell; this fills the
  * primitive array in one call. */
private[graft] object NanArray {
  def apply(n: Int): Array[Double] = {
    val a = new Array[Double](n)
    java.util.Arrays.fill(a, Double.NaN)
    a
  }
}
