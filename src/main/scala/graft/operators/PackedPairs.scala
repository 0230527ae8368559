package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Driver kernel shared by the dense graph dispatches ([[DenseGraph]],
  * [[BipartiteFixpoint]]): a key pair (hi, lo) with 0 ≤ hi < 2³¹ and
  * 0 ≤ lo < 2³² packs into one long hi·2³² | lo whose numeric order is
  * the (hi, lo) order, so one collect, a sort and an in-place dedup
  * give the DISTINCT relation, sorted, with no distinct exchange.
  */
private[operators] object PackedPairs {

  /** Zero-job guard from parquet footers: Some(true) iff the file holds
    * at most `maxRows` rows and both key columns fit the pack; None
    * when the footers carry no row count or min/max statistics. */
  def footerFits(s: SparkSession, path: String, hiCol: String,
                 loCol: String, maxRows: Long): Option[Boolean] = for {
    rows <- graft.sources.ParquetStats.rowCount(s, path)
    hm <- graft.sources.ParquetStats.longMinMax(s, path, hiCol)
    lm <- graft.sources.ParquetStats.longMinMax(s, path, loCol)
  } yield rows <= maxRows &&
    hm._1 >= 0 && hm._2 < (1L << 31) &&
    lm._1 >= 0 && lm._2 < (1L << 32)

  /** The distinct (hi, lo) pairs of `df`, packed and sorted ascending. */
  def collectDistinct(df: DataFrame, hiCol: String, loCol: String)
      : Array[Long] = {
    val raw = df
      .select((col(hiCol).cast("long") * lit(4294967296L) +
        col(loCol).cast("long")).as("x"))
      .as(Encoders.scalaLong).collect()
    java.util.Arrays.sort(raw)
    var m = 0
    var i = 0
    while (i < raw.length) {
      if (m == 0 || raw(m - 1) != raw(i)) { raw(m) = raw(i); m += 1 }
      i += 1
    }
    if (m == raw.length) raw else java.util.Arrays.copyOf(raw, m)
  }
}
