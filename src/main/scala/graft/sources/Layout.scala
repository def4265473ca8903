package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, lit, shiftleft, shiftrightunsigned}

/** Storage-layout utilities — the write-side half of scan performance.
  * At 100 TB the layout decides what a query READS: clustering gives
  * row-group min/max skipping, hive partitioning gives directory
  * pruning, bucketing removes the shuffle from every later join on the
  * bucket key. (PlanSpec verifies each property on real writes.)
  */
object Layout {

  /** Hive-style partition layout: one directory per `partitionCol`
    * value; equality/IN filters on it become directory pruning
    * (`PartitionFilters` at the scan). Use for low-cardinality columns
    * (date, lang, source) — high-cardinality keys belong in bucketing.
    * The pre-write repartition co-locates each value in one task:
    * without it every task opens a writer per value it holds, and
    * 10k tasks × 365 dates is a 3.65M-small-files explosion. */
  def writePartitioned(
      df: DataFrame, path: String, partitionCol: String): Unit =
    df.repartition(col(partitionCol))
      .write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(path)

  /** Interleave the low `bits` bits of two non-negative long columns
    * into a Z-value (Morton code): bit i of x lands at position 2i, bit
    * i of y at 2i+1, so nearby (x, y) points get nearby Z-values. Pure
    * bit arithmetic — stays inside whole-stage codegen. */
  private[graft] def zValue(x: Column, y: Column, bits: Int = 21): Column =
    (0 until bits).map { i =>
      val xi = shiftleft(shiftrightunsigned(x, i).bitwiseAND(lit(1L)), 2 * i)
      val yi = shiftleft(shiftrightunsigned(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
      xi.bitwiseOR(yi)
    }.reduce(_ bitwiseOR _)

  /** Z-order-cluster `df` on TWO columns: range-partition + sort by the
    * Morton code, so each file covers a small RECTANGLE of the
    * (colX, colY) space instead of a narrow span of one column — parquet
    * min/max statistics then skip row groups for selective predicates on
    * EITHER column, the property single-column clustering can't give.
    *
    * Each column is first rescaled to a fixed `bits`-wide integer over
    * its own [min, max]: without this, a column whose natural range is
    * narrower than the other's contributes only low-order interleave
    * bits and never influences the file split (only the curve's high
    * bits do) — the same per-column range normalization Delta/Iceberg
    * Z-ordering applies. The min/max pre-pass is one map-combinable
    * aggregate over the two columns (at 100 TB: read from table stats
    * instead). The multi-dimensional analogue of a `repartitionByRange`
    * on one column, built from plain Spark primitives. */
  def writeZOrdered(
      df: DataFrame, path: String, colX: String, colY: String,
      files: Int = 32, bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions.{max, min}
    val bounds = df
      .agg(min(col(colX)), max(col(colX)), min(col(colY)), max(col(colY)))
      .collect()(0)
    // empty input OR an entirely-NULL cluster column: no usable range on
    // some axis, so there is nothing to cluster by — write unclustered
    // rather than NPE in the bounds conversion below
    if ((0 to 3).exists(bounds.isNullAt)) {
      df.write.mode(SaveMode.Overwrite).parquet(path)
      return
    }
    // Bounds and scaling run in DOUBLE space (ADVICE r3): longValue on a
    // double column silently truncates — a sub-1.0 value range collapses
    // every row to one Z-cell. Date/timestamp columns are out of scope
    // here by contract: cast them to an epoch number before clustering.
    val Array(xLo, xHi, yLo, yHi) = bounds.toSeq.map {
      case n: java.lang.Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        "writeZOrdered requires NUMERIC cluster columns (cast date/" +
          s"timestamp to an epoch number first); got ${other.getClass.getName}")
    }.toArray
    val top = (1L << bits) - 1
    def scaled(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L) // degenerate single-value range
      else org.apache.spark.sql.functions.least(
        ((c.cast("double") - lit(lo)) * lit(top.toDouble) / lit(hi - lo))
          .cast("long"),
        lit(top)) // clamp the hi endpoint against float round-up
    df.withColumn("__z", zValue(
        scaled(col(colX), xLo, xHi), scaled(col(colY), yLo, yHi), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Compact a parquet directory's many small files into files of
    * ~`targetBytes` each, preserving content. Small files are the silent
    * scan killer at 100 TB — a 10k-file directory costs 10k opens,
    * footer reads, and scheduler tasks for what 80 files could serve;
    * streaming sinks and over-parallel writes produce exactly that.
    * Sizing uses the actual on-disk bytes, so the output file count
    * tracks data volume, not the input's partitioning accident.
    * Writes to `dest` (parquet cannot overwrite a path it is reading). */
  def compact(
      df: DataFrame, srcBytes: Long, dest: String,
      targetBytes: Long = 128L << 20): Unit = {
    val files = math.max(1L, (srcBytes + targetBytes - 1) / targetBytes).toInt
    df.repartition(files).write.mode(SaveMode.Overwrite).parquet(dest)
  }
}
