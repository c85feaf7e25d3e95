package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout — multi-dimensional clustering
  * for scan pruning. Sorting a table by the bit-interleaved z-value of
  * two or three dimensions makes every file/row-group cover a small
  * HYPER-RECTANGLE of the key space instead of a thin slab of one
  * column, so min/max footer stats prune scans that filter on ANY of
  * the interleaved dimensions — the layout trick behind
  * `OPTIMIZE ... ZORDER BY` in lakehouse engines, built here from
  * stock expressions (shifts/masks are whole-stage-codegen'd; no UDF).
  *
  * At 100 TB the layout job is a single `repartitionByRange` on the
  * z-value (range exchange = sample + split, no global sort barrier)
  * followed by a within-partition sort at write time; reads need no
  * cooperation — pruning falls out of ordinary parquet stats.
  *
  * Inputs must be NON-NEGATIVE integers (ranks, ids, or bucketed
  * values); callers bucket raw doubles/timestamps first (e.g. via
  * `width_bucket` or epoch-day). Values are masked to the low 32 bits
  * (2 dims) / 21 bits (3 dims) so the interleave fits a long.
  */
object Layout {

  /** Spread the low 32 bits of `x` so consecutive bits land 2 apart
    * (the classic mask cascade, 64-bit form). */
  private def spread2(x: Column): Column = {
    var v = x.bitwiseAND(lit(0xFFFFFFFFL))
    v = (v.bitwiseOR(shiftleft(v, 16))).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    v = (v.bitwiseOR(shiftleft(v, 8))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    v = (v.bitwiseOR(shiftleft(v, 4))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    v = (v.bitwiseOR(shiftleft(v, 2))).bitwiseAND(lit(0x3333333333333333L))
    v = (v.bitwiseOR(shiftleft(v, 1))).bitwiseAND(lit(0x5555555555555555L))
    v
  }

  /** Spread the low 21 bits of `x` so consecutive bits land 3 apart. */
  private def spread3(x: Column): Column = {
    var v = x.bitwiseAND(lit(0x1FFFFFL))
    v = (v.bitwiseOR(shiftleft(v, 32))).bitwiseAND(lit(0x1F00000000FFFFL))
    v = (v.bitwiseOR(shiftleft(v, 16))).bitwiseAND(lit(0x1F0000FF0000FFL))
    v = (v.bitwiseOR(shiftleft(v, 8))).bitwiseAND(lit(0x100F00F00F00F00FL))
    v = (v.bitwiseOR(shiftleft(v, 4))).bitwiseAND(lit(0x10C30C30C30C30C3L))
    v = (v.bitwiseOR(shiftleft(v, 2))).bitwiseAND(lit(0x1249249249249249L))
    v
  }

  /** 64-bit Morton code of two 32-bit dimensions (x gets even bits). */
  def zValue2(x: Column, y: Column): Column =
    spread2(x.cast("long")).bitwiseOR(shiftleft(spread2(y.cast("long")), 1))

  /** 63-bit Morton code of three 21-bit dimensions. */
  def zValue3(x: Column, y: Column, z: Column): Column =
    spread3(x.cast("long"))
      .bitwiseOR(shiftleft(spread3(y.cast("long")), 1))
      .bitwiseOR(shiftleft(spread3(z.cast("long")), 2))

  /** Lay `df` out in z-order across `numPartitions` output units:
    * range-exchange on the z-value (sampled split points — no global
    * sort), then sort within each partition so row groups inside a file
    * are also clustered. Drop the helper column before writing. */
  def zOrder2(df: DataFrame, x: Column, y: Column, numPartitions: Int): DataFrame = {
    df.withColumn("_z", zValue2(x, y))
      .repartitionByRange(numPartitions, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
  }

  /** 2-D HILBERT index — the Morton curve's better-locality sibling:
    * consecutive Hilbert codes are always GRID-ADJACENT (|Δx|+|Δy|=1),
    * where the Z-curve takes long diagonal jumps at every power-of-two
    * boundary. For range-partitioned layout that means a file covers
    * one contiguous snake of the key plane, so its bounding box is
    * tighter on average and footer-stats pruning discards more files
    * for the same filter — the reason lakehouse OPTIMIZE commands grew
    * `HILBERT` next to `ZORDER`.
    *
    * Algorithm: the classic top-down bit walk (per level: quadrant
    * digit d += s²·((3·rx) XOR ry), then the reflect-and-swap rotation
    * that keeps the curve continuous across quadrants). All integer
    * CASE/mask arithmetic. Each of the `bits` levels is MATERIALIZED
    * as a projection (`withColumn`) rather than composed into one
    * expression: the rotation reads x and y twice per level, so a
    * single nested expression tree would grow ~3^bits nodes, while the
    * chained form stays linear and leaves every level codegen-able.
    *
    * Same input contract as [[zValue2]]: non-negative integers,
    * bucketed by the caller; masked to the low `bits` bits (≤ 31, so
    * s² and the final index stay comfortably in a long — d <
    * 4^bits ≤ 2^62). */
  def hilbertIndexed2(df: DataFrame, x: Column, y: Column, out: String,
      bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val mask = (1L << bits) - 1
    var cur = df
      .withColumn("_hx", x.cast("long").bitwiseAND(lit(mask)))
      .withColumn("_hy", y.cast("long").bitwiseAND(lit(mask)))
      .withColumn(out, lit(0L))
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = when(col("_hx").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      val ry = when(col("_hy").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      val x1 = when(ry === 0 && rx === 1, lit(s - 1) - col("_hx")).otherwise(col("_hx"))
      val y1 = when(ry === 0 && rx === 1, lit(s - 1) - col("_hy")).otherwise(col("_hy"))
      cur = cur
        .withColumn("_hd", col(out) + lit(s) * lit(s) * (rx * 3).bitwiseXOR(ry))
        // reflect (when rx=1) then swap — only in the ry=0 quadrants
        .withColumn("_hx2", when(ry === 0, y1).otherwise(col("_hx")))
        .withColumn("_hy2", when(ry === 0, x1).otherwise(col("_hy")))
        .drop(out, "_hx", "_hy")
        .withColumnRenamed("_hd", out)
        .withColumnRenamed("_hx2", "_hx")
        .withColumnRenamed("_hy2", "_hy")
      s >>= 1
    }
    cur.drop("_hx", "_hy")
  }

  /** Zone-map (min/max footer) statistics per file: the ANALYZE-style
    * summary every data-skipping reader consumes — parquet row-group
    * stats, Iceberg/Delta manifest column bounds, ORC stripe footers
    * all carry exactly this. One hash aggregation at FILE grain, so
    * the stats frame is O(files) however large the table: the frame a
    * planner broadcasts to prune a 100 TB scan down to the files that
    * can possibly match. `n_nulls` rides along because a NULL-only
    * file has NULL min/max and is prunable for any range predicate
    * but NOT for `IS NULL` — the distinction a naive min/max-only
    * zone map gets wrong. Returns (file_id, f_min, f_max, n_rows,
    * n_nulls). */
  def zoneMap(df: DataFrame, fileId: Column, value: Column): DataFrame =
    df.select(fileId.cast("long").as("file_id"), value.as("_v"))
      .groupBy("file_id")
      .agg(min(col("_v")).as("f_min"), max(col("_v")).as("f_max"),
        count(lit(1)).as("n_rows"),
        sum(when(col("_v").isNull, 1L).otherwise(0L)).as("n_nulls"))

  /** Range-predicate pruning decision over a [[zoneMap]] frame: a file
    * is skippable for `value BETWEEN lo AND hi` iff its range cannot
    * intersect — `f_max < lo OR f_min > hi` — or it holds no non-null
    * values at all (NULL never satisfies a range predicate). The
    * decision is per-file metadata arithmetic: zero data touched,
    * which is the entire point. Adds `pruned` to the stats frame. */
  def pruneRange(zoneStats: DataFrame, lo: Column, hi: Column): DataFrame =
    zoneStats.withColumn("pruned",
      col("n_nulls") === col("n_rows") ||
        col("f_max") < lo || col("f_min") > hi)

  /** Column-encoding advisor — the compression half of ANALYZE: per
    * file, would this column encode better PLAIN, DICTIONARY, or RLE?
    * The decision every columnar writer (parquet, ORC) makes per
    * chunk, surfaced as queryable stats so layout jobs can SORT to
    * manufacture runs (the z-order lesson again: encoding wins are a
    * property of ORDER, and `ord` is explicit here because RLE run
    * counts are meaningless without a defined physical order).
    *
    * Exact integer cost model, same on both engines:
    *   plain = n·B;  dict = distinct·B + ⌈n·bits/8⌉,
    *   bits = len(bin(distinct−1));  rle = runs·(B+4).
    * `best_encoding` picks the strict minimum with ties falling
    * toward the simpler scheme (plain ≻ dict ≻ rle). One keyed window
    * (lag per file — never global) + one file-grain agg; output is
    * O(files). `ord` must order rows deterministically UP TO equal
    * values — when no unique physical key exists, append the value
    * column itself as the last ord entry (rows tied on the full key
    * are interchangeable, so run counts stay well-defined). Returns
    * (file_id, n_values, n_distinct, n_runs, est_plain, est_dict,
    * est_rle, best_encoding). */
  def encodingAdvisor(df: DataFrame, fileId: Column, value: Column,
      ord: Seq[Column], plainBytes: Int): DataFrame = {
    require(plainBytes >= 1, s"plainBytes must be >= 1, got $plainBytes")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("file_id")).orderBy(ord: _*)
    val runs = df
      .select((fileId.cast("long").as("file_id") +: value.as("_v") +: ord): _*)
      .withColumn("_chg",
        when(!(lag(col("_v"), 1).over(w) <=> col("_v")), 1L).otherwise(0L))
    val b = lit(plainBytes.toLong)
    runs.groupBy("file_id")
      .agg(count(lit(1)).as("n_values"),
        countDistinct(col("_v")).as("n_distinct"),
        sum(col("_chg")).as("n_runs"))
      .withColumn("_bits",
        when(col("n_distinct") <= 1L, 1L)
          .otherwise(length(bin(col("n_distinct") - 1L)).cast("long")))
      .withColumn("est_plain", col("n_values") * b)
      .withColumn("est_dict", col("n_distinct") * b +
        expr("(n_values * _bits + 7) div 8"))
      .withColumn("est_rle", col("n_runs") * (b + 4L))
      .withColumn("best_encoding",
        when(col("est_rle") < col("est_dict") &&
             col("est_rle") < col("est_plain"), "rle")
          .when(col("est_dict") < col("est_plain"), "dict")
          .otherwise("plain"))
      .drop("_bits")
  }
}
