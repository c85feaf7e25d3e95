package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Shard packing for training-data pipelines: assign each document to a
  * fixed-weight-budget shard by running (prefix) sum of a weight column
  * (token count) in a stable key order — the step that turns a filtered
  * corpus into evenly-sized training shards.
  *
  * The naive formulation is `sum(w) OVER (ORDER BY key)` — a GLOBAL
  * window, which Spark executes in ONE partition: correct at test scale,
  * dead at 100 TB. This implements the classic two-phase distributed
  * prefix sum instead:
  *
  *   1. range-repartition by key and sort within partitions (partition p
  *      holds a contiguous key range; partition index order == key
  *      order);
  *   2. per-partition totals (P rows — thousands, not billions; P is
  *      invariant of row count) are prefix-summed on the driver;
  *   3. each partition computes its local running sum seeded with its
  *      offset, via mapPartitions over the already-sorted rows.
  *
  * Phase 3 is the rare case where mapPartitions beats the declarative
  * form: a window `PARTITION BY spark_partition_id()` would force a
  * redundant hash exchange of the whole corpus (Catalyst cannot know the
  * rows are already grouped by physical partition), while the
  * partition-local fold reuses the range exchange — one corpus shuffle
  * total. The result is value-identical to the global window the DuckDB
  * oracle runs (prefix sums don't depend on where partition boundaries
  * fall); the oracle casts its window sum to BIGINT so the type matches
  * Spark's long output under the strict hash gate.
  */
object Packing {

  /** Conf key for the prefix-sum family's exchange pinning.
    * `false` (default): `localCheckpoint` — blocks live on executors;
    * fastest, but a lost executor kills the lineage mid-schedule (fine
    * single-JVM, acceptable for restartable batch).
    * `true`: reliable `checkpoint` to `sparkContext.setCheckpointDir`
    * (HDFS/object store on a real cluster — REQUIRED when enabling) —
    * the 2–3-job schedule survives executor loss at the price of one
    * write+read of the ranged corpus. Same results either way
    * (`PackingSpec` proves identity); the phases still see one frozen
    * range partitioning, which is the correctness requirement. */
  val ReliableCheckpointKey = "spark.graft.prefixSum.reliableCheckpoint"

  /** The pinned-or-adaptive range exchange shared by the prefix-sum
    * family: explicit width when `numPartitions` > 0 (or AQE coalescing
    * is off), otherwise planned WITHOUT a partition count so AQE's
    * partition coalescing sizes it from the actual shuffled bytes
    * (opt guide §2: scale-adaptive partitioning, never a constant) —
    * a key-grain frame of a few thousand rows collapses to one or two
    * tasks per phase instead of `spark.sql.shuffle.partitions` tiny
    * ones, while a corpus-sized input keeps the full width. Results
    * are identical either way: prefix sums are independent of where
    * partition boundaries fall (AQE merges CONTIGUOUS range
    * partitions, so partition-index order still ascends with the
    * range order, which is all phases 2/3 need). */
  private[ops] def rangedBy(df: DataFrame, order: Seq[Column],
      numPartitions: Int): DataFrame = {
    val spark = df.sparkSession
    val adaptive = numPartitions <= 0 &&
      spark.conf.get("spark.sql.adaptive.enabled", "true").toBoolean &&
      spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled", "true").toBoolean
    val parts = if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val shuffled =
      if (adaptive) df.repartitionByRange(order: _*)
      else df.repartitionByRange(parts, order: _*)
    pinExchange(shuffled.sortWithinPartitions(order: _*))
  }

  /** Pin a range exchange so later jobs see the SAME physical
    * partitioning (boundaries come from sampling — re-evaluating could
    * draw different ones). Shared by the whole prefix-sum family
    * ([[assignShardsOrdered]], [[Mixing.groupwiseRank]]). */
  private[ops] def pinExchange(df: DataFrame): DataFrame = {
    val reliable = df.sparkSession.conf
      .getOption(ReliableCheckpointKey).exists(_.toBoolean)
    if (reliable) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableCheckpointKey=true needs sparkContext.setCheckpointDir " +
        "(a fault-tolerant path: HDFS/S3/ABFS on a cluster)")
      df.checkpoint(true)
    } else df.localCheckpoint(true)
  }

  /** Adds `cum_w` (inclusive running sum of `weight` in `key` order) and
    * `shard` = (cum_w - w) / budget — i.e. a document lands in the shard
    * where it STARTS, so every shard's content begins within budget.
    * `weight` must be non-negative; one output row per input row. */
  def assignShards(df: DataFrame, key: String, weight: String, budget: Long,
      numPartitions: Int = 0): DataFrame =
    assignShardsOrdered(df, Seq(col(key)), weight, budget, numPartitions)

  /** [[assignShards]] generalized to an arbitrary total order (pass
    * sort-ordered columns, e.g. `Seq(col("score").desc, col("id"))`) —
    * the order MUST be total (tie-break with a unique id) or the prefix
    * sum itself is ill-defined. Range partition indices ascend with the
    * given order, so the offset table stays partition-id ordered. */
  def assignShardsOrdered(df: DataFrame, order: Seq[Column], weight: String,
      budget: Long, numPartitions: Int = 0): DataFrame =
    assignShardsOrderedWithTotal(df, order, weight, budget, numPartitions)._1

  /** [[assignShardsOrdered]] plus the GRAND TOTAL of `weight`, which the
    * driver-side offset fold computes anyway: callers that need n (the
    * weight-1 rank case) or sum(weight) — [[ntileOrdered]],
    * [[graft.ops.Reagg.abcClasses]] — previously ran one more
    * aggregation job + broadcast over the ranged frame to re-derive a
    * number already sitting in the prefix-sum accumulator. */
  def assignShardsOrderedWithTotal(df: DataFrame, order: Seq[Column],
      weight: String, budget: Long, numPartitions: Int = 0): (DataFrame, Long) = {
    require(budget > 0, s"shard budget must be positive, got $budget")
    require(order.nonEmpty, "need at least one ordering column")
    val spark = df.sparkSession
    // null (or uncastable) weights pack as zero-cost rows — phase 3's
    // positional getLong cannot tolerate nulls, and silently dropping
    // the rows would change the output contract (one row per input row)
    val normalized = df.withColumn(weight, coalesce(col(weight).cast("long"), lit(0L)))
    // Eager checkpoint, not persist: phases 1 and 3 are separate jobs
    // and both must see the SAME physical partitioning (range boundaries
    // come from sampling — re-evaluating the exchange per job could draw
    // different boundaries AND double the shuffle). A persist() would
    // pin the corpus-sized cache in the CacheManager until someone calls
    // unpersist, which this API cannot do for the caller (the returned
    // plan still reads the cache); checkpoint blocks are instead
    // reclaimed by the ContextCleaner once the returned frame is
    // dropped. Local vs reliable is the caller's durability choice —
    // see [[ReliableCheckpointKey]]; width per [[rangedBy]].
    val ranged = rangedBy(normalized, order, numPartitions)
    // Phase 1+2: per-partition totals -> driver prefix sum. Range
    // partition indices ascend with the key range, so offset order is
    // partition-id order. Only P (pid, sum) rows ever reach the driver.
    val totals = ranged
      .select(spark_partition_id().as("_pid"), col(weight))
      .groupBy(col("_pid"))
      .agg(sum(col(weight)).as("_psum"))
      .orderBy(col("_pid"))
      .collect()
    var acc = 0L
    // sized from the CHECKPOINTED frame's actual partition count (the
    // adaptive exchange's width is only known post-execution)
    val offsets = new Array[Long](ranged.rdd.getNumPartitions)
    totals.foreach { r =>
      offsets(r.getInt(0)) = acc
      acc += r.getLong(1)
    }
    val offsetsB = spark.sparkContext.broadcast(offsets)
    // Phase 3: partition-local fold, seeded with the partition's offset.
    val wIdx = ranged.schema.fieldIndex(weight)
    val outSchema = ranged.schema.add("cum_w", LongType).add("shard", LongType)
    // mapPartitionsWithIndex, NOT TaskContext.getPartitionId(): the
    // latter is the STAGE-task id, which is renumbered when a caller
    // unions the returned frame with itself in one narrow stage (branch
    // 2's tasks run as P..2P−1 and would seed the wrong — or
    // out-of-bounds — offset; sortedNeighborhood's band join does
    // exactly this). The RDD partition index survives union/narrow
    // fusion by construction.
    val out = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = offsetsB.value(pid)
      it.map { r =>
        val w = r.getLong(wIdx)
        acc += w
        Row.fromSeq(r.toSeq :+ acc :+ (acc - w) / budget)
      }
    }
    (spark.createDataFrame(out, outSchema), acc)
  }

  /** Distributed global ranking functions — `ntile` / `percent_rank` /
    * `cume_dist` over a TOTAL order without the single-partition sort a
    * global `Window.orderBy` plans: the rank is the weight-1 case of the
    * two-phase prefix sum (`cum_w` of 1s == row rank in the order), and
    * the bucket/percentile arithmetic is per-row from (rank, n).
    *
    * `bucket` reproduces ANSI NTILE exactly: with q = n div k and
    * r = n mod k, the first r buckets carry q+1 rows — integer
    * arithmetic, no doubles. `pct_rank` = (rank−1)/(n−1) and
    * `cume_dist` = rank/n are single exactly-rounded IEEE divides both
    * engines agree on (rounded to 9 dp for the hash gate; NULL
    * pct_rank→0.0 when n == 1, matching SQL). n rides a one-row
    * broadcast — never a second scan. */
  def ntileOrdered(df: DataFrame, order: Seq[Column], k: Int,
      numPartitions: Int = 0): DataFrame = {
    require(k > 0, s"ntile bucket count must be positive, got $k")
    // n comes out of the prefix-sum's own offset fold (the weight-1
    // total IS the row count) — no second scan, no broadcast join
    val (rankedRaw, total) = assignShardsOrderedWithTotal(
      df.withColumn("_one", lit(1L)), order, "_one",
      budget = Long.MaxValue, numPartitions)
    val ranked = rankedRaw
      .drop("_one", "shard")
      .withColumnRenamed("cum_w", "rank")
    val i = col("rank") - 1L
    val q = expr(s"_n div ${k}L")
    val r = col("_n") % k
    ranked.withColumn("_n", lit(total))
      .withColumn("bucket",
        when(i < r * (q + 1L), expr(s"(rank - 1L) div (_n div ${k}L + 1L)") + 1L)
          .otherwise(r + expr(s"((rank - 1L) - (_n % ${k}L) * (_n div ${k}L + 1L)) div (_n div ${k}L)") + 1L))
      .withColumn("pct_rank",
        when(col("_n") === 1L, lit(0.0))
          .otherwise(round(i.cast("double") / (col("_n") - 1L), 9)))
      .withColumn("cume_dist", round(col("rank").cast("double") / col("_n"), 9))
      .drop("_n")
  }

  /** Per-GROUP ANSI NTILE without a per-group single reducer — the
    * scale form of `ntile(k) OVER (PARTITION BY group ORDER BY ...)`
    * when one group can be most of the corpus (a `Window.partitionBy`
    * puts each group's entire extent in ONE task). Rank-within-group
    * comes from [[Mixing.groupwiseRank]] (groupwise two-phase prefix
    * sum — ONE range exchange, P×G driver rows, so the same
    * "dozens-of-groups" contract applies); per-group sizes ride a
    * broadcast join; the bucket is the same exact integer (rank, n)
    * arithmetic as [[ntileOrdered]]. Adds `grp_rank` and `bucket`;
    * `order` must be total WITHIN each group (tie-break with a unique
    * id). */
  def ntileGrouped(df: DataFrame, group: String, order: Seq[Column], k: Int,
      numPartitions: Int = 0): DataFrame = {
    require(k > 0, s"ntile bucket count must be positive, got $k")
    val ranked = Mixing.groupwiseRank(df, group, order, numPartitions)
    val ns = ranked.groupBy(col(group)).agg(count(lit(1)).as("_n"))
    ranked.join(broadcast(ns), Seq(group))
      .withColumn("bucket",
        when(col("grp_rank") - 1L < (col("_n") % k) * (expr(s"_n div ${k}L") + 1L),
          expr(s"(grp_rank - 1L) div (_n div ${k}L + 1L)") + 1L)
          .otherwise((col("_n") % k) +
            expr(s"((grp_rank - 1L) - (_n % ${k}L) * (_n div ${k}L + 1L)) div (_n div ${k}L)") + 1L))
      .drop("_n")
  }

  /** Greedy token-budget selection — the corpus-curation step "fill an
    * N-token training budget with the best documents first": order the
    * corpus by `order` (a TOTAL order — tie-break with a unique id;
    * best first) and keep the maximal prefix whose token total never
    * exceeds `budget`. A document is kept iff its inclusive running sum
    * `cum_w` ≤ budget, so the budget is a hard ceiling (the first
    * crossing doc and everything after it are cut; a leading doc larger
    * than the whole budget means an EMPTY selection — by contract, not
    * a bug). Returns the surviving rows with `cum_w` (callers wanting
    * "overflow-by-one" fill instead: keep `cum_w - weight < budget`).
    *
    * Scale shape: exactly [[assignShardsOrdered]] — one range exchange
    * on the order key, per-partition totals to the driver (P rows), a
    * narrow seeded fold — then a narrow filter. The 100 TB trap this
    * avoids: a global `sum() OVER (ORDER BY score)` window, which plans
    * as a single-partition sort. */
  def selectByTokenBudget(df: DataFrame, order: Seq[Column], weight: String,
      budget: Long, numPartitions: Int = 0): DataFrame =
    assignShardsOrdered(df, order, weight, budget, numPartitions)
      .filter(col("cum_w") <= budget)
      .drop("shard")

  /** Sequence packing (concat-and-chunk): lay the corpus's token stream
    * end-to-end in `key` order and cut it into fixed `contextLen`
    * training sequences, documents crossing sequence boundaries — the
    * standard no-padding packing used for LLM pretraining batches.
    *
    * Output: one row per (document × covering sequence) with
    *   - `seq_id`    sequence index in the global stream,
    *   - `tok_start` first token of the slice, 0-based WITHIN the doc,
    *   - `tok_len`   slice length,
    *   - `seq_off`   where the slice starts WITHIN the sequence,
    * so `sum(tok_len)` per doc is the doc's token count, and per seq_id
    * it is exactly `contextLen` (except the final partial sequence).
    * Zero/NULL-weight docs contribute no tokens and emit no rows.
    *
    * Scale shape: one corpus shuffle total — the [[assignShards]] range
    * exchange that materializes the global prefix sum; everything after
    * (boundary arithmetic + the per-doc explode over covered sequences)
    * is narrow, and the fan-out per doc is ceil(w/contextLen)+1 rows, so
    * skew is bounded by the longest document, never the corpus. */
  def packSequences(df: DataFrame, key: String, weight: String,
      contextLen: Long, numPartitions: Int = 0): DataFrame = {
    require(contextLen > 0, s"context length must be positive, got $contextLen")
    val withCum = assignShards(df, key, weight, contextLen, numPartitions)
    // exact long arithmetic throughout (`div`, never `/`): a 100 TB
    // corpus's token stream can flirt with double's 2^53 integer ceiling
    val start = col("cum_w") - col(weight) // global offset of the doc's first token
    withCum
      .filter(col(weight) > 0)
      .withColumn("_start", start)
      .withColumn("seq_id",
        explode(sequence(expr(s"_start div ${contextLen}L"),
          expr(s"(cum_w - 1L) div ${contextLen}L"))))
      .withColumn("tok_start", greatest(col("seq_id") * contextLen - col("_start"), lit(0L)))
      .withColumn("tok_len",
        least((col("seq_id") + 1) * contextLen - col("_start"), col(weight)) - col("tok_start"))
      .withColumn("seq_off", greatest(col("_start") - col("seq_id") * contextLen, lit(0L)))
      .drop("cum_w", "shard", "_start")
  }
}
