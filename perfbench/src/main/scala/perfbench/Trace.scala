package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** One span: a layer call made by the benchmark, or the batch around them. */
final case class Span(name: String, batch: Int, parent: String,
    startMs: Long, endMs: Long, seconds: Double)

/** Per-batch tracing. Untraced batches run the pipeline as a user would:
  * spans, cuts and counts are no-ops, so nothing is added to the timed work.
  * A traced batch records a span around each layer call, cuts the pipeline at
  * each layer boundary (persist + count inside the span, so the next span
  * times only its own layer) and records the layer-specific counts. */
final class Tracer(val enabled: Boolean, val batch: Int) {
  val spans = mutable.ArrayBuffer[Span]()
  val counts = mutable.LinkedHashMap[String, Double]()
  private val pinned = mutable.ArrayBuffer[DataFrame]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val ms = System.currentTimeMillis()
      val ns = System.nanoTime()
      try body
      finally spans += Span(name, batch, "batch", ms, System.currentTimeMillis(),
        (System.nanoTime() - ns) / 1e9)
    }

  def cut(df: DataFrame): DataFrame =
    if (!enabled) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      pinned += p
      p
    }

  /** Records a layer-specific count; `v` is evaluated only when tracing. */
  def count(name: String, v: => Double): Unit = if (enabled) counts(name) = v

  /** Frees the cuts; called after the batch, outside every layer span. */
  def release(): Unit = {
    pinned.foreach(_.unpersist(blocking = true))
    pinned.clear()
  }
}

/** The span and count names the traced run reports (see BENCH.md). */
object Layers {
  val spans: Seq[String] = Seq(
    "sources.extract", "tables.csv_land", "tables.csv_read", "coerce.to_schema",
    "merge.latest_by_key", "jdbc.upsert",
    "text.quality_gate", "dedup.exact", "dedup.minhash", "dedup.cluster",
    "packing.assign_shards", "tables.shard_write")

  val spanCounters: Seq[String] = Seq(
    "jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_bytes", "driver_only_s", "self_s")

  val counts: Seq[String] = Seq(
    "sources.http_requests", "sources.response_bytes", "sources.server_busy_s",
    "tables.csv_bytes", "tables.csv_files",
    "merge.rows_in", "merge.rows_out",
    "jdbc.rows", "jdbc.transactions", "jdbc.inserted", "jdbc.updated",
    "text.docs_in", "text.docs_kept",
    "dedup.exact_kept", "dedup.pairs", "dedup.pairs_true", "dedup.near_kept",
    "packing.shards",
    "spark.pinned_blocks", "batch.self_s", "trace.overhead_s")

  val all: Seq[String] =
    spans.flatMap(s => spanCounters.map(c => s"$s.$c")) ++ counts
}
