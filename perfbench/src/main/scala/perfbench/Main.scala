package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. The runner drives it as a closed loop:
  * the next batch starts only after the previous one is complete and
  * verified. */
trait Workload {
  /** Input sizes, recorded in the result file. */
  def sizes: Map[String, Any]
  /** Generates the inputs and does the initial load or index build. */
  def setup(): Unit
  /** Untimed batches run at the end of set-up, before measuring. */
  def warmups: Int = 1
  /** Generates the inputs of batch `b`; untimed. */
  def prepare(b: Int): Unit
  /** Runs batch `b`; its result is complete when this returns. Timed. */
  def run(b: Int, t: Tracer): Unit
  /** Checks batch `b`'s output against the generator; untimed. */
  def verify(b: Int): Check
  /** Stops what the workload started and removes what it wrote. */
  def close(): Unit
}

/** `recall` is the batch's result_recall (see BENCH.md, per workload). */
final case class Check(ok: Boolean, recall: Double, detail: String)

final case class Ctx(spark: SparkSession, seed: Long, scale: Double, cores: Int, dir: Path) {
  def sub(name: String): Path = Files.createDirectories(dir.resolve(name))
  /** Size `base` scaled for smoke runs, never below `min`. */
  def size(base: Int, min: Int = 1): Int = math.max(min, math.round(base * scale).toInt)
}

object Main {
  private final case class Sample(batch: Int, traced: Boolean, seconds: Double,
      window: Window, check: Check, pinnedBlocks: Int, spans: Seq[Span],
      spanWindows: Map[String, Window], counts: Map[String, Double])

  private val HardStopS = 140.0 // the whole process must end well inside 180 s

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val dir = Paths.get(a("run-dir")).toAbsolutePath
    val resultFile = Paths.get(a("result"))
    val provenance = a.filter(_._1.startsWith("prov-")).map { case (k, v) => k.stripPrefix("prov-") -> v }
    val exit = run(workload, seed, seconds, trace, scale = 1.0, dir, resultFile, provenance)
    System.exit(exit)
  }

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean,
      scale: Double, dir: Path, resultFile: Path, provenance: Map[String, String]): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cores]"
    val spark = graft.GraftSession.builder(master)
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", Files.createDirectories(dir.resolve("spark-local")).toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val ctx = Ctx(spark, seed, scale, cores, dir)
    val w: Workload = workload match {
      case "lms_nightly" => new LmsNightly(ctx)
      case "corpus_curation" => new CorpusCuration(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val samples = mutable.ArrayBuffer[Sample]()
    var warmCheck = Check(ok = false, 0.0, "not run")
    var setupS = Double.NaN
    var heapMb = Double.NaN
    var control = (Double.NaN, Double.NaN)
    var error: Option[String] = None
    val phases = mutable.LinkedHashMap[String, Double]()
    def phase(name: String): Unit =
      phases(name) = (System.currentTimeMillis() - jvmStart) / 1e3 - phases.values.sum
    phase("session_s")
    try {
      w.setup()
      phase("workload_setup_s")
      // warm-up batches are numbered 1 - warmups .. 0
      val warm = (1 - w.warmups to 0).map { b =>
        w.prepare(b)
        w.run(b, new Tracer(false, b))
        w.verify(b)
      }
      warmCheck = warm.find(!_.ok).getOrElse(warm.last)
      phase("warmup_s")
      setupS = (System.currentTimeMillis() - jvmStart) / 1e3
      control = (controlS(spark, cores), Double.NaN)
      val windowStart = System.nanoTime()
      def elapsed = (System.nanoTime() - windowStart) / 1e9
      def sinceJvm = (System.currentTimeMillis() - jvmStart) / 1e3
      var b = 1
      // a traced run needs an untraced and a traced batch for the overhead
      val minBatches = if (trace) 2 else 1
      while ((elapsed < seconds || samples.size < minBatches) && sinceJvm < HardStopS) {
        w.prepare(b)
        System.gc()
        // traced runs alternate untraced and traced batches, so the tracing
        // overhead is measured inside one run
        val t = new Tracer(trace && b % 2 == 0, b)
        val ms0 = System.currentTimeMillis()
        val ns0 = System.nanoTime()
        val thrown =
          try { w.run(b, t); None }
          catch { case e: Throwable => Some(s"batch $b threw: $e") }
        val secs = (System.nanoTime() - ns0) / 1e9
        val ms1 = System.currentTimeMillis()
        ListenerBus.drain(spark.sparkContext)
        val spanWindows = t.spans.map(s => s.name -> counters.window(s.startMs, s.endMs)).toMap
        val root = Span("batch", b, "", ms0, ms1, secs)
        t.release()
        val pinned = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
        val check = thrown match {
          case Some(msg) => Check(ok = false, 0.0, msg)
          case None =>
            try w.verify(b)
            catch { case e: Throwable => Check(ok = false, 0.0, s"verify $b threw: $e") }
        }
        if (!check.ok) System.err.println(s"[perfbench] FAILED: ${check.detail}")
        samples += Sample(b, t.enabled, secs, counters.window(ms0, ms1), check, pinned,
          root +: t.spans.toSeq, spanWindows, t.counts.toMap)
        counters.forgetBefore(ms1)
        if (b == 1) heapMb = heapAfterGcMb()
        b += 1
      }
      control = (control._1, controlS(spark, cores))
    } catch {
      case e: Throwable =>
        error = Some(e.toString)
        e.printStackTrace()
    } finally {
      try w.close() catch { case e: Throwable => error = error.orElse(Some(s"close: $e")) }
      spark.stop()
    }

    // run hygiene: the workload removes everything it wrote
    val leftovers = leftoverFiles(dir)
    val untraced = samples.filterNot(_.traced)
    val traced = samples.filter(_.traced)
    val attempted = samples.size
    val failed = samples.count(!_.check.ok)
    val correct = error.isEmpty && warmCheck.ok && failed == 0 && leftovers.isEmpty
    val metrics: Map[String, Double] =
      if (!trace) Map(
        "setup_s" -> setupS,
        "batch_s" -> median(untraced.map(_.seconds)),
        "verified_share" -> (attempted - failed).toDouble / math.max(1, attempted),
        "result_recall" -> mean(samples.map(_.check.recall)),
        "heap_after_gc_mb" -> heapMb,
        "spark_jobs" -> median(untraced.map(_.window.jobs.toDouble)),
        "shuffle_bytes" -> median(untraced.map(_.window.shuffleBytes.toDouble)))
      else layerMetrics(traced.toSeq, untraced.toSeq)

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "provenance" -> (provenance ++ Map(
        "nproc" -> cores.toString, "master" -> master, "seed" -> seed.toString,
        "seconds" -> seconds.toString, "trace" -> trace.toString, "scale" -> scale.toString)),
      "sizes" -> w.sizes,
      "control_s" -> Map("start" -> control._1, "end" -> control._2),
      "setup_phases" -> phases,
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "error" -> error.getOrElse(""),
      "warmup_check" -> warmCheck.toString,
      "leftovers" -> leftovers,
      "metrics" -> metrics,
      "batches" -> samples.map(s => Map(
        "batch" -> s.batch, "traced" -> s.traced, "seconds" -> s.seconds,
        "jobs" -> s.window.jobs, "tasks" -> s.window.tasks,
        "executor_cpu_s" -> s.window.executorCpuS, "shuffle_bytes" -> s.window.shuffleBytes,
        "pinned_blocks" -> s.pinnedBlocks, "ok" -> s.check.ok, "recall" -> s.check.recall,
        "detail" -> s.check.detail, "counts" -> s.counts)),
      "spans" -> samples.flatMap(_.spans).map(s => Map(
        "name" -> s.name, "batch" -> s.batch, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds)))
    Files.createDirectories(resultFile.toAbsolutePath.getParent)
    Files.writeString(resultFile, Json.render(result))
    if (correct) 0 else 1
  }

  private def layerMetrics(traced: Seq[Sample], untraced: Seq[Sample]): Map[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    Layers.all.foreach(out(_) = 0.0)
    Layers.spans.foreach { name =>
      val per = traced.filter(_.spans.exists(_.name == name))
      if (per.nonEmpty) {
        def med(f: Sample => Double) = median(per.map(f))
        def win(s: Sample) = s.spanWindows(name)
        def secs(s: Sample) = s.spans.filter(_.name == name).map(_.seconds).sum
        out(s"$name.jobs") = med(win(_).jobs.toDouble)
        out(s"$name.tasks") = med(win(_).tasks.toDouble)
        out(s"$name.executor_cpu_s") = med(win(_).executorCpuS)
        out(s"$name.gc_s") = med(win(_).gcS)
        out(s"$name.shuffle_bytes") = med(win(_).shuffleBytes.toDouble)
        out(s"$name.driver_only_s") = med(s => math.max(0.0, secs(s) - win(s).jobBusyS))
        out(s"$name.self_s") = med(secs)
      }
    }
    val keys = traced.flatMap(_.counts.keys).distinct
    keys.foreach(k => out(k) = median(traced.flatMap(_.counts.get(k))))
    if (traced.nonEmpty) {
      out("spark.pinned_blocks") = median(traced.map(_.pinnedBlocks.toDouble))
      out("batch.self_s") = median(traced.map(s =>
        s.seconds - s.spans.filter(_.parent == "batch").map(_.seconds).sum))
      if (untraced.nonEmpty)
        out("trace.overhead_s") = median(traced.map(_.seconds)) - median(untraced.map(_.seconds))
    }
    out.toMap
  }

  /** The CPU-only control of `graft.Bench`: a fixed job with no I/O, timed
    * before and after the measured window, so box drift shows. */
  private def controlS(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 50000000L, 1L, cores).selectExpr("sum(id % 7) AS s").collect(): Unit
    (System.nanoTime() - t0) / 1e9
  }

  /** The least heap in use over three forced GCs. Spark's context cleaner
    * frees blocks of collected broadcasts and shuffles asynchronously after a
    * GC, and background threads allocate between a GC and the read. */
  private def heapAfterGcMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

  /** Files left under the run directory, except the JVM's own temp dir. */
  private def leftoverFiles(dir: Path): Seq[String] = {
    if (!Files.exists(dir)) return Nil
    val keep = Set("tmp", "spark-local")
    val walk = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(p => p != dir && Files.isRegularFile(p))
        .map(dir.relativize(_).toString)
        .filterNot(p => keep(p.split('/').head) || p == "derby.log")
        .toSeq
    } finally walk.close()
  }

  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toIndexedSeq.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}
