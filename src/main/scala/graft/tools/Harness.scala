package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev harness over the named gates of `SparkEntry.queries`: one session
  * factory and five measurement modes. Every mode runs in the session it
  * is given, so a spec can drive it with a shared test session.
  *
  * Usage: `runMain graft.tools.Harness <mode> <sfDir> <q1,q2,...|top:N> [args]`
  *   - `reps [n=3]` — wall time of every run of each query (first run
  *     pays codegen and scan warm-up; put a throwaway query first in a
  *     fresh session).
  *   - `jobs` — per-Spark-job durations inside each query after an
  *     untimed warm rep, plus a rollup by call site.
  *   - `ab <key>=<a> <key>=<b> [pairs=3]` — one conf's two values
  *     alternated per rep inside one session, so box drift cancels out
  *     of the ratio.
  *   - `plans` — formatted physical plans.
  *   - `scale [moreDirs...]` — per (dir, query) steady-state seconds
  *     after one untimed warm pass per dir, as `[tri]` lines for
  *     `tools/tri_exponents.py`.
  *
  * `top:N` takes the N slowest queries from `BENCH_FULL.json` in the
  * working directory. Other `key=value` arguments are set on the
  * session for the run; in `ab` the last two are the arms.
  * SPARK_GRAFT_CPUS sets the core count. */
object Harness {

  /** Bench's session: `local[cpus]`, shuffle partitions = cpus, UTC, UI
    * off, and a codegen cache large enough for a full-suite sweep. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    try run(spark, args) finally spark.stop()
  }

  /** Parse `<mode> <sfDir> <queries> [args]` and run the mode. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Harness <reps|jobs|ab|plans|scale> <sfDir> <q1,q2,...|top:N> [args]")
    val Array(mode, dir, qs) = args.take(3)
    val (kvs, rest) = args.drop(3).toSeq.partition(_.contains("="))
    val confs = kvs.map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val names = queryNames(qs)
    val (shared, arms) = if (mode == "ab") confs.splitAt(confs.length - 2) else (confs, Nil)
    withConfs(spark, shared) {
      mode match {
        case "reps" => reps(spark, dir, names, rest.headOption.fold(3)(_.toInt))
        case "jobs" => jobs(spark, dir, names)
        case "ab" =>
          require(arms.length == 2 && arms(0)._1 == arms(1)._1,
            "ab needs two arms of one key: <key>=<a> <key>=<b>")
          ab(spark, dir, names, arms(0)._1, arms(0)._2, arms(1)._2,
            rest.headOption.fold(3)(_.toInt))
        case "plans" => plans(spark, dir, names)
        case "scale" => scale(spark, dir +: rest, names)
        case m => throw new IllegalArgumentException(s"unknown mode $m")
      }
    }
  }

  private def queryNames(spec: String): Seq[String] =
    if (spec.startsWith("top:")) {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_FULL.json")), "UTF-8")
      // minimal "name": seconds scrape of the flat queries map
      val re = """"([A-Za-z0-9_]+)"\s*:\s*([0-9.]+)""".r
      re.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toSeq
        .filter(kv => graft.SparkEntry.queries.contains(kv._1))
        .sortBy(-_._2).take(spec.stripPrefix("top:").toInt).map(_._1)
    } else spec.split(",").toSeq

  /** Set `confs` for the span of `body`, then restore what was there. */
  private def withConfs[T](spark: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Wall seconds and row count of one `count()` of query `n`; the cache
    * is cleared afterwards, outside the timed window. */
  private def timed(spark: SparkSession, dir: String, n: String): (Double, Long) = {
    val t0 = System.nanoTime()
    val rows = graft.SparkEntry.queries(n)(spark, dir).count()
    val s = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    (s, rows)
  }

  def reps(spark: SparkSession, dir: String, names: Seq[String], n: Int): Unit =
    names.foreach { q =>
      (1 to n).foreach { i =>
        val (s, rows) = timed(spark, dir, q)
        println(f"[reps] $q%-28s run$i $s%8.2f s  ($rows rows)")
      }
    }

  def jobs(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    case class J(id: Int, t0: Long, site: String, desc: String)
    val open = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(J, Long)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        open.put(js.jobId, J(js.jobId, js.time,
          prop("callSite.short").getOrElse("?"), prop("spark.job.description").getOrElse(""))): Unit
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = open.remove(je.jobId)
        if (j != null) done.add((j, je.time - j.t0)): Unit
      }
    }
    names.foreach { n =>
      timed(spark, dir, n) // warm rep, untimed, unprofiled
      System.gc()
      spark.sparkContext.addSparkListener(listener)
      val (total, rows) = try timed(spark, dir, n)
        finally spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(300) // let the listener bus drain
      val js = done.toArray(Array.empty[(J, Long)]).sortBy(_._1.id)
      println(f"[jobs] ===== $n: $rows rows, $total%.2f s wall, ${js.length} jobs, " +
        f"${js.map(_._2).sum / 1e3}%.2f s in-job =====")
      js.foreach { case (j, ms) =>
        println(f"[jobs] job${j.id}%4d ${ms / 1e3}%7.3f s  ${j.site}%-40s ${j.desc.take(60)}")
      }
      js.groupBy(_._1.site).map { case (s, xs) => (s, xs.map(_._2).sum, xs.length) }
        .toSeq.sortBy(-_._2).foreach { case (s, ms, k) =>
          println(f"[jobs] SITE ${ms / 1e3}%7.3f s  n=$k%3d  $s")
        }
      done.clear()
    }
  }

  def ab(spark: SparkSession, dir: String, names: Seq[String], key: String,
      a: String, b: String, pairs: Int): Unit = names.foreach { n =>
    def arm(v: String): Double = withConfs(spark, Seq(key -> v)) {
      val (s, _) = timed(spark, dir, n)
      System.gc()
      s
    }
    Seq(a, b).foreach(arm) // warm both plan shapes, untimed
    val runs = Seq.fill(pairs)((arm(a), arm(b)))
    def fmt(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString("/")
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    val (ra, rb) = runs.unzip
    println(f"[ab] $n%-28s $key $a=${fmt(ra)} $b=${fmt(rb)} " +
      f"med $a=${med(ra)}%.2f $b=${med(rb)}%.2f ratio=${med(rb) / med(ra)}%.2f")
  }

  def plans(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      println(s"[plans] ===== $n =====")
      graft.SparkEntry.queries(n)(spark, dir).explain("formatted")
    }

  /** Failures print ERR instead of timing a swallowed exception as ~0 s. */
  def scale(spark: SparkSession, dirs: Seq[String], names: Seq[String]): Unit =
    dirs.foreach { dir =>
      val sf = dir.split("/").last
      def err(tag: String, n: String, e: Throwable): Unit =
        println(s"[tri] $sf $n ${tag}ERR ${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").take(160)}")
      names.foreach { n =>
        try { timed(spark, dir, n); () } catch { case e: Exception => err("WARM-", n, e) }
      }
      System.gc()
      names.foreach { n =>
        try {
          val (s, rows) = timed(spark, dir, n)
          println(f"[tri] $sf $n%-28s $s%8.2f s  ($rows rows)")
        } catch { case e: Exception => err("", n, e) }
      }
    }
}
