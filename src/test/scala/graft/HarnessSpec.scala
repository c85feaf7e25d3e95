package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Harness

/** Every `tools.Harness` mode runs once on sf0.001 in the shared test
  * session and prints its result line. */
class HarnessSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"
  private val q = "q1_pricing_summary"

  private def output(args: String*): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(Harness.run(spark, args.toArray))
    buf.toString("UTF-8")
  }

  test("reps: one timed line per run") {
    assert(output("reps", sfDir, q, "1").linesIterator.count(_.startsWith(s"[reps] $q")) == 1)
  }

  test("jobs: a per-query header and at least one job line") {
    val out = output("jobs", sfDir, q)
    assert(out.contains(s"[jobs] ===== $q:"))
    assert(out.linesIterator.exists(_.startsWith("[jobs] job")))
  }

  test("ab: one ratio line, and the arm's key is restored afterwards") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.getOption(key)
    val out = output("ab", sfDir, q, s"$key=false", s"$key=true", "1")
    assert(out.linesIterator.exists(l => l.startsWith(s"[ab] $q") && l.contains("ratio=")))
    assert(spark.conf.getOption(key) == prior)
  }

  test("plans: a header and a formatted physical plan per query") {
    val out = output("plans", sfDir, q)
    assert(out.contains(s"[plans] ===== $q ====="))
    assert(out.contains("Physical Plan"))
  }

  test("scale: the [tri] line tools/tri_exponents.py parses") {
    val tri = """\[tri\] (\S+) (\S+)\s+([0-9.]+) s\s+\((\d+) rows\)""".r
    val out = output("scale", sfDir, q)
    assert(out.linesIterator.exists(l => tri.findFirstMatchIn(l)
      .exists(m => m.group(1) == "sf0.001" && m.group(2) == q)), out)
  }

  test("key=value arguments apply for the run only") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    assert(output("reps", sfDir, q, s"$key=-1", "1").contains(s"[reps] $q"))
    assert(spark.conf.getOption(key) == prior)
  }
}
