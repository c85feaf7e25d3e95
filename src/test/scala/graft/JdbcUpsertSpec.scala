package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.io.JdbcUpsert

/** S8 sink: upsert statement generation (mirrors the reference's
  * string-built ON CONFLICT form, rds:71-79) and the harness-side
  * parquet merge sink's LWW + idempotence. */
class JdbcUpsertSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("upsert statement matches the reference's ON CONFLICT shape") {
    val sql = JdbcUpsert.upsertStatement("department_members",
      Seq("lms_user_id", "first_name", "email"), Seq("lms_user_id"))
    assert(sql ==
      """INSERT INTO "department_members" ("lms_user_id", "first_name", "email") VALUES (?, ?, ?) """ +
        """ON CONFLICT ("lms_user_id") DO UPDATE SET "first_name" = EXCLUDED."first_name", "email" = EXCLUDED."email"""")
  }

  test("all-key upsert degrades to DO NOTHING") {
    val sql = JdbcUpsert.upsertStatement("t", Seq("k1", "k2"), Seq("k1", "k2"))
    assert(sql.endsWith("DO NOTHING"))
  }

  test("keys must be a subset of columns") {
    intercept[IllegalArgumentException] {
      JdbcUpsert.upsertStatement("t", Seq("a"), Seq("missing"))
    }
  }

  // --- end-to-end writer loop against embedded Derby (the one JDBC
  // engine on the Spark classpath). Derby has no ON CONFLICT, so these
  // drive writeWith (the dialect seam) with a plain INSERT — the
  // machinery under test is exactly the production path: executor-side
  // connections, per-partition transactions, batch flushes, rollback.

  // connector must not capture the (non-serializable) spec instance —
  // built from a top-level object so the closure ships only the URL
  private def derbyConn(db: String): java.sql.Connection =
    DerbyHelper.connect(db)()

  test("writeWith drives the real foreachPartition path into Derby (multi-partition, batch remainder)") {
    val db = "gw1"
    val c0 = derbyConn(db)
    c0.createStatement().execute(
      "CREATE TABLE sink (id BIGINT PRIMARY KEY, name VARCHAR(32), score DOUBLE)")
    c0.close()
    // 257 rows / batchSize 50 across 4 partitions: every partition has
    // full batches AND a remainder flush; executors open their own
    // connections via the serializable lambda (captures only the string)
    val df = (1 to 257).map(i => (i.toLong, s"n$i", i * 0.5)).toDF("id", "name", "score")
      .repartition(4)
    JdbcUpsert.writeWith(df, "INSERT INTO sink VALUES (?, ?, ?)",
      DerbyHelper.connect(db), batchSize = 50)
    val c1 = derbyConn(db)
    val rs = c1.createStatement().executeQuery(
      "SELECT COUNT(*), SUM(id), SUM(score) FROM sink")
    rs.next()
    assert(rs.getLong(1) == 257L)
    assert(rs.getLong(2) == (1 to 257).map(_.toLong).sum)
    assert(math.abs(rs.getDouble(3) - (1 to 257).map(_ * 0.5).sum) < 1e-9)
    val rs2 = c1.createStatement().executeQuery("SELECT name FROM sink WHERE id = 257")
    rs2.next(); assert(rs2.getString(1) == "n257")
    c1.close()
  }

  test("writeWith rolls back the whole partition on mid-batch failure") {
    val db = "gw2"
    val c0 = derbyConn(db)
    c0.createStatement().execute(
      "CREATE TABLE sink2 (id BIGINT PRIMARY KEY, name VARCHAR(32))")
    c0.close()
    // single partition, dup PK at row 25 of 50 with batchSize 10: two
    // batches execute BEFORE the poison batch — the rollback must erase
    // them too (all-or-nothing per partition), not just the failing batch
    val rows = (1 to 50).map(i => (if (i == 25) 1L else i.toLong, s"n$i"))
    val df = rows.toDF("id", "name").coalesce(1)
    intercept[org.apache.spark.SparkException] {
      JdbcUpsert.writeWith(df, "INSERT INTO sink2 VALUES (?, ?)",
        DerbyHelper.connect(db), batchSize = 10)
    }
    val c1 = derbyConn(db)
    val rs = c1.createStatement().executeQuery("SELECT COUNT(*) FROM sink2")
    rs.next()
    assert(rs.getLong(1) == 0L, "partial batches must be rolled back with the transaction")
    c1.close()
  }

  test("write() generates the Postgres statement over writeWith (dialect seam intact)") {
    // write() itself must stay statement-compatible with the reference's
    // Postgres target; against Derby it should fail at PARSE time (no
    // ON CONFLICT) — proving write routes through the generated upsert
    // and the seam separates statement dialect from writer machinery
    val db = "gw3"
    val c0 = derbyConn(db)
    c0.createStatement().execute(
      "CREATE TABLE sink3 (id BIGINT PRIMARY KEY, name VARCHAR(32))")
    c0.close()
    val df = Seq((1L, "a")).toDF("id", "name").coalesce(1)
    val e = intercept[org.apache.spark.SparkException] {
      JdbcUpsert.write(df, "sink3", Seq("id"), DerbyHelper.connect(db))
    }
    assert(e.getCause != null)
  }

  test("mergeIntoParquet: create, upsert, idempotent re-apply") {
    val path = Files.createTempDirectory("graft_merge").toString + "/table"
    val batch1 = Seq((101L, "old", 1L), (102L, "b", 1L)).toDF("k", "v", "ver")
    JdbcUpsert.mergeIntoParquet(spark, path, batch1, Seq("k"), Seq("ver"))
    val batch2 = Seq((101L, "new", 2L), (103L, "c", 2L)).toDF("k", "v", "ver")
    JdbcUpsert.mergeIntoParquet(spark, path, batch2, Seq("k"), Seq("ver"))
    def state() = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state() == Map(101L -> "new", 102L -> "b", 103L -> "c"))
    JdbcUpsert.mergeIntoParquet(spark, path, batch2, Seq("k"), Seq("ver"))
    assert(state() == Map(101L -> "new", 102L -> "b", 103L -> "c"))
  }

  test("mergeIntoParquet: a stale non-empty <path>_old fails the merge, table keeps its rows") {
    val path = Files.createTempDirectory("graft_merge_old").toString + "/table"
    JdbcUpsert.mergeIntoParquet(spark, path,
      Seq((1L, "a", 1L)).toDF("k", "v", "ver"), Seq("k"), Seq("ver"))
    val stale = new java.io.File(path + "_old")
    assert(stale.mkdir())
    Files.write(new java.io.File(stale, "leftover").toPath, Array[Byte](1))
    intercept[java.io.IOException] {
      JdbcUpsert.mergeIntoParquet(spark, path,
        Seq((2L, "b", 1L)).toDF("k", "v", "ver"), Seq("k"), Seq("ver"))
    }
    val rows = spark.read.parquet(path).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "a"))
  }
}

/** Serializable Derby connector factory: the returned lambda captures
  * only the URL string, so it ships to executors cleanly. */
object DerbyHelper {
  def connect(db: String): () => java.sql.Connection = {
    val url = s"jdbc:derby:memory:$db;create=true"
    () => java.sql.DriverManager.getConnection(url)
  }
}
