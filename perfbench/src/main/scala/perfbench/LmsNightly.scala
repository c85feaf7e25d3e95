package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions.{col, spark_partition_id}
import org.apache.spark.sql.types._

import graft.io.{JdbcUpsert, Tables}
import graft.ops.{Coerce, Merge}

/** `lms_nightly`: one night of the reference job per batch. A live
  * `PagedRestSource` extract from an embedded server implementing the LMS
  * API, CSV landing, raw CSV read, coerce to the department_members schema,
  * last-write-wins merge on `lms_user_id` by `page`, and a keyed upsert into
  * in-memory Derby. Night 0 (every row an INSERT) runs in set-up; each later
  * night about 2% of users change and 0.5% are new, and about 1% of the
  * records repeat across page boundaries with a stale copy on the earlier
  * page. */
final class LmsNightly(ctx: Ctx) extends Workload {
  import LmsNightly._

  private val spark = ctx.spark
  private val users0 = ctx.size(15000, 300)
  private val pageSize = ctx.size(1000, 30)
  private val repeats = math.max(1, pageSize / 100)
  private val pagesPerPartition = math.max(1, users0 / pageSize / (2 * ctx.cores))
  private val roster = new Roster(ctx.seed, users0)
  private val server = new LmsServer(ctx.cores)
  private val landing = ctx.sub("landing")
  private val db = s"perfbench_lms_${ProcessHandle.current().pid()}"
  private val url = s"jdbc:derby:memory:$db"

  override def sizes: Map[String, Any] = Map(
    "initial_users" -> users0, "page_size" -> pageSize,
    "repeats_per_page_boundary" -> repeats, "pages_per_partition" -> pagesPerPartition,
    "nightly_changed_share" -> ChangedShare, "nightly_new_share" -> NewShare,
    "record_fields" -> 36)

  override def setup(): Unit = {
    // Derby shares compiled statements between connections; a MERGE plan
    // shared by concurrent connections fails with internal NPEs (checked on
    // Derby 10.16), so every connection compiles its own.
    System.setProperty("derby.language.statementCacheSize", "0")
    val c = java.sql.DriverManager.getConnection(s"$url;create=true")
    try c.createStatement().execute(
      "CREATE TABLE department_members (lms_user_id BIGINT NOT NULL PRIMARY KEY, " +
        "first_name VARCHAR(64), department_id VARCHAR(32), active_status INT)")
    finally c.close()
    server.start()
    server.publish(roster.night(repeats, pageSize))
    sync(0, new Tracer(false, -1))
    val check = verifyNight(0)
    Fs.deleteTree(java.nio.file.Paths.get(nightDir(0)))
    require(check.ok, s"night 0 load failed: ${check.detail}")
  }

  // nights are short: they speed up as the JIT compiles until about night 8
  override def warmups: Int = 8

  /** Batch `b` is night `b + warmups`: night 0 is the set-up load and
    * nights 1 .. warmups are the warm-up batches. */
  private def night(b: Int): Int = b + warmups

  override def prepare(b: Int): Unit = {
    roster.advance(night(b))
    server.publish(roster.night(repeats, pageSize))
  }

  override def run(b: Int, t: Tracer): Unit = sync(night(b), t)

  private def sync(night: Int, t: Tracer): Unit = {
    val requests0 = server.requests.get()
    val bytes0 = server.bytes.get()
    val busy0 = server.busyNs.get()
    val raw = t.span("sources.extract") {
      t.cut(spark.read.format("graft.sources.PagedRestSource")
        .option("url", server.url).option("username", User)
        .option("password", Password).option("privateKey", ApiKey)
        .option("pageSize", pageSize.toString)
        .option("pagesPerPartition", pagesPerPartition.toString)
        .load())
    }
    val path = nightDir(night)
    t.span("tables.csv_land")(Tables.writeCsv(raw, path))
    val csv = t.span("tables.csv_read")(t.cut(Tables.readCsvRaw(spark, path)))
    val typed = t.span("coerce.to_schema")(t.cut(Coerce.toSchema(csv, Schema)))
    val merged = t.span("merge.latest_by_key") {
      t.cut(Merge.latestByKey(typed, Seq("lms_user_id"), Seq("page")))
    }
    val before = if (t.enabled) tableRows() else 0L
    t.span("jdbc.upsert") {
      JdbcUpsert.writeWith(merged.select(Placeholders.map(col): _*), MergeSql,
        connector(url), batchSize = 500)
    }
    t.count("sources.http_requests", (server.requests.get() - requests0).toDouble)
    t.count("sources.response_bytes", (server.bytes.get() - bytes0).toDouble)
    t.count("sources.server_busy_s", (server.busyNs.get() - busy0) / 1e9)
    t.count("tables.csv_bytes", csvFiles(path).map(java.nio.file.Files.size).sum.toDouble)
    t.count("tables.csv_files", csvFiles(path).size.toDouble)
    t.count("merge.rows_in", typed.count().toDouble)
    val rowsOut = if (t.enabled) merged.count() else 0L
    t.count("merge.rows_out", rowsOut.toDouble)
    t.count("jdbc.rows", rowsOut.toDouble) // writeWith writes every merged row
    t.count("jdbc.transactions",
      merged.select(spark_partition_id()).distinct().count().toDouble)
    if (t.enabled) {
      val inserted = tableRows() - before
      t.count("jdbc.inserted", inserted.toDouble)
      t.count("jdbc.updated", (rowsOut - inserted).toDouble)
    }
  }

  override def verify(b: Int): Check = {
    val c = verifyNight(night(b))
    Fs.deleteTree(java.nio.file.Paths.get(nightDir(night(b))))
    c
  }

  /** Reads the whole target table back and compares it row by row with the
    * generator's roster: the checksum must match and every row must equal
    * its expected value. `recall` is the share of expected rows present and
    * equal. */
  private def verifyNight(night: Int): Check = {
    val expect = roster.expected
    val c = java.sql.DriverManager.getConnection(url)
    var rows = 0L
    var equal = 0L
    var sum = 0L
    val wrong = Seq.newBuilder[String]
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT lms_user_id, first_name, department_id, active_status FROM department_members")
      while (rs.next()) {
        val (id, name, dept, status) = (rs.getLong(1), rs.getString(2), rs.getString(3), rs.getInt(4))
        rows += 1
        sum += Roster.rowHash(id, name, dept, status)
        if (expect.get(id).contains((name, dept, status))) equal += 1
        else if (rows - equal <= 5)
          wrong += s"$id=($name,$dept,$status) expected ${expect.get(id).orNull}"
      }
    } finally c.close()
    val ok = rows == expect.size && sum == roster.checksum && equal == expect.size
    Check(ok, equal.toDouble / expect.size,
      s"night $night: rows $rows/${expect.size}, equal $equal, checksum ${sum == roster.checksum}" +
        wrong.result().map("; " + _).mkString)
  }

  private def tableRows(): Long = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM department_members")
      rs.next()
      rs.getLong(1)
    } finally c.close()
  }

  private def nightDir(night: Int): String = landing.resolve(s"night=$night").toString

  private def csvFiles(path: String): Seq[java.nio.file.Path] =
    Fs.files(path).filter(_.getFileName.toString.endsWith(".csv"))

  override def close(): Unit = {
    server.stop()
    try java.sql.DriverManager.getConnection(s"$url;drop=true")
    catch { case _: java.sql.SQLException => () } // Derby reports a dropped database as an exception
    Fs.deleteTree(landing)
  }
}

object LmsNightly {
  val User = "lms-user"
  val Password = "lms-pass"
  val ApiKey = "lms-private-key"
  val Token = "lms-token"
  val ChangedShare = 0.02
  val NewShare = 0.005

  /** The department_members target schema, plus the `page` recency column
    * the merge orders by. */
  val Schema: StructType = StructType(Seq(
    StructField("lms_user_id", LongType),
    StructField("first_name", StringType),
    StructField("department_id", StringType),
    StructField("active_status", IntegerType),
    StructField("page", IntegerType)))

  /** Derby has no ON CONFLICT; MERGE against the one-row dummy table is its
    * keyed upsert. The frame is projected to match the placeholders. */
  val MergeSql: String =
    "MERGE INTO department_members t USING SYSIBM.SYSDUMMY1 ON t.lms_user_id = ? " +
      "WHEN MATCHED THEN UPDATE SET first_name = ?, department_id = ?, active_status = ? " +
      "WHEN NOT MATCHED THEN INSERT (lms_user_id, first_name, department_id, active_status) " +
      "VALUES (?, ?, ?, ?)"
  val Placeholders: Seq[String] = {
    val row = Seq("lms_user_id", "first_name", "department_id", "active_status")
    row ++ row
  }

  def connector(url: String): () => java.sql.Connection =
    () => java.sql.DriverManager.getConnection(url)
}

/** The generated LMS roster: users in ascending id order, each with a
  * first name, department and status that change between nights. */
final class Roster(seed: Long, initial: Int) {
  import Roster._

  private var n = initial
  private var ids = Array.tabulate(initial)(idOf)
  private var name = Array.tabulate(initial)(i => mix(seed, i, 1) % Names.length)
  private var dept = Array.tabulate(initial)(i => mix(seed, i, 2) % Depts)
  private var status = Array.tabulate(initial)(i => mix(seed, i, 3) % 3)

  private def idOf(i: Int): Long = 1000000L + 3L * i + (mix(seed, i, 0) & 1)

  /** Night `night`'s changes: about 2% of users change one attribute and
    * 0.5% new users join. */
  def advance(night: Int): Unit = {
    val rnd = new SplittableRandom(seed * 1000003L + night)
    var i = 0
    while (i < n) {
      if (rnd.nextDouble() < LmsNightly.ChangedShare) rnd.nextInt(3) match {
        case 0 => name(i) = (name(i) + 1 + rnd.nextInt(Names.length - 1)) % Names.length
        case 1 => dept(i) = (dept(i) + 1 + rnd.nextInt(Depts - 1)) % Depts
        case _ => status(i) = (status(i) + 1 + rnd.nextInt(2)) % 3
      }
      i += 1
    }
    val added = math.max(1, math.round(n * LmsNightly.NewShare).toInt)
    val m = n + added
    ids = java.util.Arrays.copyOf(ids, m)
    name = java.util.Arrays.copyOf(name, m)
    dept = java.util.Arrays.copyOf(dept, m)
    status = java.util.Arrays.copyOf(status, m)
    (n until m).foreach { j =>
      ids(j) = idOf(j)
      name(j) = rnd.nextInt(Names.length)
      dept(j) = rnd.nextInt(Depts)
      status(j) = rnd.nextInt(3)
    }
    n = m
  }

  def expected: Map[Long, (String, String, Int)] =
    (0 until n).iterator.map(i => ids(i) -> (Names(name(i)), deptName(dept(i)), status(i))).toMap

  def checksum: Long =
    (0 until n).iterator.map(i => rowHash(ids(i), Names(name(i)), deptName(dept(i)), status(i))).sum

  /** The night's record stream as the API serves it, in pages of
    * `pageSize`: every page boundary carries `repeats` users twice, a stale
    * copy at the end of the earlier page and the current one at the start
    * of the next, as offset paging over a changing table does. */
  def night(repeats: Int, pageSize: Int): NightView = {
    val entries = Array.newBuilder[Int] // user index * 2 + stale bit
    var i = 0
    var pending = Seq.empty[Int]
    while (i < n || pending.nonEmpty) {
      pending.foreach(u => entries += u * 2)
      // the rest fits on this page, or the page ends with `repeats` stale
      // copies: every page but the last is full, so a stale copy always
      // sits on an earlier page than its current one
      val room = pageSize - pending.size
      val fresh = if (n - i <= room) n - i else room - repeats
      (i until i + fresh).foreach(u => entries += u * 2)
      i += fresh
      if (i < n) {
        val tail = i until i + repeats
        tail.foreach(u => entries += u * 2 + 1)
        pending = tail
        i = tail.end
      } else pending = Nil
    }
    NightView(entries.result(), ids.clone(), name.clone(), dept.clone(), status.clone(), seed)
  }
}

object Roster {
  val Names: Array[String] = Array("Ada", "Alan", "Alice", "Amir", "Ana", "Ben", "Bea",
    "Carl", "Chen", "Cleo", "Dan", "Dora", "Eli", "Emma", "Eva", "Femi", "Finn", "Gia",
    "Hana", "Hugo", "Ian", "Ines", "Ivan", "Jade", "Jon", "Kai", "Kim", "Lea", "Leo",
    "Lin", "Mai", "Max", "Mia", "Nia", "Noah", "Omar", "Oona", "Paul", "Pia", "Raj",
    "Rosa", "Sam", "Sara", "Tao", "Tess", "Uma", "Vera", "Wei", "Yara", "Zoe")
  val Depts = 40
  def deptName(d: Int): String = f"dept_$d%03d"

  def mix(seed: Long, i: Long, salt: Long): Int = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    ((z ^ (z >>> 31)) & 0x7fffffff).toInt
  }

  def rowHash(id: Long, name: String, dept: String, status: Int): Long =
    java.util.Objects.hash(Long.box(id), name, dept, Int.box(status)).toLong * 0x9E3779B97F4A7C15L + id
}

/** One night's immutable snapshot, served by [[LmsServer]]. */
final case class NightView(entries: Array[Int], ids: Array[Long], name: Array[Int],
    dept: Array[Int], status: Array[Int], seed: Long) {
  /** Renders `entries[offset, offset + limit)` as the reference API's users
    * envelope with full 36-field user records. */
  def page(offset: Int, limit: Int): String = {
    val from = math.max(0, math.min(offset, entries.length))
    val to = math.max(from, math.min(entries.length, offset + limit))
    val b = new java.lang.StringBuilder(512 * (to - from) + 128)
    b.append("{\"totalItems\":").append(entries.length).append(",\"limit\":").append(limit)
      .append(",\"offset\":").append(offset).append(",\"returnedItems\":").append(to - from)
      .append(",\"users\":[")
    var k = from
    while (k < to) {
      if (k > from) b.append(',')
      val u = entries(k) >> 1
      val stale = (entries(k) & 1) == 1
      val first = Roster.Names(if (stale) (name(u) + 1) % Roster.Names.length else name(u))
      val st = if (stale) (status(u) + 1) % 3 else status(u)
      user(b, ids(u), first, Roster.deptName(dept(u)), st)
      k += 1
    }
    b.append("]}").toString
  }

  private def user(b: java.lang.StringBuilder, id: Long, first: String, dept: String, st: Int): Unit = {
    val h = Roster.mix(seed, id, 7)
    val last = Roster.Names(h % Roster.Names.length) + "son"
    val login = s"${first.toLowerCase}.${last.toLowerCase}$id"
    def s(k: String, v: String): Unit = b.append('"').append(k).append("\":\"").append(v).append("\",")
    def n(k: String, v: Long): Unit = b.append('"').append(k).append("\":").append(v).append(',')
    b.append('{')
    n("id", id); s("firstName", first); s("lastName", last); s("email", s"$login@example.org")
    s("username", login); s("departmentId", dept); n("activeStatus", st)
    s("title", Seq("Engineer", "Analyst", "Manager", "Teacher", "Nurse")(h % 5))
    s("phone", f"+1-555-${h % 10000}%04d"); s("mobile", f"+1-555-${(h / 7) % 10000}%04d")
    s("locale", "en-US"); s("timezone", "America/Chicago")
    s("createdAt", "2021-03-04T05:06:07Z"); s("updatedAt", "2024-01-02T03:04:05Z")
    s("lastLoginAt", f"2024-05-${1 + h % 28}%02dT08:00:00Z"); n("managerId", 1000000L + h % 5000)
    s("employeeNumber", f"E${id % 10000000}%07d"); s("costCenter", f"CC${h % 300}%03d")
    s("location", Seq("North", "South", "East", "West")(h % 4)); s("country", "US")
    s("city", Seq("Austin", "Boston", "Denver", "Fresno", "Tulsa")(h % 5))
    s("postalCode", f"${h % 100000}%05d"); s("addressLine1", s"${h % 9000 + 100} Main St")
    s("addressLine2", ""); s("jobCode", f"J${h % 800}%03d"); s("hireDate", "2019-08-15")
    s("role", if (h % 17 == 0) "admin" else "member"); b.append("\"isAdmin\":").append(h % 17 == 0).append(',')
    s("externalId", java.lang.Long.toHexString(id * 2654435761L)); s("ssoProvider", "saml")
    s("avatarUrl", s"https://cdn.example.org/a/$id.png"); s("bio", "")
    b.append("\"languages\":[\"en\"],\"tags\":[\"staff\"],")
    s("customField1", f"${h % 97}%02d"); b.append("\"customField2\":null}")
  }
}

/** Embedded JDK `HttpServer` implementing the reference LMS API:
  * POST /authenticate returns a token; GET /users requires it and serves
  * limit/offset pages of the published night. Its thread pool has one thread
  * per core. */
final class LmsServer(threads: Int) {
  val requests = new AtomicLong()
  val bytes = new AtomicLong()
  val busyNs = new AtomicLong()
  @volatile private var view: NightView = _
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/authenticate", (ex: HttpExchange) => timed(ex) {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val ok = ex.getRequestHeaders.getFirst("x-api-key") == LmsNightly.ApiKey &&
      body.contains(s""""username":"${LmsNightly.User}"""") &&
      body.contains(s""""password":"${LmsNightly.Password}"""")
    if (ok) (200, s"""{"access_token":"${LmsNightly.Token}"}""")
    else (401, """{"error":"bad credentials"}""")
  })
  server.createContext("/users", (ex: HttpExchange) => timed(ex) {
    if (ex.getRequestHeaders.getFirst("Authorization") != s"Bearer ${LmsNightly.Token}")
      (401, """{"error":"unauthorized"}""")
    else {
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
        .filter(_.contains("=")).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
      (200, view.page(q.getOrElse("offset", "0").toInt, q.getOrElse("limit", "100").toInt))
    }
  })

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def start(): Unit = server.start()
  def publish(v: NightView): Unit = view = v
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def timed(ex: HttpExchange)(handle: => (Int, String)): Unit = {
    val t0 = System.nanoTime()
    try {
      val (code, body) = handle
      val out = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("content-type", "application/json")
      ex.sendResponseHeaders(code, out.length)
      val os = ex.getResponseBody
      os.write(out)
      os.close()
      bytes.addAndGet(out.length)
    } finally {
      requests.incrementAndGet()
      busyNs.addAndGet(System.nanoTime() - t0)
    }
  }
}
