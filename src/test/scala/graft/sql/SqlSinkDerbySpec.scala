package graft.sql

import graft.SparkSpec
import graft.checks.Validations.Method

/** Hermetic JDBC round-trip against embedded Derby — the stand-in for
  * the reference's live-Azure integration suite (SURVEY.md §5): write
  * via the sink, read back over JDBC, compare with goldens. Exercises
  * O9/O10/O12/O13/O14/O21/O22 in one path. */
class SqlSinkDerbySpec extends SparkSpec {

  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private def cfg(table: String, method: Method,
      ids: Seq[String] = Nil) =
    SqlSink.Config(url, table, "app_s", method, ids,
      dialect = DerbyDialect, numPartitions = Some(2))

  private def readBack(table: String, schema: String = "app_s") =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", s""""$schema"."$table"""")
      .load()

  /** Index name -> (non-unique, columns in key order) of schema.table,
    * straight from Derby's metadata. */
  private def indexes(table: String,
      schema: String = "app_s"): Map[String, (Boolean, Seq[String])] =
    JdbcOps.withConnection(url) { conn =>
      val rs = conn.getMetaData.getIndexInfo(null, schema, table, false, false)
      val rows = Seq.newBuilder[(String, Boolean, Int, String)]
      try while (rs.next())
        if (rs.getString("TABLE_SCHEM") == schema &&
            rs.getString("TABLE_NAME") == table)
          rows += ((rs.getString("INDEX_NAME"), rs.getBoolean("NON_UNIQUE"),
            rs.getInt("ORDINAL_POSITION"), rs.getString("COLUMN_NAME")))
      finally rs.close()
      rows.result().groupBy(_._1).map { case (name, cols) =>
        name -> ((cols.head._2, cols.sortBy(_._3).map(_._4)))
      }
    }

  private def keyIndex(table: String, cols: String*) =
    Map(s"${table}__graft_key" -> ((true, cols.toSeq)))

  test("create: DDL-replace + distributed append, round-trips") {
    val df = Seq((1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5))
      .toDF("id", "name", "val")
    assert(SqlSink.write(df, cfg("t_create", Method.Create)))
    val got = readBack("t_create").orderBy("id")
      .as[(Int, String, java.math.BigDecimal)].collect()
    assert(got.map(_._1).toSeq === Seq(1, 2, 3))
    // doubles land as NUMERIC(18,2) — server-side rounding is the
    // reference contract (SURVEY.md §7.4 trap 8)
    assert(got.map(_._3.doubleValue).toSeq === Seq(1.5, 2.5, 3.5))
  }

  test("create replaces the table on every call (reference export.py:169)") {
    val df1 = Seq((1, "x")).toDF("id", "v")
    val df2 = Seq((7, "y"), (8, "z")).toDF("id", "v")
    SqlSink.write(df1, cfg("t_replace", Method.Create))
    SqlSink.write(df2, cfg("t_replace", Method.Create))
    assert(readBack("t_replace").as[(Int, String)].collect().map(_._1)
      .sorted.toSeq === Seq(7, 8))
  }

  test("append inserts without DDL") {
    val df1 = Seq((1, "x")).toDF("id", "v")
    val df2 = Seq((2, "y")).toDF("id", "v")
    SqlSink.write(df1, cfg("t_app", Method.Create))
    SqlSink.write(df2, cfg("t_app", Method.Append))
    assert(readBack("t_app").count() === 2)
  }

  test("upsert golden: {1,3,4} merge {1,3,5,6} → {1,3,4,5,6}, row 1 " +
    "replaced (reference tests/test_upsert.py:17-48)") {
    val target = Seq((1, "o1", 10), (3, "o3", 30), (4, "o4", 40))
      .toDF("id", "v", "n")
    val source = Seq((1, "n1", 11), (3, "n3", 33), (5, "n5", 55),
      (6, "n6", 66)).toDF("id", "v", "n")
    SqlSink.write(target, cfg("t_up", Method.Create))
    SqlSink.write(source, cfg("t_up", Method.Upsert, Seq("id")))
    val got = readBack("t_up").orderBy("id")
      .as[(Int, String, Int)].collect().toSeq
    assert(got === Seq((1, "n1", 11), (3, "n3", 33), (4, "o4", 40),
      (5, "n5", 55), (6, "n6", 66)))
    // staging cleaned up (cleanStaging = true default)
    assertThrows[Exception] { readBack("t_up", "staging").collect() }
  }

  test("upsert with duplicate keys in the source is rejected") {
    val target = Seq((1, "a")).toDF("id", "v")
    val source = Seq((1, "b"), (1, "c")).toDF("id", "v")
    SqlSink.write(target, cfg("t_dup", Method.Create))
    assertThrows[graft.checks.UpsertError] {
      SqlSink.write(source, cfg("t_dup", Method.Upsert, Seq("id")))
    }
  }

  test("column names with spaces survive create + MERGE upsert " +
    "(reference tests/test_upsert.py:137-169)") {
    val target = Seq((1, "a"), (2, "b")).toDF("id", "col a")
    val source = Seq((2, "B"), (3, "c")).toDF("id", "col a")
    SqlSink.write(target, cfg("t_sp", Method.Create))
    SqlSink.write(source, cfg("t_sp", Method.Upsert, Seq("id")))
    val got = readBack("t_sp").orderBy("id")
      .as[(Int, String)].collect().toSeq
    assert(got === Seq((1, "a"), (2, "B"), (3, "c")))
  }

  test("interval column lands as float seconds (reference O4 ordering)") {
    import java.time.Duration
    val df = Seq((1, Duration.ofSeconds(90)), (2, Duration.ofMinutes(2)))
      .toDF("id", "td")
    SqlSink.write(df, cfg("t_td", Method.Create))
    val got = readBack("t_td").orderBy("id")
      .as[(Int, java.math.BigDecimal)].collect()
    // NUMERIC(18,2) of 90.0 and 120.0 seconds
    assert(got.map(_._2.doubleValue).toSeq === Seq(90.0, 120.0))
  }

  test("JDBC read pushes filters into the database scan") {
    import org.apache.spark.sql.functions.col
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    SqlSink.write(df, cfg("t_push", Method.Create))
    val q = readBack("t_push").filter(col("id") > 1)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan"),
      plan)
    assert(q.count() === 2)
  }

  test("empty input is a no-op (reference export.py:96-99)") {
    val empty = Seq.empty[(Int, String)].toDF("id", "v")
    assert(!SqlSink.write(empty, cfg("t_empty", Method.Create)))
  }

  test("stale staging from cleanStaging=false never poisons a later " +
    "upsert (reference tests/test_upsert.py:172-238 scenario)") {
    // Reference sequence: create `sample`, upsert with clean_staging
    // False (staging.sample left behind), re-create `sample` with
    // RENAMED columns, upsert again → the reference reuses the stale
    // staging table and raises UpsertError. This sink DDL-replaces
    // staging on every upsert, so the same sequence must SUCCEED with
    // the renamed shape — strictly stronger, pinned here.
    def up(ids: Seq[String]) =
      cfg("t_stale", Method.Upsert, ids).copy(cleanStaging = false)
    SqlSink.write(Seq((1, "a"), (2, "b")).toDF("col_a", "col_b"),
      cfg("t_stale", Method.Create))
    SqlSink.write(Seq((2, "B"), (3, "c")).toDF("col_a", "col_b"),
      up(Seq("col_a")))
    // stale staging with the OLD column names is really there (plus
    // the attempt tags the staged-upsert dedup rides on — the MERGE
    // names only data columns, so the tags never reach the target)
    assert(readBack("t_stale", "staging").columns.toSeq ===
      Seq("col_a", "col_b", "__graft_pid", "__graft_att"))
    // re-create + upsert under renamed columns — reference throws here
    SqlSink.write(Seq((1, "a"), (2, "b")).toDF("test_a", "test_b"),
      cfg("t_stale", Method.Create))
    SqlSink.write(Seq((2, "B"), (3, "c")).toDF("test_a", "test_b"),
      up(Seq("test_a")))
    assert(readBack("t_stale").orderBy("test_a").as[(Int, String)]
      .collect().toSeq === Seq((1, "a"), (2, "B"), (3, "c")))
  }

  test("exactlyOnceAppend: appends through staging, preserves " +
    "legitimately duplicate rows, drops staging") {
    val eo = cfg("t_eo", Method.Append).copy(exactlyOnceAppend = true)
    SqlSink.write(Seq((1, "a")).toDF("id", "v"),
      cfg("t_eo", Method.Create))
    // the batch itself carries a duplicate ROW — append semantics must
    // keep both copies (only duplicate COMMITS collapse)
    assert(SqlSink.write(Seq((2, "b"), (2, "b"), (3, "c")).toDF("id", "v"), eo))
    assert(readBack("t_eo").orderBy("id").as[(Int, String)].collect()
      .toSeq === Seq((1, "a"), (2, "b"), (2, "b"), (3, "c")))
    // cleanStaging (default true) dropped the staging table
    assertThrows[Exception] {
      readBack("t_eo__append", "staging").collect()
    }
  }

  test("exactlyOnceAppend: a double-committed partition (task retry " +
    "after its commit) lands exactly once") {
    val eo = cfg("t_eo2", Method.Append).copy(exactlyOnceAppend = true)
    SqlSink.write(Seq((0, "seed")).toDF("id", "v"),
      cfg("t_eo2", Method.Create))
    val batch = Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "v")
    // stage only, then forge the exact wreckage a post-commit task
    // death leaves: a SECOND complete copy of one partition's rows
    // under a different attempt id (Spark reruns the task; both
    // attempts' partition-transactions committed)
    JdbcOps.withConnection(url)(SqlSink.stageForAppend(_, batch, eo))
    val stg = """"staging"."t_eo2__append""""
    // the attempt tags must be REAL task attempt ids, not the driver's
    // -1 fallback: an all-constant tag would make two genuinely
    // committed attempts of one partition indistinguishable (both kept
    // → duplicates), while this very test's forged copy would still
    // pass on its artificial +100000 offset
    assert(JdbcOps.queryCount(url,
      s"""SELECT MIN("__graft_att") FROM $stg""") >= 0L)
    // one attempt per partition: distinct tags == distinct partitions
    assert(JdbcOps.queryCount(url,
      s"""SELECT COUNT(DISTINCT "__graft_att") FROM $stg""") ===
      JdbcOps.queryCount(url,
        s"""SELECT COUNT(DISTINCT "__graft_pid") FROM $stg"""))
    val duplicatedPid = JdbcOps.queryCount(url,
      s"""SELECT MIN("__graft_pid") FROM $stg""")
    JdbcOps.execute(url,
      s"""INSERT INTO $stg ("id", "v", "__graft_pid", "__graft_att") """ +
        s"""SELECT "id", "v", "__graft_pid", "__graft_att" + 100000 """ +
        s"""FROM $stg WHERE "__graft_pid" = $duplicatedPid""")
    // the staging table really is poisoned: more rows than the batch
    assert(JdbcOps.queryCount(url, s"SELECT COUNT(*) FROM $stg") > 4)
    JdbcOps.withConnection(url)(SqlSink.finalizeAppend(_, batch, eo))
    // ...but the finalize kept ONE attempt per partition
    assert(readBack("t_eo2").orderBy("id").as[(Int, String)].collect()
      .toSeq === Seq((0, "seed"), (1, "a"), (2, "b"), (3, "c"), (4, "d")))
  }

  test("exactlyOnceAppend under randomized multi-partition wreckage: " +
    "any subset of partitions double/triple-committed still lands " +
    "exactly once") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val tbl = s"t_eo_fz$trial"
      val eo = cfg(tbl, Method.Append)
        .copy(exactlyOnceAppend = true, numPartitions = Some(4))
      SqlSink.write(Seq((-1, "seed")).toDF("id", "v"),
        cfg(tbl, Method.Create))
      val rows = (0 until 40).map(i => (i, s"v$i"))
      val batch = rows.toDF("id", "v")
      JdbcOps.withConnection(url)(SqlSink.stageForAppend(_, batch, eo))
      val stg = s""""staging"."${tbl}__append""""
      // forge: every partition independently gets 0, 1 or 2 EXTRA
      // complete committed attempts under fresh attempt ids
      val pids = (0 until 4).filter(_ => true)
      pids.foreach { pid =>
        val extras = rnd.nextInt(3)
        (1 to extras).foreach { k =>
          JdbcOps.execute(url,
            s"""INSERT INTO $stg ("id", "v", "__graft_pid", "__graft_att") """ +
              s"""SELECT "id", "v", "__graft_pid", "__graft_att" + ${k * 100000} """ +
              s"""FROM $stg WHERE "__graft_pid" = $pid AND "__graft_att" < 100000""")
        }
      }
      JdbcOps.withConnection(url)(SqlSink.finalizeAppend(_, batch, eo))
      val got = readBack(tbl).as[(Int, String)].collect().toSet
      assert(got === (rows.toSet + ((-1, "seed"))),
        s"trial $trial: exactly-once violated")
      assert(readBack(tbl).count() === 41L, s"trial $trial: row count")
    }
  }

  test("exactlyOnceAppend finalize fuzz: 200 random speculation storms " +
    "(1-5 partitions, 0-6 rows, 1-3 committed attempts each, attempt " +
    "ids COLLIDING across partitions) all land exactly once") {
    // finalize-level fuzz at JDBC speed: the staging table is forged
    // directly (no Spark write per trial), which is exactly what the
    // staged state IS after any storm of complete committed attempt
    // copies — the three e2e trials above cover the stage path itself.
    // Attempt ids are drawn from 0..4 so cross-partition collisions
    // are the NORM: the correlated per-pid MIN in finalizeAppend must
    // never let pid B's copy ride in on pid A's min id (the old
    // `att IN (mins)` form failed exactly this shape).
    val tbl = "t_eo_fuzz"
    val stg = s""""staging"."${tbl}__append""""
    val tgt = s""""app_s"."$tbl""""
    JdbcOps.executeIgnore(url, """CREATE SCHEMA "app_s"""")
    JdbcOps.executeIgnore(url, """CREATE SCHEMA "staging"""")
    JdbcOps.executeIgnore(url, s"DROP TABLE $tgt")
    JdbcOps.execute(url, s"CREATE TABLE $tgt (\"id\" INT, \"v\" INT)")
    val norm = Seq((0, 0)).toDF("id", "v") // column names for finalize
    val eo = cfg(tbl, Method.Append)
      .copy(exactlyOnceAppend = true, cleanStaging = false)
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 200) {
      JdbcOps.execute(url, s"DELETE FROM $tgt")
      JdbcOps.executeIgnore(url, s"DROP TABLE $stg")
      JdbcOps.execute(url, s"CREATE TABLE $stg (\"id\" INT, \"v\" INT, " +
        "\"__graft_pid\" INT, \"__graft_att\" BIGINT)")
      val npids = 1 + rnd.nextInt(5)
      var expRows = 0L
      var expIdSum = 0L
      val values = (0 until npids).flatMap { pid =>
        val nRows = rnd.nextInt(7)
        val rows = (0 until nRows).map(r => (pid * 1000 + r, rnd.nextInt(100)))
        expRows += nRows
        expIdSum += rows.map(_._1.toLong).sum
        // 1-3 complete committed attempt copies, ids sampled from a
        // 5-value pool (collisions across pids virtually guaranteed)
        val atts = rnd.shuffle((0 to 4).toList).take(1 + rnd.nextInt(3))
        atts.flatMap(att => rows.map { case (id, v) =>
          s"($id, $v, $pid, $att)"
        })
      }
      if (values.nonEmpty)
        JdbcOps.execute(url,
          s"INSERT INTO $stg (\"id\", \"v\", \"__graft_pid\", " +
            s"\"__graft_att\") VALUES ${values.mkString(", ")}")
      JdbcOps.withConnection(url)(SqlSink.finalizeAppend(_, norm, eo))
      val gotRows = JdbcOps.queryCount(url, s"SELECT COUNT(*) FROM $tgt")
      assert(gotRows === expRows, s"trial $trial: row count")
      if (expRows > 0) {
        val gotIds = JdbcOps.queryCount(url,
          s"SELECT COUNT(DISTINCT \"id\") FROM $tgt")
        val gotIdSum = JdbcOps.queryCount(url, s"SELECT SUM(\"id\") FROM $tgt")
        assert(gotIds === expRows, s"trial $trial: distinct ids")
        assert(gotIdSum === expIdSum, s"trial $trial: id content")
      }
    }
  }

  test("exactlyOnceAppend refuses input that collides with the " +
    "reserved tag columns") {
    val eo = cfg("t_eo3", Method.Append).copy(exactlyOnceAppend = true)
    assertThrows[IllegalArgumentException] {
      SqlSink.write(Seq((1, 2)).toDF("id", "__graft_att"), eo)
    }
  }

  test("create with an unmappable column fails BEFORE the drop: the " +
    "standing target survives a failed inference intact") {
    SqlSink.write(Seq((1, "keep")).toDF("id", "v"),
      cfg("t_guard", Method.Create))
    assertThrows[graft.checks.UnknownDtypeError] {
      SqlSink.write(Seq((1, Array(1.0, 2.0))).toDF("id", "arr"),
        cfg("t_guard", Method.Create))
    }
    assert(readBack("t_guard").as[(Int, String)].collect().toSeq ===
      Seq((1, "keep")),
      "a failed create destroyed the table it could not replace")
  }

  test("upsert refuses schema == stagingSchema: staging under the " +
    "target's own name would DDL-replace the target and self-merge") {
    val bad = SqlSink.Config(url, "t_self", "staging", Method.Upsert,
      Seq("id"), dialect = DerbyDialect)
    assertThrows[IllegalArgumentException] {
      SqlSink.write(Seq((1, "x")).toDF("id", "v"), bad)
    }
  }

  test("whitespace-padded column names are trimmed ONCE at the " +
    "boundary: DDL, distributed JDBC INSERT and MERGE all agree " +
    "(reference db.py:18 strips only in the MERGE)") {
    val df = Seq((1, 10), (2, 20)).toDF(" id ", "  amount")
    SqlSink.write(df, cfg("t_pad", Method.Create))
    assert(readBack("t_pad").columns.toSeq === Seq("id", "amount"))
    // padded idField resolves against the trimmed frame too
    SqlSink.write(Seq((2, 21), (3, 30)).toDF(" id ", "amount  "),
      cfg("t_pad", Method.Upsert, Seq(" id ")))
    assert(readBack("t_pad").orderBy("id").as[(Int, Int)].collect()
      .toSeq === Seq((1, 10), (2, 21), (3, 30)))
    // names that COLLIDE once trimmed are refused, never merged
    assertThrows[graft.checks.DoubleColumnNamesError] {
      SqlSink.write(Seq((1, 2)).toDF("a", "a "),
        cfg("t_pad2", Method.Create))
    }
  }

  test("dotted column names are literal identifiers end-to-end " +
    "(create + upsert): never parsed as nested-field access") {
    val df = Seq((1, "x"), (2, "y")).toDF("id", "v.w")
    SqlSink.write(df, cfg("t_dot", Method.Create))
    assert(readBack("t_dot").columns.toSeq === Seq("id", "v.w"))
    SqlSink.write(Seq((2, "Y"), (3, "z")).toDF("id", "v.w"),
      cfg("t_dot", Method.Upsert, Seq("id")))
    assert(readBack("t_dot").orderBy("id").collect().map(_.getString(1))
      .toSeq === Seq("x", "Y", "z"))
  }

  test("staged-upsert attempt dedup: a forged double-committed " +
    "partition in staging collapses to ONE attempt, so the MERGE " +
    "inserts new keys exactly once") {
    // forge the post-commit-retry state by hand: staging.t_dup holds
    // partition 0 twice (attempts 100 and 200), the target exists and
    // is empty of these keys — before the dedup DELETE, the MERGE
    // would insert both copies of every new key
    SqlSink.write(Seq((1, "seed")).toDF("id", "v"),
      cfg("t_dup", Method.Create))
    JdbcOps.executeIgnore(url, "CREATE SCHEMA \"staging\"")
    JdbcOps.executeIgnore(url, "DROP TABLE \"staging\".\"t_dup\"")
    JdbcOps.execute(url, "CREATE TABLE \"staging\".\"t_dup\" " +
      "(\"id\" INT, \"v\" VARCHAR(255), \"__graft_pid\" INT, " +
      "\"__graft_att\" INT)")
    Seq((2, "a", 0, 100), (3, "b", 0, 100), // attempt 100, complete
        (2, "a", 0, 200), (3, "b", 0, 200), // its post-commit retry
        (4, "c", 1, 150))                   // partition 1, single
      .foreach { case (id, v, pid, att) =>
        JdbcOps.execute(url, "INSERT INTO \"staging\".\"t_dup\" " +
          s"VALUES ($id, '$v', $pid, $att)")
      }
    JdbcOps.execute(url, DerbyDialect.deleteLosingAttempts(
      "staging", "t_dup", "__graft_pid", "__graft_att"))
    val left = readBack("t_dup", "staging").orderBy("id")
      .select("id", "__graft_att").as[(Int, Int)].collect().toSeq
    assert(left === Seq((2, 100), (3, 100), (4, 150)),
      "the losing attempt survived the collapse")
  }

  test("tableExists: present/absent verdicts, underscore is literal") {
    SqlSink.write(Seq((1, "x")).toDF("id", "v"),
      cfg("exists_probe", Method.Create))
    assert(JdbcOps.tableExists(url, "app_s", "exists_probe"))
    assert(!JdbcOps.tableExists(url, "app_s", "no_such_table"))
    // getTables takes LIKE patterns. Create only "escapeXcheck": an
    // UNescaped underscore in the probe "escape_check" would
    // wildcard-match it → false "exists" → the streaming sink would
    // MERGE into a table that does not exist instead of creating it.
    SqlSink.write(Seq((1, "x")).toDF("id", "v"),
      cfg("escapeXcheck", Method.Create))
    assert(JdbcOps.tableExists(url, "app_s", "escapeXcheck"))
    assert(!JdbcOps.tableExists(url, "app_s", "escape_check"))
    assert(!JdbcOps.tableExists(url, "app_s", "escape%"))
    // failure-mode direction: a false "missing" is destructive
    // (DROP+CREATE), so case divergence and stray whitespace must
    // resolve to "exists" — Derby's metadata store is case-sensitive,
    // exercising the wildcard fallback scan
    assert(JdbcOps.tableExists(url, "app_s", "EXISTS_PROBE"))
    assert(JdbcOps.tableExists(url, "app_s", " exists_probe "))
    // ... including case divergence in the SCHEMA name, which the
    // fallback only rescues because it widens BOTH patterns (a
    // schema-scoped wildcard would still LIKE-miss "APP_S" here)
    assert(JdbcOps.tableExists(url, "APP_S", "exists_probe"))
    assert(JdbcOps.tableExists(url, "APP_S", "EXISTS_PROBE"))
    // the widened listing must not over-match: a wrong schema is
    // still "missing"
    assert(!JdbcOps.tableExists(url, "other_s", "exists_probe"))
  }

  test("null strings round-trip through create, append and upsert") {
    // Spark's built-in Derby dialect binds a null string as CLOB, which
    // Derby refuses for a VARCHAR column
    val tbl = "t_nullstr"
    SqlSink.write(Seq((1, Option("a")), (2, None)).toDF("id", "v"),
      cfg(tbl, Method.Create))
    SqlSink.write(Seq((3, Option.empty[String])).toDF("id", "v"),
      cfg(tbl, Method.Append))
    SqlSink.write(Seq((1, Option.empty[String]), (4, None)).toDF("id", "v"),
      cfg(tbl, Method.Upsert, Seq("id")))
    assert(readBack(tbl).orderBy("id").as[(Int, Option[String])].collect()
      .toSeq === Seq((1, None), (2, None), (3, None), (4, None)))
  }

  test("key index lifecycle: the first upsert leaves exactly one " +
    "non-unique index on the keys, a second adds none, a duplicate-key " +
    "append still succeeds, create drops the index and the next upsert " +
    "rebuilds it") {
    SqlSink.write(Seq((1, "a"), (2, "b")).toDF("id", "v"),
      cfg("t_kx", Method.Create))
    assert(indexes("t_kx").isEmpty)
    SqlSink.write(Seq((2, "B"), (3, "c")).toDF("id", "v"),
      cfg("t_kx", Method.Upsert, Seq("id")))
    assert(indexes("t_kx") === keyIndex("t_kx", "id"))
    SqlSink.write(Seq((3, "C"), (4, "d")).toDF("id", "v"),
      cfg("t_kx", Method.Upsert, Seq("id")))
    assert(indexes("t_kx") === keyIndex("t_kx", "id"))
    SqlSink.write(Seq((1, "again")).toDF("id", "v"), cfg("t_kx", Method.Append))
    assert(readBack("t_kx").orderBy("id", "v").as[(Int, String)].collect()
      .toSeq === Seq((1, "a"), (1, "again"), (2, "B"), (3, "C"), (4, "d")))
    SqlSink.write(Seq((1, "a")).toDF("id", "v"), cfg("t_kx", Method.Create))
    assert(indexes("t_kx").isEmpty)
    SqlSink.write(Seq((1, "A"), (2, "b")).toDF("id", "v"),
      cfg("t_kx", Method.Upsert, Seq("id")))
    assert(indexes("t_kx") === keyIndex("t_kx", "id"))
    assert(readBack("t_kx").orderBy("id").as[(Int, String)].collect()
      .toSeq === Seq((1, "A"), (2, "b")))
  }

  test("key index: a user-made index or primary key on the keys is " +
    "reused, its columns in any order") {
    val rows = Seq((1, 1, "a"), (1, 2, "b"))
    SqlSink.write(rows.toDF("k1", "k2", "v"), cfg("t_kx_own", Method.Create))
    JdbcOps.execute(url, "CREATE INDEX \"app_s\".\"own_ix\" ON " +
      "\"app_s\".\"t_kx_own\" (\"k2\", \"k1\")")
    SqlSink.write(Seq((1, 2, "B")).toDF("k1", "k2", "v"),
      cfg("t_kx_own", Method.Upsert, Seq("k1", "k2")))
    assert(indexes("t_kx_own") === Map("own_ix" -> ((true, Seq("k2", "k1")))))

    JdbcOps.executeIgnore(url, "DROP TABLE \"app_s\".\"t_kx_pk\"")
    JdbcOps.execute(url, "CREATE TABLE \"app_s\".\"t_kx_pk\" " +
      "(\"id\" INT NOT NULL PRIMARY KEY, \"v\" VARCHAR(255))")
    SqlSink.write(Seq((1, "a")).toDF("id", "v"), cfg("t_kx_pk", Method.Append))
    SqlSink.write(Seq((1, "A"), (2, "b")).toDF("id", "v"),
      cfg("t_kx_pk", Method.Upsert, Seq("id")))
    assert(indexes("t_kx_pk").values.toSeq === Seq((false, Seq("id"))),
      "only the primary key's own index")
    assert(readBack("t_kx_pk").orderBy("id").as[(Int, String)].collect()
      .toSeq === Seq((1, "A"), (2, "b")))
  }

  test("key index: a composite key is matched in either column order") {
    SqlSink.write(Seq((1, 1, "a"), (1, 2, "b")).toDF("k1", "k2", "v"),
      cfg("t_kx_c", Method.Create))
    SqlSink.write(Seq((1, 2, "B")).toDF("k1", "k2", "v"),
      cfg("t_kx_c", Method.Upsert, Seq("k1", "k2")))
    assert(indexes("t_kx_c") === keyIndex("t_kx_c", "k1", "k2"))
    SqlSink.write(Seq((2, 1, "c")).toDF("k1", "k2", "v"),
      cfg("t_kx_c", Method.Upsert, Seq("k2", "k1")))
    assert(indexes("t_kx_c") === keyIndex("t_kx_c", "k1", "k2"))
    assert(readBack("t_kx_c").orderBy("k1", "k2").as[(Int, Int, String)]
      .collect().toSeq === Seq((1, 1, "a"), (1, 2, "B"), (2, 1, "c")))
  }

  test("key index: the same table name in two schemas gets one index " +
    "in each") {
    for (sch <- Seq("app_s", "app_s2")) {
      val c = cfg("t_kx_2s", Method.Create).copy(schema = sch)
      SqlSink.write(Seq((1, "a")).toDF("id", "v"), c)
      SqlSink.write(Seq((2, "b")).toDF("id", "v"),
        c.copy(method = Method.Upsert, idField = Seq("id")))
    }
    assert(indexes("t_kx_2s", "app_s") === keyIndex("t_kx_2s", "id"))
    assert(indexes("t_kx_2s", "app_s2") === keyIndex("t_kx_2s", "id"))
  }

  test("key index: a key wider than 900 bytes stays unindexed and still " +
    "matches the reference upsert golden") {
    import graft.types.SqlTypeMapper.SqlVarchar
    // VARCHAR(MAX), which Derby declares as VARCHAR(32672)
    val wide = Map("id" -> SqlVarchar(None))
    def c(m: Method, ids: Seq[String] = Nil) =
      cfg("t_kx_wide", m, ids).copy(dtypes = wide)
    SqlSink.write(Seq(("1", "o1", 10), ("3", "o3", 30), ("4", "o4", 40))
      .toDF("id", "v", "n"), c(Method.Create))
    SqlSink.write(Seq(("1", "n1", 11), ("3", "n3", 33), ("5", "n5", 55),
      ("6", "n6", 66)).toDF("id", "v", "n"), c(Method.Upsert, Seq("id")))
    assert(indexes("t_kx_wide").isEmpty)
    assert(readBack("t_kx_wide").orderBy("id").as[(String, String, Int)]
      .collect().toSeq === Seq(("1", "n1", 11), ("3", "n3", 33),
        ("4", "o4", 40), ("5", "n5", 55), ("6", "n6", 66)))
  }

  test("key index: the generated MERGE reads the target through the " +
    "index, not a table scan (Derby optimizer trace)") {
    import org.w3c.dom.Element
    val n = 5000
    SqlSink.write((1 to n).map(i => (i, s"v$i")).toDF("id", "v"),
      cfg("t_kx_plan", Method.Create))
    SqlSink.write(Seq((7, "x"), (n + 1, "y")).toDF("id", "v"),
      cfg("t_kx_plan", Method.Upsert, Seq("id")).copy(cleanStaging = false))
    // re-run the same MERGE over the kept staging table with the
    // optimizer traced. Derby's runtime statistics carry no plan for a
    // MERGE (its plan text is null), so the trace is where the chosen
    // access path shows: a heap scan is named by the table's
    // conglomerate id, an index probe by the index name
    val merge = MergeBuilder("t_kx_plan", "app_s", Seq("id"), Seq("id", "v"),
      DerbyDialect).mergeStatement
    val trace = java.nio.file.Files.createTempDirectory("merge-trace")
      .resolve("trace.xml")
    JdbcOps.withConnection(url) { conn =>
      // a cached plan would skip the optimizer
      JdbcOps.execute(conn, "CALL SYSCS_UTIL.SYSCS_EMPTY_STATEMENT_CACHE()")
      JdbcOps.execute(conn,
        "CALL SYSCS_UTIL.SYSCS_REGISTER_TOOL('optimizerTracing', true, 'xml')")
      JdbcOps.execute(conn, merge)
      JdbcOps.execute(conn, "CALL SYSCS_UTIL.SYSCS_REGISTER_TOOL(" +
        s"'optimizerTracing', false, '$trace')")
    }
    def children(e: Element, tag: String): Seq[Element] = {
      val nodes = e.getChildNodes
      (0 until nodes.getLength).map(nodes.item).collect {
        case c: Element if c.getTagName == tag => c
      }
    }
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder().parse(trace.toFile)
    val blocks = doc.getElementsByTagName("queryBlock")
    val targetPlans = (0 until blocks.getLength)
      .map(blocks.item(_).asInstanceOf[Element])
      .filter(qb => children(qb, "qbOptimizable").map(_.getTextContent) ==
        Seq("\"app_s\".\"t_kx_plan\""))
      .flatMap(children(_, "planCost"))
      .filter(_.getAttribute("pcType") == "bestPlan")
      .flatMap(children(_, "pcSummary")).map(_.getTextContent)
    assert(targetPlans.nonEmpty, "the MERGE was not traced")
    assert(targetPlans.forall(_ == "\"app_s\".\"t_kx_plan__graft_key\""),
      targetPlans)
    assert(readBack("t_kx_plan").count() === n + 1L)
  }
}
