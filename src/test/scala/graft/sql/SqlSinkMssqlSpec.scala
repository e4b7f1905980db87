package graft.sql

import graft.SparkSpec
import graft.checks.Validations.Method

/** Live SQL Server conformance suite.
  *
  * The reference's own integration tests round-trip a LIVE Azure SQL
  * database (reference tests/__init__.py:10-22); the MERGE/DDL text
  * this engine generates for `SqlServerDialect` is otherwise only
  * golden-tested (MergeBuilderSpec) and executed against Derby's
  * dialect twin. This suite executes the real T-SQL path — same
  * create/append/upsert matrix as SqlSinkDerbySpec — against an actual
  * SQL Server when one is reachable, and self-skips hermetically when
  * not (this sandbox has no network and no MSSQL driver jar).
  *
  * To run it for real:
  * {{{
  *   export GRAFT_MSSQL_URL='jdbc:sqlserver://host:1433;databaseName=db;user=u;password=p;encrypt=true'
  *   # put mssql-jdbc-<ver>.jre11.jar on the test classpath (lib/)
  *   sbt "testOnly graft.sql.SqlSinkMssqlSpec"
  * }}}
  */
class SqlSinkMssqlSpec extends SparkSpec {

  import spark.implicits._

  private val urlOpt: Option[String] = sys.env.get("GRAFT_MSSQL_URL")

  private def driverPresent: Boolean =
    try { Class.forName("com.microsoft.sqlserver.jdbc.SQLServerDriver"); true }
    catch { case _: ClassNotFoundException => false }

  /** assume() → reported as CANCELED (not silently green) when the
    * live prerequisites are absent. */
  private def liveUrl: String = {
    assume(urlOpt.isDefined,
      "GRAFT_MSSQL_URL not set — live SQL Server suite skipped")
    assume(driverPresent,
      "mssql-jdbc driver not on classpath — live SQL Server suite skipped")
    urlOpt.get
  }

  private def cfg(url: String, table: String, method: Method,
      ids: Seq[String] = Nil) =
    SqlSink.Config(url, table, "graft_it", method, ids,
      dialect = SqlServerDialect, numPartitions = Some(2))

  private def readBack(url: String, table: String) =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", s"[graft_it].[$table]")
      .load()

  test("create: T-SQL DDL replace + distributed append round-trips") {
    val url = liveUrl
    val df = Seq((1, "a", 1.5), (2, "b", 2.5)).toDF("id", "name", "val")
    assert(SqlSink.write(df, cfg(url, "t_mssql_create", Method.Create)))
    val got = readBack(url, "t_mssql_create").orderBy("id")
      .as[(Int, String, java.math.BigDecimal)].collect()
    assert(got.map(_._1).toSeq === Seq(1, 2))
    assert(got.map(_._3.doubleValue).toSeq === Seq(1.5, 2.5))
  }

  test("upsert: generated T-SQL MERGE executes and merges") {
    val url = liveUrl
    val target = Seq((1, "o1"), (3, "o3")).toDF("id", "v")
    val source = Seq((1, "n1"), (5, "n5")).toDF("id", "v")
    SqlSink.write(target, cfg(url, "t_mssql_up", Method.Create))
    SqlSink.write(source, cfg(url, "t_mssql_up", Method.Upsert, Seq("id")))
    val got = readBack(url, "t_mssql_up").as[(Int, String)].collect()
      .sortBy(_._1).toSeq
    assert(got === Seq((1, "n1"), (3, "o3"), (5, "n5")))
    // the upsert left its non-unique key index on the target, with
    // exactly one key column, `id`
    def keyColumns(cond: String) = JdbcOps.queryCount(url,
      "SELECT COUNT(*) FROM sys.indexes i JOIN sys.index_columns ic " +
        "ON ic.object_id = i.object_id AND ic.index_id = i.index_id " +
        "JOIN sys.columns c ON c.object_id = ic.object_id " +
        "AND c.column_id = ic.column_id " +
        "WHERE i.object_id = OBJECT_ID('[graft_it].[t_mssql_up]') " +
        s"AND i.name = 't_mssql_up__graft_key' AND i.is_unique = 0 AND $cond")
    assert(keyColumns("ic.key_ordinal > 0") === 1L)
    assert(keyColumns("ic.key_ordinal = 1 AND c.name = 'id'") === 1L)
  }

  test("exactlyOnceAppend: staged T-SQL finalize collapses a forged " +
    "double-committed partition") {
    val url = liveUrl
    val eo = cfg(url, "t_mssql_eo", Method.Append)
      .copy(exactlyOnceAppend = true)
    SqlSink.write(Seq((0, "seed")).toDF("id", "v"),
      cfg(url, "t_mssql_eo", Method.Create))
    val batch = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    JdbcOps.withConnection(url)(SqlSink.stageForAppend(_, batch, eo))
    val stg = "[staging].[t_mssql_eo__append]"
    // forge the post-commit-retry wreckage: a second complete attempt
    // of one partition under a fresh attempt id
    val pid = JdbcOps.queryCount(url,
      s"SELECT MIN([__graft_pid]) FROM $stg")
    JdbcOps.execute(url,
      s"INSERT INTO $stg ([id], [v], [__graft_pid], [__graft_att]) " +
        s"SELECT [id], [v], [__graft_pid], [__graft_att] + 100000 " +
        s"FROM $stg WHERE [__graft_pid] = $pid")
    JdbcOps.withConnection(url)(SqlSink.finalizeAppend(_, batch, eo))
    val got = readBack(url, "t_mssql_eo").as[(Int, String)].collect()
      .sortBy(_._1).toSeq
    assert(got === Seq((0, "seed"), (1, "a"), (2, "b"), (3, "c")))
  }

  test("idempotent CREATE SCHEMA text executes twice without error") {
    val url = liveUrl
    SqlServerDialect.createSchemaSql("graft_it")
      .foreach(JdbcOps.execute(url, _))
    SqlServerDialect.createSchemaSql("graft_it")
      .foreach(JdbcOps.execute(url, _)) // second run must be a no-op
  }
}
