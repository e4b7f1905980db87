package graft.sql

import java.sql.Connection

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.checks.Validations
import graft.checks.Validations.Method
import graft.types.SqlTypeMapper
import graft.types.SqlTypeMapper.SqlType

/** JDBC sink orchestration — the Spark-native form of the reference's
  * blob→ADF→SQL pipeline (SURVEY.md §3.1-3.2):
  *
  *  - **create** (O9/O12): CREATE SCHEMA if needed, DROP+CREATE the
  *    target with inferred column types (create *replaces* on every
  *    call, reference export.py:169), then a distributed JDBC append;
  *  - **append** (O13): distributed JDBC append, no DDL — the schema
  *    must already match, same trust as the reference;
  *  - **upsert** (O14): key-uniqueness assert, stage the frame into
  *    `staging.<table>` (DDL-replaced), make sure the target has an
  *    index on the `idField` columns ([[ensureKeyIndex]]), run the
  *    generated MERGE text, then drop staging (`cleanStaging`).
  *
  * Every method that writes DDL (create, upsert, exactly-once append)
  * asks its questions of the input in ONE probe
  * ([[graft.checks.Validations.probe]]): emptiness, key uniqueness
  * (upsert) and the column types' data refinement
  * ([[graft.types.SqlTypeMapper.refineAggs]]). Every DDL of the call —
  * the target on create, staging on upsert and exactly-once append —
  * is built from that probe, so a small upsert runs two Spark jobs:
  * the probe (one task for a small input) and the staging write. A
  * plain append writes no DDL and keeps the cheaper `take(1)`
  * emptiness probe.
  *
  * Side effect of upsert: the target is left with a NON-unique index
  * `<table>__graft_key` on the key columns, so the MERGE seeks each
  * staged key instead of reading the whole target. An existing index
  * (PK, unique or plain) whose leading columns are the keys, in any
  * order, is reused instead. `create` drops the index with the table
  * and the next upsert rebuilds it. No index is made when the keys'
  * declared width exceeds 900 bytes (VARCHAR(MAX), Derby's
  * VARCHAR(32672)) or when CREATE INDEX fails (say, no ALTER
  * permission): the MERGE then reads the whole target.
  *
  * Every driver-side statement of one `write` (schema, DDL, dedup,
  * index, MERGE, staging drop) runs over ONE connection, each in
  * autocommit.
  *
  * The ADF control plane (linked services, pipeline resources, 1 s
  * polling) collapses into this sequential driver code: the Spark write
  * IS the copy activity and runs synchronously. Bulk rows travel
  * executor→DB in parallel partitions (`numPartitions` × `batchsize`),
  * never through the driver.
  */
object SqlSink {

  /** @param exactlyOnceAppend route `Method.Append` through a staging
    *   table + one transactional `INSERT INTO target SELECT` instead
    *   of writing the target directly. The direct path commits per
    *   Spark partition, so a task that dies AFTER its commit
    *   (speculation, network partition post-commit) re-runs and
    *   duplicates its partition — at-least-once, the same caveat as
    *   the reference's ADF CopyActivity. The staged path keeps exactly
    *   one committed attempt per partition (see [[finalizeAppend]]),
    *   making the append exactly-once under task retry; a DRIVER-level
    *   replay of the whole write() after the finalize committed still
    *   duplicates (reference parity — nothing in the target records
    *   the job). Costs one extra server-side copy of the batch. */
  final case class Config(
      url: String,
      table: String,
      schema: String,
      method: Method,
      idField: Seq[String] = Nil,
      textLength: Int = 255,
      decimalPrecision: Int = 2,
      dtypes: Map[String, SqlType] = Map.empty,
      cleanStaging: Boolean = true,
      stagingSchema: String = "staging",
      dialect: Dialect = SqlServerDialect,
      batchSize: Int = 10000,
      numPartitions: Option[Int] = None,
      exactlyOnceAppend: Boolean = false)

  /** DDL text for CREATE TABLE of `cfg.table` under `schema`. */
  def createTableSql(types: Seq[(String, SqlType)], cfg: Config,
      schema: String): String = {
    val cols = types.map { case (name, t) =>
      s"${cfg.dialect.quote(name)} ${cfg.dialect.ddlType(t)}"
    }.mkString(", ")
    s"CREATE TABLE ${cfg.dialect.table(schema, cfg.table)} ($cols)"
  }

  /** Drop and recreate `cfg.table` under `schema` with `types`. The
    * types arrive already inferred: inference can throw (an unmapped
    * dtype, a failed refine scan), and a throw after the DROP would
    * leave the standing target destroyed with nothing created in its
    * place — create is drop+recreate (reference export.py:169), but
    * never drop-then-maybe-recreate. */
  private def replaceTable(conn: Connection, types: Seq[(String, SqlType)],
      cfg: Config, schema: String): Unit = {
    cfg.dialect.createSchemaSql(schema)
      .foreach(JdbcOps.executeIgnore(conn, _))
    val ddl = createTableSql(types, cfg, schema)
    JdbcOps.executeIgnore(conn, cfg.dialect.dropTableSql(schema, cfg.table))
    JdbcOps.execute(conn, ddl)
  }

  private def jdbcAppend(df: DataFrame, cfg: Config, schema: String): Unit = {
    cfg.dialect.registerSparkDialect()
    val repart = cfg.numPartitions.map(df.repartition(_)).getOrElse(df)
    repart.write
      .format("jdbc")
      .option("url", cfg.url)
      .option("dbtable", cfg.dialect.table(schema, cfg.table))
      .option("batchsize", cfg.batchSize)
      .option("truncate", "false")
      .mode(SaveMode.Append)
      .save()
  }

  private val pidCol = "__graft_pid"
  private val attCol = "__graft_att"

  /** `types` (the untagged frame's) plus the attempt tags, declared by
    * what [[tagAttempts]] writes: the partition id is a Spark int, the
    * task attempt id a Spark long. Never inferred from a scan — a
    * scan's attempt ids are not the ids the staging write will carry,
    * so a refined `INT` would overflow once a long-running session's
    * attempt ids pass 2^31. */
  private def stagingTypes(types: Seq[(String, SqlType)]): Seq[(String, SqlType)] =
    types ++ Seq(pidCol -> SqlTypeMapper.SqlInt, attCol -> SqlTypeMapper.SqlBigInt)

  /** (pid, att)-tagged copy of `norm` — the attempt-identity scheme of
    * every staged load (see [[stageForAppend]]'s doc). Repartitions
    * FIRST (the tags must describe the partitions actually written),
    * so callers pass `numPartitions = None` onward. */
  private def tagAttempts(norm: DataFrame, cfg: Config): DataFrame = {
    import org.apache.spark.sql.functions.spark_partition_id
    require(!norm.columns.exists(c => c == pidCol || c == attCol),
      s"staged writes reserve column names $pidCol/$attCol")
    val repart = cfg.numPartitions.map(norm.repartition(_)).getOrElse(norm)
    repart
      .withColumn(pidCol, spark_partition_id())
      .withColumn(attCol, org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.TaskAttemptId()))
  }

  /** Stage `norm` (column types `types`) for an exactly-once append:
    * every row is tagged with its Spark partition id and its task
    * ATTEMPT id (unique per attempt, constant within one), then written
    * to a DDL-replaced `staging.<table>__append`. The partition-transaction property of
    * the JDBC writer means each (pid, att) group present in staging is
    * a COMPLETE copy of partition pid — an attempt that died mid-write
    * rolled back and left nothing, an attempt that committed left all
    * of its rows. Duplicate-committed partitions (retry after a
    * post-commit failure, speculative twins) therefore show up as two
    * complete groups for one pid, which [[finalizeAppend]] collapses.
    * Row-ORDER nondeterminism between attempts is harmless: the tag is
    * per attempt, not per row, so no row-identity scheme is needed and
    * legitimately duplicate data rows are preserved.
    *
    * The "complete copy or nothing" premise is the JDBC writer's
    * per-partition transaction, which holds at any `isolationLevel`
    * EXCEPT "NONE" (that setting autocommits every batchsize rows, so
    * a mid-write death could leave a partial group). The sink never
    * sets isolationLevel, so Spark's default (READ_UNCOMMITTED, i.e.
    * transactional) applies.
    *
    * Concurrency contract: ONE writer per target table at a time —
    * the same single-writer-per-target assumption the upsert staging
    * path makes (both stage under a name derived from the target, so
    * two concurrent writers' replaceTable/DROP would discard or
    * cross-mix each other's staged batch). Exactly-once here means
    * exactly once under retries/speculation of ONE logical write, not
    * serialization of concurrent independent writers; external
    * coordination (a scheduler lock per target) owns the latter, as
    * it does for the reference's ADF pipeline-per-table model. */
  private def stageForAppend(conn: Connection, norm: DataFrame, cfg: Config,
      types: Seq[(String, SqlType)]): Unit = {
    val tagged = tagAttempts(norm, cfg)
    val scfg = cfg.copy(table = appendStagingTable(cfg),
      numPartitions = None) // already repartitioned under the tags
    replaceTable(conn, stagingTypes(types), scfg, cfg.stagingSchema)
    jdbcAppend(tagged, scfg, cfg.stagingSchema)
  }

  /** The staging step on its own, `norm`'s column types from its own
    * inference pass (one more job than [[write]]'s probe). */
  private[sql] def stageForAppend(conn: Connection, norm: DataFrame,
      cfg: Config): Unit =
    stageForAppend(conn, norm, cfg, SqlTypeMapper.inferColumnTypes(
      norm, cfg.textLength, cfg.decimalPrecision, cfg.dtypes))

  private[sql] def appendStagingTable(cfg: Config): String =
    s"${cfg.table}__append"

  /** One transactional statement moves the staged batch into the
    * target, keeping exactly ONE committed attempt per partition (the
    * smallest attempt id per pid). Autocommit of a single
    * INSERT..SELECT: the DB applies all of it or none, so a driver
    * crash leaves either an untouched target (replayable) or a
    * fully-appended one. */
  private[sql] def finalizeAppend(conn: Connection, norm: DataFrame,
      cfg: Config): Unit = {
    val d = cfg.dialect
    val cols = norm.columns.map(d.quote).mkString(", ")
    val stg = d.table(cfg.stagingSchema, appendStagingTable(cfg))
    // correlated (per-pid) min, NOT `att IN (per-pid mins)`: the IN
    // form silently leans on attempt ids never colliding ACROSS
    // partitions — true of Spark's TaskAttemptId today, but a pid-B
    // attempt that happened to share pid-A's min id would ride in as a
    // duplicate copy. The correlated form is collision-proof by
    // construction; the 200-trial finalize fuzz forges exactly those
    // collisions and fails the IN form at trial 2
    JdbcOps.execute(conn,
      s"INSERT INTO ${d.table(cfg.schema, cfg.table)} ($cols) " +
        s"SELECT $cols FROM $stg s WHERE s.${d.quote(attCol)} = " +
        s"(SELECT MIN(m.${d.quote(attCol)}) FROM $stg m " +
        s"WHERE m.${d.quote(pidCol)} = s.${d.quote(pidCol)})" +
        d.statementTerminator)
    if (cfg.cleanStaging)
      JdbcOps.executeIgnore(conn,
        d.dropTableSql(cfg.stagingSchema, appendStagingTable(cfg)))
  }

  /** Collapse duplicate-committed attempts in the upsert staging
    * table to exactly one per partition — the same correlated-MIN rule
    * as [[finalizeAppend]], as a DELETE so the MERGE text (golden-
    * pinned, reference db.py shape) stays untouched: the tag columns
    * ride in staging, the MERGE names only data columns. Correlated to
    * the delete target by its exposed (unqualified) table name — the
    * standard-SQL outer reference both SQL Server and Derby resolve. */
  private def dedupStagedUpsert(conn: Connection, cfg: Config): Unit =
    JdbcOps.execute(conn, cfg.dialect.deleteLosingAttempts(
      cfg.stagingSchema, cfg.table, pidCol, attCol))

  /** Widest key the upsert indexes: SQL Server's clustered-key limit,
    * well inside Derby's half-page limit. A wider declared key could
    * not be stored in the index, so appends of long keys would fail. */
  private val maxIndexedKeyBytes = 900L

  /** Give the target a non-unique index on the keys unless its
    * metadata shows one already, or the keys are too wide. A failed
    * CREATE INDEX is swallowed: the MERGE then runs unindexed, the only
    * path that works for a login without ALTER on the target. A missing
    * target is left to the MERGE to report. */
  private def ensureKeyIndex(conn: Connection, cfg: Config): Unit =
    JdbcOps.keyIndexFacts(conn, cfg.schema, cfg.table, cfg.idField)
      .filter(k => !k.indexed && k.keyBytes <= maxIndexedKeyBytes)
      .foreach(_ => JdbcOps.executeIgnore(conn, cfg.dialect
        .createKeyIndexSql(cfg.schema, cfg.table, cfg.idField)))

  /** Entry point: validate, normalize, route on method. Returns true if
    * anything was written (false = empty-input short-circuit, O3).
    *
    * Column names are TRIMMED once at this boundary (frame, idField and
    * dtype-override keys together). The reference strips them only
    * inside the MERGE text (db.py:18) — stripping in one consumer but
    * not the others desynchronizes the generated DDL from the raw
    * column names Spark's distributed JDBC writer quotes in its
    * INSERT, and a whitespace-padded CSV header would then fail every
    * bulk write AFTER create already dropped the old table. Names that
    * collide once trimmed are refused loudly (DoubleColumnNamesError),
    * never silently merged. */
  def write(df: DataFrame, cfg0: Config): Boolean = {
    Validations.requireUniqueColumnNames(df)
    val trimmedNames = df.columns.map(_.trim)
    val dfT =
      if (df.columns.sameElements(trimmedNames)) df
      else df.toDF(trimmedNames.toIndexedSeq: _*)
    Validations.requireUniqueColumnNames(dfT)
    // dtype-override keys get the same trim-collision discipline as
    // frame columns: "a" and "a " collapsing via Map last-wins would
    // silently drop one override at the very boundary where colliding
    // COLUMNS are refused with DoubleColumnNamesError (ADVICE r16)
    val dtypeTrimmed = cfg0.dtypes.keys.toSeq.map(_.trim)
    if (dtypeTrimmed.distinct.size != dtypeTrimmed.size) {
      val dups = dtypeTrimmed.groupBy(identity).collect {
        case (k, vs) if vs.size > 1 => k }
      throw graft.checks.DoubleColumnNamesError(
        s"dtype override keys collide after trimming: " +
          dups.mkString(", "))
    }
    val cfg = cfg0.copy(idField = cfg0.idField.map(_.trim),
      dtypes = cfg0.dtypes.map { case (k, v) => k.trim -> v })
    Validations.requireIdField(cfg.method, cfg.idField)
    val norm = SqlTypeMapper.normalizeIntervals(dfT)
    if (cfg.method == Method.Append && !cfg.exactlyOnceAppend) {
      if (Validations.isEmpty(norm)) return false
      jdbcAppend(norm, cfg, cfg.schema) // no driver-side statement
      return true
    }
    val upsert = cfg.method == Method.Upsert
    val probe = Validations.probe(norm, if (upsert) cfg.idField else Nil,
      SqlTypeMapper.refineAggs(norm))
    if (probe.isEmpty) return false
    if (upsert) {
      // staging under the TARGET's own name: equal schemas would
      // make replaceTable drop the target itself and the MERGE
      // self-merge — every pre-existing row silently lost
      require(cfg.schema != cfg.stagingSchema,
        s"upsert stages under '${cfg.stagingSchema}.${cfg.table}' — " +
          "stagingSchema must differ from the target schema, or the " +
          "staging DDL replaces the target itself")
      probe.requireUniqueKeys(cfg.idField)
    }
    val types = SqlTypeMapper.columnTypes(norm, probe.extra, cfg.textLength,
      cfg.decimalPrecision, cfg.dtypes)
    JdbcOps.withConnection(cfg.url) { conn =>
      cfg.method match {
        case Method.Create =>
          replaceTable(conn, types, cfg, cfg.schema)
          if (cfg.exactlyOnceAppend) {
            // the freshly-created target deserves the same retry
            // discipline as an exactly-once append: the direct JDBC
            // write commits per partition, so a post-commit task retry
            // would double that partition's rows in a table whose
            // content should be exactly `df`
            stageForAppend(conn, norm, cfg, types)
            finalizeAppend(conn, norm, cfg)
          } else jdbcAppend(norm, cfg, cfg.schema)
        case Method.Append =>
          stageForAppend(conn, norm, cfg, types)
          finalizeAppend(conn, norm, cfg)
        case Method.Upsert =>
          // staging rides the (pid, att) tags so a post-commit task
          // retry (at-least-once JDBC writer) cannot leave two copies
          // of a partition for the MERGE to double-insert under new
          // keys; dedupStagedUpsert collapses to one attempt per pid
          val tagged = tagAttempts(norm, cfg)
          val scfg = cfg.copy(numPartitions = None)
          replaceTable(conn, stagingTypes(types), scfg, cfg.stagingSchema)
          jdbcAppend(tagged, scfg, cfg.stagingSchema)
          dedupStagedUpsert(conn, cfg)
          ensureKeyIndex(conn, cfg)
          val merge = MergeBuilder(cfg.table, cfg.schema, cfg.idField,
            norm.columns.toSeq, cfg.dialect, cfg.stagingSchema)
          JdbcOps.execute(conn, merge.mergeStatement)
          if (cfg.cleanStaging)
            JdbcOps.executeIgnore(conn,
              cfg.dialect.dropTableSql(cfg.stagingSchema, cfg.table))
      }
    }
    true
  }
}
