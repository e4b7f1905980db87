package graft.sql

/** SQL dialect abstraction so the sink is testable hermetically: the
  * production target is SQL Server (the reference's only SQL sink), the
  * test target is embedded Derby (in /opt/spark/jars). Only the handful
  * of differences the sink touches are abstracted.
  */
sealed trait Dialect {
  /** Identifier quoting. SQL Server brackets ([col a], reference
    * db.py:21-31 — preserves spaces in names, SURVEY.md §7.4 trap 4). */
  def quote(ident: String): String
  /** Qualified table name. */
  def table(schema: String, name: String): String =
    s"${quote(schema)}.${quote(name)}"
  /** MERGE "no match on target" clause keyword. */
  def notMatchedClause: String
  /** Left-hand side of a MERGE UPDATE SET assignment. SQL Server allows
    * (and the reference emits) the target-qualified form `t.[c]`;
    * Derby requires the unqualified column name. */
  def setLhs(quotedIdent: String): String = s"t.$quotedIdent"
  /** Statement terminator appended to the generated MERGE. SQL Server
    * REQUIRES MERGE to end with a semicolon (error 10713) — the
    * reference's text ends with one too (db.py:48) — while Derby's
    * JDBC rejects trailing semicolons, so the terminator is a dialect
    * seam, not a blanket suffix. */
  def statementTerminator: String
  /** Idempotent CREATE SCHEMA statement(s). */
  def createSchemaSql(schema: String): Seq[String]
  /** DROP TABLE IF EXISTS equivalent (Derby has no IF EXISTS). */
  def dropTableSql(schema: String, name: String): String
  /** Map a generic DDL type to this dialect (VARCHAR(MAX) is MSSQL-only). */
  def ddlType(t: graft.types.SqlTypeMapper.SqlType): String
  /** Non-unique index on `keys` of `schema.table`, named
    * [[Dialect.keyIndexName]] — the index the upsert's MERGE probes
    * (SqlSink.ensureKeyIndex). Never UNIQUE: appends may legally add
    * duplicate keys (reference parity). */
  def createKeyIndexSql(schema: String, table: String,
      keys: Seq[String]): String
  /** Make Spark's JDBC writer bind this engine's types correctly;
    * called before every distributed write, so it must be idempotent. */
  private[sql] def registerSparkDialect(): Unit = ()
  /** Delete every row of `schema.table` whose `attCol` is not its
    * partition's (pidCol group's) MINIMUM — the staged-upsert
    * duplicate-attempt collapse (SqlSink.dedupStagedUpsert). The
    * correlated-MIN shape is collision-proof like finalizeAppend's;
    * it is a dialect seam because the two engines disagree on how a
    * searched DELETE exposes its target to a correlated subquery:
    * Derby takes a standard correlation name on the target, T-SQL
    * needs its alias-DELETE extension (`DELETE s FROM t s WHERE …`). */
  def deleteLosingAttempts(schema: String, table: String,
      pidCol: String, attCol: String): String = {
    // standard-SQL form (Derby and most engines)
    val t = this.table(schema, table)
    s"DELETE FROM $t s WHERE s.${quote(attCol)} <> " +
      s"(SELECT MIN(m.${quote(attCol)}) FROM $t m " +
      s"WHERE m.${quote(pidCol)} = s.${quote(pidCol)})" +
      statementTerminator
  }
}

object Dialect {
  private val keyIndexSuffix = "__graft_key"
  /** Identifier length limit shared by SQL Server (sysname) and Derby. */
  private val maxIdentifier = 128

  /** `<table>__graft_key`. A table name too long for the 128-character
    * limit is cut and followed by 8 hex digits of its SHA-256, so two
    * long names that share a prefix still get distinct index names. */
  def keyIndexName(table: String): String = {
    val t = table.strip()
    if (t.length + keyIndexSuffix.length <= maxIdentifier) t + keyIndexSuffix
    else {
      val hash = java.security.MessageDigest.getInstance("SHA-256")
        .digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      t.take(maxIdentifier - keyIndexSuffix.length - hash.length - 1) +
        "_" + hash + keyIndexSuffix
    }
  }
}

/** Azure SQL / SQL Server — the reference's target engine. */
case object SqlServerDialect extends Dialect {
  // "]" doubles inside brackets — without the escape, an identifier
  // containing "]" (an untrusted CSV header is enough) closes the
  // bracket early and the remainder executes as raw T-SQL over the
  // sink's raw connection
  def quote(ident: String): String =
    s"[${ident.strip().replace("]", "]]")}]"
  def notMatchedClause: String = "WHEN NOT MATCHED BY TARGET"
  def statementTerminator: String = ";"
  def createSchemaSql(schema: String): Seq[String] = {
    // Same idempotent statement the reference issues (export.py:195-200).
    // Two escape layers, both required: the schema sits in a '...'
    // literal (single quotes double), and the EXEC argument is ITSELF
    // a literal wrapping the bracket-quoted CREATE — so the inner
    // statement's quotes double once more
    val lit = schema.strip().replace("'", "''")
    val inner = s"CREATE SCHEMA ${quote(schema)}".replace("'", "''")
    Seq(
      s"IF NOT EXISTS (SELECT * FROM sys.schemas WHERE name = '$lit') " +
        s"EXEC('$inner')")
  }
  def dropTableSql(schema: String, name: String): String =
    s"DROP TABLE IF EXISTS ${table(schema, name)}"
  def ddlType(t: graft.types.SqlTypeMapper.SqlType): String = t.ddl
  // T-SQL index names are per table and may not be schema-qualified
  def createKeyIndexSql(schema: String, table: String,
      keys: Seq[String]): String =
    s"CREATE INDEX ${quote(Dialect.keyIndexName(table))} ON " +
      s"${this.table(schema, table)} (${keys.map(quote).mkString(", ")})"
  // T-SQL's alias-DELETE extension: a plain searched DELETE cannot
  // alias its target, and the unaliased target is awkward to
  // reference from the correlated subquery — `DELETE s FROM … s` is
  // the documented T-SQL idiom
  override def deleteLosingAttempts(schema: String, table: String,
      pidCol: String, attCol: String): String = {
    val t = this.table(schema, table)
    s"DELETE s FROM $t s WHERE s.${quote(attCol)} <> " +
      s"(SELECT MIN(m.${quote(attCol)}) FROM $t m " +
      s"WHERE m.${quote(pidCol)} = s.${quote(pidCol)})" +
      statementTerminator
  }
}

/** Embedded Apache Derby — hermetic stand-in for integration tests. */
case object DerbyDialect extends Dialect {
  // same early-close hazard as the bracket form: '"' doubles
  def quote(ident: String): String =
    "\"" + ident.strip().replace("\"", "\"\"") + "\""
  def notMatchedClause: String = "WHEN NOT MATCHED"
  def statementTerminator: String = "" // Derby JDBC rejects trailing ';'
  override def setLhs(quotedIdent: String): String = quotedIdent
  def createSchemaSql(schema: String): Seq[String] =
    Seq(s"CREATE SCHEMA ${quote(schema)}")
  def dropTableSql(schema: String, name: String): String =
    s"DROP TABLE ${table(schema, name)}"
  def ddlType(t: graft.types.SqlTypeMapper.SqlType): String = {
    import graft.types.SqlTypeMapper._
    t match {
      case SqlVarchar(None) => "VARCHAR(32672)" // Derby has no VARCHAR(MAX)
      case SqlBit => "BOOLEAN"
      case SqlDateTime => "TIMESTAMP"
      case other => other.ddl
    }
  }
  // Derby index names live in a schema: qualify with the table's, so
  // the same table name in two schemas gets one index in each
  def createKeyIndexSql(schema: String, table: String,
      keys: Seq[String]): String =
    s"CREATE INDEX ${this.table(schema, Dialect.keyIndexName(table))} ON " +
      s"${this.table(schema, table)} (${keys.map(quote).mkString(", ")})"
  // Spark's built-in Derby dialect binds strings as CLOB, and Derby
  // refuses a CLOB-typed null for a VARCHAR column
  override private[sql] def registerSparkDialect(): Unit =
    org.apache.spark.sql.jdbc.GraftDerbyDialect.register
}
