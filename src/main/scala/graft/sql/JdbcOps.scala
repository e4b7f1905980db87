package graft.sql

import java.sql.{Connection, DatabaseMetaData, DriverManager, ResultSet}
import java.util.Locale

/** Raw-connection JDBC helpers (SURVEY.md §2 O9/O10/O21/O22): DDL,
  * CREATE SCHEMA, MERGE — the statements Spark's JDBC writer cannot
  * express. Driver-side only; bulk row traffic goes through the
  * distributed JDBC writer instead. The `Connection` forms let one
  * logical operation (a `SqlSink.write`) run all its statements over
  * one connection — against Azure SQL every connection is a TLS login
  * round trip; the `url` forms open one per call.
  */
object JdbcOps {

  def withConnection[A](url: String)(f: Connection => A): A = {
    val conn = DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  /** Execute one statement, autocommit (reference db.py:104-119). */
  def execute(conn: Connection, stmt: String): Unit = {
    val st = conn.createStatement()
    try st.execute(stmt) finally st.close()
  }

  def execute(url: String, stmt: String): Unit =
    withConnection(url)(execute(_, stmt))

  /** Execute a statement, swallowing failures — for drops/creates that
    * are idempotent by intent but whose engine lacks IF EXISTS (Derby).
    * Under autocommit a failed statement leaves the connection usable. */
  def executeIgnore(conn: Connection, stmt: String): Unit =
    try execute(conn, stmt) catch { case _: java.sql.SQLException => () }

  def executeIgnore(url: String, stmt: String): Unit =
    try execute(url, stmt) catch { case _: java.sql.SQLException => () }

  /** A table as the metadata store spells it; `schema` and `catalog`
    * may be null on drivers that report no namespace there. */
  private final case class StoredTable(catalog: String, schema: String,
      name: String) {
    /** Whether a metadata row (getIndexInfo, getColumns) is about this
      * table: exact comparison, since both spellings come from the
      * store — those calls take LIKE patterns on some drivers (Derby),
      * so their rows are re-verified like [[tableExists]]'s. */
    def owns(rs: ResultSet): Boolean =
      rs.getString("TABLE_NAME") == name &&
        (schema == null || rs.getString("TABLE_SCHEM") == schema)
  }

  private def likePattern(md: DatabaseMetaData): String => String = {
    val esc = Option(md.getSearchStringEscape).getOrElse("")
    x =>
      if (esc.isEmpty) x
      else x.replace(esc, esc + esc)
        .replace("_", esc + "_").replace("%", esc + "%")
  }

  /** Table-existence check via DatabaseMetaData. Unlike a probe
    * SELECT, there is no exception ambiguity: a genuinely absent table
    * returns false, while a transient failure (lock timeout,
    * connection reset, failover) PROPAGATES — callers that branch to
    * destructive DDL on "missing" must never mistake a blip for
    * absence. getTables treats its arguments as LIKE patterns and some
    * drivers ship NO usable escape string (Derby's
    * getSearchStringEscape returns "" — caught by the spec), so rather
    * than trusting pattern escaping the match is re-verified against
    * the schema/table names on the returned rows: an underscore acting
    * as a wildcard can then never produce a false "exists".
    *
    * The comparison direction is chosen by failure mode — a false
    * "missing" routes the streaming sink to DROP+CREATE (destroys the
    * standing table), a false "exists" routes it to a MERGE that fails
    * LOUDLY and retries. Hence:
    *  - names are compared case-INsensitively (a case-insensitive
    *    store like default-collation SQL Server returns the stored
    *    case, which may differ from the probe's);
    *  - names are stripped first (the DDL path's Dialect.quote strips,
    *    so that is the form on the server);
    *  - `types = null` deliberately counts views/synonyms as "exists":
    *    an object of any type squatting on the name must block the
    *    DROP+CREATE branch (type-name vocabularies also differ across
    *    drivers — restricting to "TABLE" risks the destructive false
    *    "missing" on a driver that names base tables differently);
    *  - the schema on returned rows is read null-safely from
    *    TABLE_SCHEM, falling back to TABLE_CAT (some drivers report
    *    the namespace there), and a row reporting NEITHER counts as a
    *    schema match — on a schema-less store the name alone decides,
    *    again resolving the ambiguity toward "exists". */
  def tableExists(url: String, schema: String, table: String): Boolean =
    withConnection(url)(findTable(_, schema, table).isDefined)

  /** The first table [[tableExists]] would count, as stored. */
  private def findTable(conn: Connection, schema: String,
      table: String): Option[StoredTable] = {
    val (s, t) = (schema.strip(), table.strip())
    val md = conn.getMetaData
    val pat = likePattern(md)
    def schemaMatches(rs: ResultSet): Boolean = {
      val sch = rs.getString("TABLE_SCHEM")
      if (sch != null) sch.strip().equalsIgnoreCase(s)
      else {
        val cat = rs.getString("TABLE_CAT")
        cat == null || cat.strip().equalsIgnoreCase(s)
      }
    }
    def scan(rs: ResultSet): Option[StoredTable] =
      try {
        var found = Option.empty[StoredTable]
        while (found.isEmpty && rs.next())
          if (schemaMatches(rs) &&
              rs.getString("TABLE_NAME").equalsIgnoreCase(t))
            found = Some(StoredTable(rs.getString("TABLE_CAT"),
              rs.getString("TABLE_SCHEM"), rs.getString("TABLE_NAME")))
        found
      } finally rs.close()
    // Widening ladder, paid only on the would-be-destructive
    // "missing" path:
    //  1. exact-pattern probe — the common hit;
    //  2. schema-scoped wildcard — catches TABLE-name case divergence
    //     on a case-SENSITIVE metadata store (the LIKE itself is
    //     case-sensitive there) without enumerating the catalog;
    //  3. FULL catalog listing, UNCONDITIONALLY as the last rung.
    //     Rung 3 must not be skipped when rung 2 merely listed rows:
    //     with schemas "DBO" (exists, no such table) and "dbo"
    //     (holds the table) on a case-sensitive store, rung 2 lists
    //     "DBO" and misses — only the catalog-wide case-insensitive
    //     scan finds the table, and a false "missing" here routes a
    //     caller to destructive DROP+CREATE. The catalog enumeration
    //     cost is paid only when the table genuinely looks absent —
    //     exactly when getting the answer right matters most.
    //     Known, deliberate cost of the catalog-wide rung: on a
    //     driver whose rows carry NEITHER TABLE_SCHEM nor TABLE_CAT,
    //     schemaMatches resolves the ambiguity toward "exists", so a
    //     same-named table in an unrelated namespace can read as
    //     present — a false "exists" that fails LOUDLY downstream
    //     (MERGE to a missing table) and is retryable, versus the
    //     false "missing" whose DROP+CREATE destroys data. Direction
    //     chosen by failure mode, as the scaladoc above states.
    // The scans' case-insensitive re-verification keeps every rung
    // exact.
    scan(md.getTables(null, pat(s), pat(t), null))
      .orElse(scan(md.getTables(null, pat(s), "%", null)))
      .orElse(scan(md.getTables(null, "%", "%", null)))
  }

  /** What the target's metadata says about indexing its upsert keys.
    * @param indexed some index's leading columns are exactly the keys,
    *   in any order — PK, unique or plain, but not a filtered one
    * @param keyBytes the keys' declared width summed; Long.MaxValue
    *   when a key column is missing from the metadata */
  final case class KeyIndexFacts(indexed: Boolean, keyBytes: Long)

  /** [[KeyIndexFacts]] of `schema.table` from `getIndexInfo` and
    * `getColumns`, the table found like [[tableExists]] finds it (names
    * stripped, compared case-insensitively, keys likewise); None when
    * there is no such table. */
  def keyIndexFacts(conn: Connection, schema: String, table: String,
      keys: Seq[String]): Option[KeyIndexFacts] =
    findTable(conn, schema, table).map { st =>
      def norm(c: String) = c.strip().toLowerCase(Locale.ROOT)
      val want = keys.map(norm).toSet
      // the rows of `rs` about `st`, each mapped by `row` (None drops it)
      def rows[A](rs: ResultSet)(row: => Option[A]): Seq[A] =
        try {
          val b = Seq.newBuilder[A]
          while (rs.next()) if (st.owns(rs)) row.foreach(b += _)
          b.result()
        } finally rs.close()
      val md = conn.getMetaData
      val ix = md.getIndexInfo(st.catalog, st.schema, st.name, false, true)
      val indexCols = rows(ix) {
        Option.when(ix.getString("INDEX_NAME") != null &&
            ix.getShort("TYPE") != DatabaseMetaData.tableIndexStatistic &&
            ix.getString("FILTER_CONDITION") == null)(
          (ix.getString("INDEX_NAME"), ix.getInt("ORDINAL_POSITION"),
            norm(ix.getString("COLUMN_NAME"))))
      }
      val indexed = indexCols.groupBy(_._1).values.exists { cols =>
        cols.sortBy(_._2).map(_._3).take(want.size).toSet == want
      }
      val pat = likePattern(md)
      val cols = md.getColumns(st.catalog,
        Option(st.schema).map(pat).orNull, pat(st.name), "%")
      val widths = rows(cols) {
        val c = norm(cols.getString("COLUMN_NAME"))
        Option.when(want(c))(c ->
          declaredBytes(cols.getInt("DATA_TYPE"), cols.getInt("COLUMN_SIZE")))
      }.toMap
      KeyIndexFacts(indexed,
        if (want.forall(widths.contains)) want.toSeq.map(widths).sum
        else Long.MaxValue)
    }

  /** Declared bytes of one key column: its declared length for
    * character and binary types (two bytes a character for the
    * national ones; VARCHAR(MAX) and LOBs report about 2^31), 17
    * otherwise — SQL Server's widest fixed-size key type,
    * DECIMAL(38). */
  private def declaredBytes(sqlType: Int, size: Int): Long = {
    import java.sql.Types._
    sqlType match {
      case NCHAR | NVARCHAR | LONGNVARCHAR | NCLOB => 2L * size
      case CHAR | VARCHAR | LONGVARCHAR | CLOB |
           BINARY | VARBINARY | LONGVARBINARY | BLOB => size.toLong
      case _ => 17L
    }
  }

  def queryCount(url: String, sql: String): Long =
    withConnection(url) { conn =>
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(sql)
        rs.next()
        rs.getLong(1)
      } finally st.close()
    }
}
