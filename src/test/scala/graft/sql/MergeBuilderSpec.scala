package graft.sql

import org.scalatest.funsuite.AnyFunSuite

/** Golden-text tests for MERGE synthesis — semantics of reference
  * db.py:36-53 (match on all id cols, matched → UPDATE non-id cols,
  * not matched → INSERT all cols, never delete), including the
  * bracket-quoted spaces-in-names case (reference
  * tests/test_upsert.py:137-169). */
class MergeBuilderSpec extends AnyFunSuite {

  test("single-key MERGE against SQL Server dialect") {
    val m = MergeBuilder("sample", "dbo", Seq("id"), Seq("id", "name", "val"))
    assert(m.mergeStatement ===
      "MERGE INTO [dbo].[sample] t USING [staging].[sample] s " +
        "ON s.[id] = t.[id] " +
        "WHEN MATCHED THEN UPDATE SET t.[name] = s.[name], t.[val] = s.[val] " +
        "WHEN NOT MATCHED BY TARGET THEN INSERT ([id], [name], [val]) " +
        // trailing ';': SQL Server REQUIRES MERGE to be semicolon-
        // terminated (error 10713) — the reference's text ends with one
        // (db.py:48); Derby's dialect terminator is empty instead
        "VALUES (s.[id], s.[name], s.[val]);")
  }

  test("identifier quote characters are escaped, not statement breaks") {
    // an untrusted column name containing ']' must stay ONE bracketed
    // identifier (']]' escape), never close the bracket early and leak
    // the remainder as raw T-SQL on the sink's raw connection
    assert(SqlServerDialect.quote("a]b; DROP TABLE x--") ===
      "[a]]b; DROP TABLE x--]")
    assert(DerbyDialect.quote("a\"b") === "\"a\"\"b\"")
    // schema names inside the CREATE SCHEMA literal double their quotes
    // at BOTH literal layers (outer comparison + inner EXEC argument)
    assert(SqlServerDialect.createSchemaSql("o'brien") === Seq(
      "IF NOT EXISTS (SELECT * FROM sys.schemas WHERE name = 'o''brien') " +
        "EXEC('CREATE SCHEMA [o''brien]')"))
  }

  test("multi-column key joins on the conjunction of all keys") {
    val m = MergeBuilder("t", "s", Seq("k1", "k2"), Seq("k1", "k2", "v"))
    assert(m.onClause === "s.[k1] = t.[k1] AND s.[k2] = t.[k2]")
    assert(m.updateClause === "t.[v] = s.[v]")
  }

  test("spaces in column names stay bracket-quoted") {
    val m = MergeBuilder("t", "s", Seq("id"), Seq("id", "col a"))
    assert(m.updateClause === "t.[col a] = s.[col a]")
    assert(m.insertColumns === "([id], [col a])")
  }

  test("column-name whitespace is stripped (reference db.py:18)") {
    val m = MergeBuilder("t", "s", Seq(" id "), Seq(" id ", " v "))
    assert(m.onClause === "s.[id] = t.[id]")
  }

  test("all-key table emits no UPDATE clause") {
    val m = MergeBuilder("t", "s", Seq("id"), Seq("id"))
    assert(!m.mergeStatement.contains("WHEN MATCHED"))
  }

  /** Why this test exists: no MSSQL-compatible engine is available
    * hermetically (no H2 jar in the offline cache; the cached DuckDB
    * JDBC predates MERGE), so the shipped T-SQL text itself only
    * EXECUTES in the env-gated live suite (SqlSinkMssqlSpec). This pins
    * the next-best guarantee: the Derby statement that
    * SqlSinkDerbySpec's reference-golden upsert actually executes is
    * the MECHANICAL dialect image of the shipped T-SQL — brackets →
    * double quotes, "BY TARGET" dropped, SET lhs unqualified — and
    * nothing else differs. Any structural change to the T-SQL emission
    * (clause order, ON conjunction, INSERT shape) now lands in the
    * executed-on-Derby text too, or this equivalence breaks. */
  test("executed Derby MERGE is the mechanical dialect image of the " +
    "shipped T-SQL") {
    def image(tsql: String): String = {
      val quoted = tsql
        .stripSuffix(";") // the T-SQL terminator; Derby's is empty
        .replaceAll("\\[([^\\]]*)\\]", "\"$1\"")
        .replace("WHEN NOT MATCHED BY TARGET", "WHEN NOT MATCHED")
      // unqualify the SET lhs only inside the UPDATE SET segment —
      // the ON clause keeps its t-qualification in both dialects
      val setStart = quoted.indexOf("UPDATE SET ")
      if (setStart < 0) quoted
      else {
        val setEnd = quoted.indexOf(" WHEN NOT MATCHED", setStart)
        quoted.substring(0, setStart) +
          quoted.substring(setStart, setEnd).replace("t.\"", "\"") +
          quoted.substring(setEnd)
      }
    }
    val shapes = Seq(
      MergeBuilder("sample", "dbo", Seq("id"), Seq("id", "name", "val")),
      MergeBuilder("t", "s", Seq("k1", "k2"), Seq("k1", "k2", "v")),
      MergeBuilder("t", "s", Seq("id"), Seq("id", "col a")),
      MergeBuilder("t", "s", Seq("id"), Seq("id")))
    shapes.foreach { m =>
      assert(image(m.mergeStatement) ===
        m.copy(dialect = DerbyDialect).mergeStatement)
    }
  }

  test("Derby dialect: unqualified SET lhs, double-quote idents") {
    val m = MergeBuilder("t", "s", Seq("id"), Seq("id", "v"),
      dialect = DerbyDialect)
    assert(m.mergeStatement ===
      "MERGE INTO \"s\".\"t\" t USING \"staging\".\"t\" s " +
        "ON s.\"id\" = t.\"id\" " +
        "WHEN MATCHED THEN UPDATE SET \"v\" = s.\"v\" " +
        "WHEN NOT MATCHED THEN INSERT (\"id\", \"v\") " +
        "VALUES (s.\"id\", s.\"v\")")
  }

  test("key index DDL: T-SQL names the index bare, Derby qualifies it " +
    "with the table's schema") {
    assert(SqlServerDialect.createKeyIndexSql("dbo", "sample", Seq("id")) ===
      "CREATE INDEX [sample__graft_key] ON [dbo].[sample] ([id])")
    assert(DerbyDialect.createKeyIndexSql("app", "sample", Seq("k1", "k2")) ===
      "CREATE INDEX \"app\".\"sample__graft_key\" ON \"app\".\"sample\" " +
        "(\"k1\", \"k2\")")
  }

  test("key index DDL escapes quote characters in table and key names") {
    assert(SqlServerDialect.createKeyIndexSql("dbo", "a]b", Seq("k]1", " k2 ")) ===
      "CREATE INDEX [a]]b__graft_key] ON [dbo].[a]]b] ([k]]1], [k2])")
    assert(DerbyDialect.createKeyIndexSql("s", "a\"b", Seq("k\"1")) ===
      "CREATE INDEX \"s\".\"a\"\"b__graft_key\" ON \"s\".\"a\"\"b\" " +
        "(\"k\"\"1\")")
  }

  test("key index name: <table>__graft_key, capped at 128 characters " +
    "with a hash suffix") {
    assert(Dialect.keyIndexName(" t ") === "t__graft_key")
    val fits = "x" * (128 - "__graft_key".length)
    assert(Dialect.keyIndexName(fits) === fits + "__graft_key")
    // cut to 108 characters + "_" + 8 hex digits of the name's SHA-256
    assert(Dialect.keyIndexName("y" * 200 + "a") ===
      "y" * 108 + "_0eba8d93__graft_key")
    assert(Dialect.keyIndexName("y" * 200 + "a").length === 128)
    // a shared prefix does not make two long names collide
    assert(Dialect.keyIndexName("y" * 200 + "b") !==
      Dialect.keyIndexName("y" * 200 + "a"))
    assert(SqlServerDialect.createKeyIndexSql("dbo", fits + "z", Seq("id"))
      .startsWith(s"CREATE INDEX [${"x" * 108}_"))
  }
}
