package graft.checks

import graft.SparkSpec
import graft.checks.Validations.Method

/** Reference behavior: method whitelist (settings.py:27-30), upsert
  * requires id_field (settings.py:31-34), duplicate column names
  * rejected (utils.py:92-97), duplicate keys rejected under upsert
  * (utils.py:87-89, tests/test_upsert.py:113-134). */
class ValidationsSpec extends SparkSpec {

  import spark.implicits._

  test("method parse accepts exactly create/append/upsert") {
    assert(Method.parse("create") === Method.Create)
    assert(Method.parse("append") === Method.Append)
    assert(Method.parse("upsert") === Method.Upsert)
    assertThrows[IllegalArgumentException](Method.parse("merge"))
  }

  test("upsert without id field is rejected") {
    assertThrows[IllegalArgumentException] {
      Validations.requireIdField(Method.Upsert, Nil)
    }
    Validations.requireIdField(Method.Create, Nil) // fine
  }

  test("duplicate column names are rejected") {
    val df = Seq((1, 2)).toDF("a", "b").select($"a", $"b".as("a"))
    assertThrows[DoubleColumnNamesError] {
      Validations.requireUniqueColumnNames(df)
    }
  }

  test("duplicate keys are rejected under upsert") {
    val df = Seq((1, "x"), (1, "y"), (2, "z")).toDF("id", "v")
    assertThrows[UpsertError] {
      Validations.requireUniqueKeys(df, Seq("id"))
    }
    Validations.requireUniqueKeys(df.filter($"v" =!= "y"), Seq("id"))
  }

  test("empty-input probe") {
    assert(Validations.isEmpty(Seq.empty[(Int, Int)].toDF("a", "b")))
    assert(!Validations.isEmpty(Seq((1, 2)).toDF("a", "b")))
  }

  test("probe: one pass answers the row count, the first duplicate key " +
    "group, a missing non-key cell and the caller's aggregates") {
    import org.apache.spark.sql.functions.{col, max}
    val df = Seq((1, "x", 1.0), (2, "y", Double.NaN), (2, "z", 3.0))
      .toDF("id", "v", "d")
    val p = Validations.probe(df, Seq("id"), Seq(max(col("v")).as("mv")))
    assert(p.rows === 3)
    assert(p.duplicate === Some(Seq(2)))
    assert(p.anyMissing, "NaN in a double column is missing")
    assert(p.extra === Map("mv" -> "z"))
    val e = intercept[UpsertError](p.requireUniqueKeys(Seq("id")))
    val want = intercept[UpsertError](
      Validations.requireUniqueKeys(df, Seq("id")))
    assert(e.getMessage === want.getMessage)
    val clean = Validations.probe(df.filter($"id" === 1), Seq("id"))
    assert(clean.rows === 1 && clean.duplicate.isEmpty && !clean.anyMissing)
    clean.requireUniqueKeys(Seq("id"))
    // a missing key cell is not a missing non-key cell
    val nullKey = Seq((Option.empty[Int], "a")).toDF("id", "v")
    assert(!Validations.probe(nullKey, Seq("id")).anyMissing)
    assert(Validations.probe(nullKey, Nil).anyMissing)
    val noKeys = Validations.probe(df, Nil, Seq(max(col("id")).as("mi")))
    assert(noKeys.rows === 3 && noKeys.duplicate.isEmpty &&
      noKeys.extra === Map("mi" -> 2))
  }

  test("probe: an input estimated small runs as one job, a larger one " +
    "as the shuffled pass") {
    val small = Seq((1, "x"), (2, "y"), (2, "z")).toDF("id", "v")
    assert(jobsDuring(Validations.probe(small, Seq("id"))) === 1)
    assert(jobsDuring(Validations.probe(small, Nil)) === 1)
    assert(Validations.probe(small, Seq("id")).duplicate === Some(Seq(2)))
    val big = spark.range(200000).selectExpr("id", "cast(id % 7 as int) as v")
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes >
      Validations.singleTaskProbeBytes)
    assert(jobsDuring(Validations.probe(big, Seq("id"))) === 2)
    val unique = Validations.probe(big, Seq("id"))
    assert(unique.rows === 200000 && unique.duplicate.isEmpty &&
      !unique.anyMissing)
    assert(Validations.probe(big, Seq("v")).duplicate.exists(d =>
      d.size == 1 && (0 until 7).contains(d.head)))
  }

  test("probe of an empty frame returns at once, whatever shape the " +
    "emptiness takes in the plan") {
    import org.apache.spark.sql.functions.{col, lit, max}
    val base = Seq((1, "x")).toDF("id", "v")
    val empties = Seq(Seq.empty[(Int, String)].toDF("id", "v"),
      base.limit(0), base.filter(lit(false)), base.filter($"id" > 5),
      spark.range(0).select(col("id").cast("int"), lit("v").as("v")))
    for (e <- empties; keys <- Seq(Seq("id"), Nil)) {
      val p = Validations.probe(e, keys, Seq(max(col("v")).as("mv")))
      assert(p.isEmpty && p.rows === 0 && p.duplicate.isEmpty &&
        !p.anyMissing)
      assert(p.extra === Map("mv" -> null))
    }
  }
}
