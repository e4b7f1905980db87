package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.checks.Validations.Method

/** Parquet-path round-trips (reference tests/test_parquet.py:18-117):
  * create overwrites, append accumulates, upsert applies the O15
  * two-branch semantics via a shadow-directory swap. */
class ParquetSinkSpec extends SparkSpec {

  import spark.implicits._

  private def tmpBase(): String =
    Files.createTempDirectory("graft_pq").toString

  test("create then read back; second create overwrites") {
    val base = tmpBase()
    val cfg = ParquetSink.Config(base, "t", "s", Method.Create)
    ParquetSink.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), cfg)
    assert(spark.read.parquet(ParquetSink.tablePath(cfg)).count() === 2)
    ParquetSink.write(Seq((9, "z")).toDF("id", "v"), cfg)
    val got = spark.read.parquet(ParquetSink.tablePath(cfg))
      .as[(Int, String)].collect()
    assert(got.toSeq === Seq((9, "z")))
  }

  test("append lands new files without touching old rows") {
    val base = tmpBase()
    ParquetSink.write(Seq((1, "a")).toDF("id", "v"),
      ParquetSink.Config(base, "t", "s", Method.Create))
    ParquetSink.write(Seq((2, "b")).toDF("id", "v"),
      ParquetSink.Config(base, "t", "s", Method.Append))
    assert(spark.read.parquet(s"$base/s/t.parquet").count() === 2)
  }

  test("upsert on existing data applies keyed row/cell semantics") {
    val base = tmpBase()
    ParquetSink.write(
      Seq((1, "A", "AA"), (2, "B", "BB"), (3, "C", "CC")).toDF("id", "x", "y"),
      ParquetSink.Config(base, "t", "s", Method.Create))
    ParquetSink.write(
      Seq((2, "X", "XX"), (4, "D", "DD")).toDF("id", "x", "y"),
      ParquetSink.Config(base, "t", "s", Method.Upsert, Seq("id")))
    val got = spark.read.parquet(s"$base/s/t.parquet")
      .orderBy("id").as[(Int, String, String)].collect().toSeq
    assert(got === Seq((1, "A", "AA"), (2, "X", "XX"), (3, "C", "CC"),
      (4, "D", "DD")))
  }

  test("upsert with no existing table behaves as create") {
    val base = tmpBase()
    ParquetSink.write(Seq((1, "a")).toDF("id", "v"),
      ParquetSink.Config(base, "t", "s", Method.Upsert, Seq("id")))
    assert(spark.read.parquet(s"$base/s/t.parquet").count() === 1)
  }

  // --- reference-compatible single-object layout (export.py:354-360) ---

  test("singleFile create writes ONE object at schema/table.parquet") {
    val base = tmpBase()
    val cfg = ParquetSink.Config(base, "t", "s", Method.Create,
      singleFile = true)
    ParquetSink.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), cfg)
    val f = new java.io.File(s"$base/s/t.parquet")
    assert(f.isFile, "expected a plain file, not a part-file directory")
    // read-back golden: a reference-era consumer sees one parquet object
    val got = spark.read.parquet(f.toString)
      .orderBy("id").as[(Int, String)].collect().toSeq
    assert(got === Seq((1, "a"), (2, "b")))
  }

  test("singleFile upsert round-trips through the one-object layout") {
    val base = tmpBase()
    ParquetSink.write(Seq((1, "A"), (2, "B")).toDF("id", "x"),
      ParquetSink.Config(base, "t", "s", Method.Create, singleFile = true))
    ParquetSink.write(Seq((2, "X"), (3, "C")).toDF("id", "x"),
      ParquetSink.Config(base, "t", "s", Method.Upsert, Seq("id"),
        singleFile = true))
    val f = new java.io.File(s"$base/s/t.parquet")
    assert(f.isFile)
    val got = spark.read.parquet(f.toString)
      .orderBy("id").as[(Int, String)].collect().toSeq
    assert(got === Seq((1, "A"), (2, "X"), (3, "C")))
  }

  test("singleFile overwrite leaves no __old debris and survives a " +
    "staged-rename failure with the previous object intact") {
    // the overwrite path renames the live object ASIDE (never
    // delete-then-rename — a crash between those would leave NO live
    // copy); after a successful replace the aside copy is cleaned up
    val base = tmpBase()
    ParquetSink.write(Seq((1, "A")).toDF("id", "x"),
      ParquetSink.Config(base, "t", "s", Method.Create, singleFile = true))
    ParquetSink.write(Seq((1, "B")).toDF("id", "x"),
      ParquetSink.Config(base, "t", "s", Method.Create, singleFile = true))
    val dir = new java.io.File(s"$base/s")
    // ignore LocalFileSystem checksum sidecars (dot-prefixed .crc)
    assert(dir.listFiles().map(_.getName).filterNot(_.startsWith("."))
      .sorted.toSeq === Seq("t.parquet"),
      dir.listFiles().map(_.getName).mkString(","))
    assert(spark.read.parquet(s"$base/s/t.parquet")
      .as[(Int, String)].collect().toSeq === Seq((1, "B")))
  }

  test("singleFile append lands table/table_<stamp>.parquet per call") {
    val base = tmpBase()
    ParquetSink.write(Seq((1, "a")).toDF("id", "v"),
      ParquetSink.Config(base, "t", "s", Method.Append, singleFile = true))
    ParquetSink.write(Seq((2, "b")).toDF("id", "v"),
      ParquetSink.Config(base, "t", "s", Method.Append, singleFile = true))
    val dir = new java.io.File(s"$base/s/t")
    val files = dir.listFiles().filter(_.getName.matches("t_\\d+\\.parquet"))
    assert(files.length === 2, dir.listFiles().map(_.getName).mkString(","))
    assert(spark.read.parquet(files.map(_.toString): _*).count() === 2)
  }

  test("append stamps are strictly increasing even within one " +
    "millisecond (no silent same-name overwrite)") {
    // two appends in the same millisecond would otherwise produce the
    // SAME <table>_<millis>.parquet name, and the second would replace
    // the first — 1000 back-to-back calls guarantee same-millis
    // pressure that wall-clock alone cannot deduplicate
    val stamps = (1 to 1000).map(_ => ParquetSink.appendStamp())
    assert(stamps.distinct.size === 1000)
    assert(stamps === stamps.sorted)
  }

  test("singleFile rejects hive partitioning") {
    intercept[IllegalArgumentException] {
      ParquetSink.write(Seq((1, "a")).toDF("id", "v"),
        ParquetSink.Config(tmpBase(), "t", "s", Method.Create,
          partitionBy = Seq("v"), singleFile = true))
    }
  }

  test("upsert refuses a key-duplicated EXISTING table instead of " +
    "silently multiplying rows through the full-outer join") {
    val base = tmpBase()
    ParquetSink.write(Seq((1, "a")).toDF("id", "v"),
      ParquetSink.Config(base, "t", "s", Method.Create))
    // a prior append lands the same key again — legal for append
    ParquetSink.write(Seq((1, "a2")).toDF("id", "v"),
      ParquetSink.Config(base, "t", "s", Method.Append))
    val e = intercept[graft.checks.UpsertError] {
      ParquetSink.write(Seq((1, "new")).toDF("id", "v"),
        ParquetSink.Config(base, "t", "s", Method.Upsert, Seq("id")))
    }
    assert(e.getMessage.contains("existing table"))
    // and the on-disk table is untouched by the refused upsert
    assert(spark.read.parquet(s"$base/s/t.parquet").count() === 2)
  }

  // --- one input probe, and the key-uniqueness marker ---

  private def up(base: String, keys: Seq[String] = Seq("id")) =
    ParquetSink.Config(base, "t", "s", Method.Upsert, keys)

  private def vouched(base: String, keys: Seq[String] = Seq("id")) = {
    val path = s"$base/s/t.parquet"
    val (fs, _) = graft.Scratch.fs(spark, path)
    ParquetSink.keysVouched(fs,
      new org.apache.hadoop.fs.Path(Generations.resolve(spark, path)), keys)
  }

  /** A table at `base` whose last write was an upsert (so its marker
    * vouches for its keys). */
  private def upsertedTable(): String = {
    val base = tmpBase()
    ParquetSink.write(Seq((1, "a"), (2, "b")).toDF("id", "v"),
      ParquetSink.Config(base, "t", "s", Method.Create))
    ParquetSink.write(Seq((2, "B"), (3, "c")).toDF("id", "v"), up(base))
    assert(vouched(base), "an upsert leaves its keys vouched for")
    base
  }

  private def rows(base: String): Seq[(Int, String)] =
    spark.read.parquet(Generations.resolve(spark, s"$base/s/t.parquet"))
      .orderBy("id", "v").as[(Int, String)].collect().toSeq

  private def refusesExisting(base: String, keys: Seq[String] = Seq("id")) = {
    def snapshot() = spark.read.parquet(Generations.resolve(spark,
      s"$base/s/t.parquet")).collect().map(_.toString).sorted.toSeq
    val before = snapshot()
    val e = intercept[graft.checks.UpsertError] {
      ParquetSink.write(Seq((9, "z")).toDF("id", "v"), up(base, keys))
    }
    assert(e.getMessage.contains("existing table"), e.getMessage)
    assert(snapshot() === before, "a refused upsert touched the table")
  }

  test("an upsert on a table the previous upsert wrote runs the probe " +
    "and the merge only: the whole-table key check is skipped") {
    val base = upsertedTable()
    // same dispatch (no missing cell) in both measured upserts
    val vouchedJobs = jobsDuring(ParquetSink.write(
      Seq((3, "C"), (4, "d")).toDF("id", "v"), up(base)))
    ParquetSink.write(Seq((5, "e")).toDF("id", "v"),
      ParquetSink.Config(base, "t", "s", Method.Append))
    assert(!vouched(base))
    val checkedJobs = jobsDuring(ParquetSink.write(
      Seq((4, "D"), (6, "f")).toDF("id", "v"), up(base)))
    // the probe (1 job: the delta is probed in one task) plus the
    // cell-mode merge write; the unvouched upsert adds the whole-table
    // key check's 2
    assert(vouchedJobs <= 4, s"vouched upsert ran $vouchedJobs jobs")
    assert(checkedJobs === vouchedJobs + 2,
      s"vouched $vouchedJobs jobs, checked $checkedJobs jobs")
    assert(rows(base) === Seq((1, "a"), (2, "B"), (3, "C"), (4, "D"),
      (5, "e"), (6, "f")))
  }

  test("the full key check comes back after an append") {
    val base = upsertedTable()
    ParquetSink.write(Seq((1, "dup")).toDF("id", "v"),
      ParquetSink.Config(base, "t", "s", Method.Append))
    assert(!vouched(base))
    refusesExisting(base)
  }

  test("the full key check comes back after a foreign part file lands " +
    "in the table directory") {
    val base = upsertedTable()
    val foreign = tmpBase() + "/f"
    Seq((2, "dup")).toDF("id", "v").coalesce(1).write.parquet(foreign)
    val part = new java.io.File(foreign).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath,
      new java.io.File(s"$base/s/t.parquet/part-foreign.parquet").toPath)
    assert(!vouched(base))
    refusesExisting(base)
  }

  test("the full key check comes back after a create") {
    val base = upsertedTable()
    // create never checks keys: it may land duplicates
    ParquetSink.write(Seq((1, "a"), (1, "b")).toDF("id", "v"),
      ParquetSink.Config(base, "t", "s", Method.Create))
    assert(!new java.io.File(s"$base/s/t.parquet/${ParquetSink.KeysMarker}")
      .exists())
    refusesExisting(base)
  }

  test("the full key check comes back after Maintenance.compact of a " +
    "generational table") {
    val base = tmpBase()
    val path = s"$base/s/t.parquet"
    ParquetSink.write(Seq((1, "a"), (2, "b")).toDF("id", "v"),
      ParquetSink.Config(base, "t", "s", Method.Create))
    Maintenance.compact(spark, path, 1000)
    assert(Generations.hasGens(spark, path))
    ParquetSink.write(Seq((2, "B"), (3, "c")).toDF("id", "v"), up(base))
    assert(vouched(base), "a generational upsert stamps its generation")
    Maintenance.compact(spark, path, 1000)
    assert(!vouched(base))
    // an upsert re-checks and re-stamps; then a duplicate the append
    // lands survives the compaction and is still caught
    ParquetSink.write(Seq((4, "d")).toDF("id", "v"), up(base))
    assert(vouched(base))
    ParquetSink.write(Seq((3, "dup")).toDF("id", "v"),
      ParquetSink.Config(base, "t", "s", Method.Append))
    Maintenance.compact(spark, path, 1000)
    assert(!vouched(base))
    refusesExisting(base)
  }

  test("a marker stamped for other key columns vouches for nothing") {
    val base = tmpBase()
    // unique on id, duplicated on v
    ParquetSink.write(Seq((1, "a"), (2, "b")).toDF("id", "v"),
      ParquetSink.Config(base, "t", "s", Method.Create))
    ParquetSink.write(Seq((2, "a")).toDF("id", "v"), up(base))
    assert(vouched(base))
    assert(!vouched(base, Seq("v")))
    assert(!vouched(base, Seq("id", "v")))
    refusesExisting(base, Seq("v"))
  }

  test("a crash between an upsert's commit and its stamp leaves no " +
    "marker, and the next upsert checks the whole table") {
    for (generational <- Seq(false, true)) {
      val base = upsertedTable()
      val path = s"$base/s/t.parquet"
      if (generational) Maintenance.compact(spark, path, 1000)
      ParquetSink.beforeStamp = p =>
        if (p == path) throw new IllegalStateException("killed")
      try intercept[IllegalStateException] {
        ParquetSink.write(Seq((3, "C"), (4, "d")).toDF("id", "v"), up(base))
      } finally ParquetSink.beforeStamp = _ => ()
      // committed: the upsert's rows are live, its marker is not
      assert(rows(base) === Seq((1, "a"), (2, "B"), (3, "C"), (4, "d")))
      assert(!new java.io.File(Generations.resolve(spark, path),
        ParquetSink.KeysMarker).exists(), s"generational=$generational")
      assert(!vouched(base))
      ParquetSink.write(Seq((5, "e")).toDF("id", "v"), up(base))
      assert(vouched(base))
    }
  }

  test("a null key in the delta leaves the result unvouched: the next " +
    "upsert's full check still sees two null-keyed rows") {
    val base = tmpBase()
    val data = Seq((Option(1), "a"), (Option.empty[Int], "n")).toDF("id", "v")
    ParquetSink.write(data, ParquetSink.Config(base, "t", "s", Method.Create))
    ParquetSink.write(Seq((Option.empty[Int], "m")).toDF("id", "v"), up(base))
    assert(!vouched(base))
    assert(spark.read.parquet(s"$base/s/t.parquet").count() === 3)
    refusesExisting(base)
  }

  test("probe errors are unchanged: a duplicate in the delta throws " +
    "requireUniqueKeys' error, an empty delta writes nothing") {
    val base = upsertedTable()
    val listing = new java.io.File(s"$base/s/t.parquet").list().sorted.toSeq
    val dup = Seq((7, "x"), (7, "y")).toDF("id", "v")
    val want = intercept[graft.checks.UpsertError] {
      graft.checks.Validations.requireUniqueKeys(dup, Seq("id"))
    }
    val got = intercept[graft.checks.UpsertError] {
      ParquetSink.write(dup, up(base))
    }
    assert(got.getMessage === want.getMessage)
    assert(!ParquetSink.write(Seq.empty[(Int, String)].toDF("id", "v"),
      up(base)))
    assert(!ParquetSink.write(Seq.empty[(Int, String)].toDF("id", "v"),
      up(tmpBase())))
    assert(new java.io.File(s"$base/s/t.parquet").list().sorted.toSeq ===
      listing, "a refused or empty upsert touched the table")
  }

  test("the sink's dispatch matches Upsert.upsert on null and NaN " +
    "float cells") {
    val old = Seq((1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "c"))
      .toDF("id", "x", "v")
    val deltas = Seq(
      Seq((2, Double.NaN, "B"), (4, 4.0, "d")).toDF("id", "x", "v"),
      Seq[(Int, Option[Double], String)]((2, None, "B"), (4, Some(4.0), "d"))
        .toDF("id", "x", "v"),
      Seq[(Int, Double, String)]((2, 20.0, null), (4, 4.0, "d"))
        .toDF("id", "x", "v"),
      Seq((2, 20.0, "B"), (4, 4.0, "d")).toDF("id", "x", "v"))
    for ((delta, i) <- deltas.zipWithIndex) {
      val base = tmpBase()
      ParquetSink.write(old, ParquetSink.Config(base, "t", "s", Method.Create))
      ParquetSink.write(delta, up(base))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("id").collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(canon(spark.read.parquet(s"$base/s/t.parquet")) ===
        canon(graft.operators.Upsert.upsert(delta, old, Seq("id"))),
        s"delta $i")
    }
  }
}
