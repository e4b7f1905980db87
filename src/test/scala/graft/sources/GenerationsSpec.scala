package graft.sources

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Cross-task gate for the mid-scan tests: local[N] executors share the
  * JVM, so static latches coordinate a scan task with the driver-side
  * rewrite. One instance per test (reset). Only the scan's first
  * partition is held: the other tasks finish and free their cores, so
  * the rewrite's own jobs run while the held task still has to open
  * the files it planned. */
object GenScanGate {
  @volatile var started: CountDownLatch = _
  @volatile var proceed: CountDownLatch = _
  @volatile var timedOut = false
  def reset(): Unit = {
    started = new CountDownLatch(1)
    proceed = new CountDownLatch(1)
    timedOut = false
  }

  /** Called at the start of each scan task: partition 0 waits for
    * `proceed` (60 s at most, recorded in `timedOut`). */
  def hold(): Unit =
    if (org.apache.spark.TaskContext.getPartitionId() == 0) {
      started.countDown()
      if (!proceed.await(60, TimeUnit.SECONDS)) timedOut = true
    }

  /** Did the maintenance call that just returned run while the held
    * task was still waiting, i.e. does the scan straddle its commit? */
  def stillShut(scan: scala.concurrent.Future[_]): Boolean =
    !timedOut && !scan.isCompleted
}

class GenerationsSpec extends SparkSpec {

  import spark.implicits._

  private def writeTable(n: Int, parts: Int): String = {
    val dir = Files.createTempDirectory("graft_gen").toString + "/t"
    spark.range(n).select(col("id"), (col("id") % 7).as("v"))
      .repartition(parts).write.parquet(dir)
    dir
  }

  private def rootNames(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().toSeq.map(_.getName)

  test("resolve is identity for a plain table; commit adds a generation " +
    "without touching generation-0 files; naive root reads stay " +
    "stale-but-complete") {
    val dir = writeTable(100, 4)
    assert(Generations.resolve(spark, dir) === dir)
    val legacyFiles = rootNames(dir).filter(_.endsWith(".parquet")).sorted
    // rewrite: survivors only (drop v == 0), committed as generation 1
    val shadow = Generations.shadowFor(spark, dir)
    spark.read.parquet(dir).filter(col("v") =!= 0)
      .repartition(1).write.parquet(shadow)
    val gen1 = Generations.commit(spark, dir, shadow)
    assert(gen1.endsWith("/_gen_1"))
    assert(Generations.resolve(spark, dir) === gen1)
    // generation-0 files are byte-untouched at their paths (a scan that
    // planned splits before the commit keeps every file)
    assert(rootNames(dir).filter(_.endsWith(".parquet")).sorted ===
      legacyFiles)
    // a naive (non-resolving) reader of the root sees exactly the old
    // generation — underscore dirs are invisible to Spark — a complete
    // stale snapshot, never a mix
    assert(spark.read.parquet(dir).count() === 100)
    assert(spark.read.parquet(Generations.resolve(spark, dir))
      .count() === spark.read.parquet(dir).filter(col("v") =!= 0).count())
  }

  test("GC deletes retired generations, legacy files, and crashed " +
    "shadows only after the TTL; the newest generation is never touched") {
    val dir = writeTable(50, 2)
    def commitRewrite(): Unit = {
      val shadow = Generations.shadowFor(spark, dir)
      spark.read.parquet(Generations.resolve(spark, dir))
        .repartition(1).write.parquet(shadow)
      Generations.commit(spark, dir, shadow)
    }
    commitRewrite() // gen 1 (legacy retained: default TTL)
    commitRewrite() // gen 2 (gen 1 retained)
    assert(rootNames(dir).count(_.startsWith("_gen_")) === 2)
    assert(rootNames(dir).exists(_.endsWith(".parquet")),
      "legacy generation-0 files must survive until the TTL")
    // forge crashed-shadow debris
    new java.io.File(dir, ".gen_tmp_crashed").mkdirs()
    // TTL 0: everything retired is reaped at the next commit
    spark.conf.set("spark.graft.gen.ttlMs", "0")
    try {
      commitRewrite() // gen 3; GC reaps gens 1-2 + legacy + debris
      val names = rootNames(dir)
      assert(names.count(_.startsWith("_gen_")) === 1, names.mkString(","))
      assert(!names.exists(_.endsWith(".parquet")), names.mkString(","))
      assert(!names.exists(_.startsWith(".gen_tmp_")), names.mkString(","))
      assert(Generations.resolve(spark, dir).endsWith("/_gen_3"))
      assert(spark.read.parquet(Generations.resolve(spark, dir))
        .count() === 50)
    } finally spark.conf.unset("spark.graft.gen.ttlMs")
  }

  test("walkCurrentFiles lists only current content: newest generation, " +
    "no retired gens, no legacy files, no in-flight shadows") {
    val dir = writeTable(30, 3)
    val (fs, root) = graft.Scratch.fs(spark, dir)
    val legacy = Generations.walkCurrentFiles(fs, root)
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
    assert(legacy.size === 3)
    val shadow = Generations.shadowFor(spark, dir)
    spark.read.parquet(dir).repartition(1).write.parquet(shadow)
    // uncommitted shadow: current content is still generation 0
    assert(Generations.walkCurrentFiles(fs, root)
      .count(_.getPath.getName.endsWith(".parquet")) === 3)
    Generations.commit(spark, dir, shadow)
    val cur = Generations.walkCurrentFiles(fs, root)
      .filter(_.getPath.getName.endsWith(".parquet"))
    assert(cur.size === 1)
    assert(cur.forall(_.getPath.toString.contains("/_gen_1/")))
  }

  test("a scan that planned its splits BEFORE a compaction completes " +
    "correctly across the swap (reader snapshot isolation)") {
    val dir = writeTable(1000, 8)
    val expected = spark.read.parquet(dir)
      .agg(sum(col("id")), count(lit(1))).head()
    GenScanGate.reset()
    val scan = spark.read.parquet(Generations.resolve(spark, dir))
      .select(col("id")).as[Long]
      .mapPartitions { it => GenScanGate.hold(); it }
    val fut = scala.concurrent.Future {
      scan.reduce(_ + _)
    }(scala.concurrent.ExecutionContext.global)
    assert(GenScanGate.started.await(60, TimeUnit.SECONDS),
      "scan never started")
    // the rewrite lands mid-scan; default TTL retains the scanned files
    val (before, after) = Maintenance.compact(spark, dir, 1000)
    assert(GenScanGate.stillShut(fut),
      "the compaction ran only after the gate released the scan")
    assert(before === 8 && after === 1)
    assert(Generations.resolve(spark, dir).endsWith("/_gen_1"))
    GenScanGate.proceed.countDown()
    val got = scala.concurrent.Await.result(fut,
      scala.concurrent.duration.Duration(120, "s"))
    assert(got === expected.getLong(0),
      "mid-compaction scan must complete with the snapshot it planned")
    // and the post-swap world serves the compacted generation
    assert(spark.read.parquet(Generations.resolve(spark, dir))
      .count() === expected.getLong(1))
  }

  test("Maintenance.gcGenerations reaps a forgotten corpus's retired " +
    "state past the TTL without touching the live generation") {
    val corpus = Files.createTempDirectory("graft_gen_gcall").toString
    val docsTable = s"$corpus/documents.parquet"
    spark.range(100)
      .select(col("id").as("doc_id"),
        concat(lit("doc "), col("id")).as("text"))
      .repartition(2).write.parquet(docsTable)
    graft.operators.Retention.forget(spark, corpus,
      docIds = Some(spark.range(10).select(col("id").as("doc_id"))))
    // pre-TTL: generation 0 retained, nothing reaped
    assert(Maintenance.gcGenerations(spark, corpus) === 0)
    assert(rootNames(docsTable).exists(_.endsWith(".parquet")))
    spark.conf.set("spark.graft.gen.ttlMs", "0")
    try {
      assert(Maintenance.gcGenerations(spark, corpus) > 0)
      val names = rootNames(docsTable)
      assert(!names.exists(_.endsWith(".parquet")),
        "expired generation-0 files must be reaped")
      assert(names.count(_.startsWith("_gen_")) === 1)
      assert(Tables.load(spark, corpus, "documents").count() === 90)
    } finally spark.conf.unset("spark.graft.gen.ttlMs")
  }

  test("the reference-surface sink composes with a generational table: " +
    "append lands in the live generation, upsert merges against it " +
    "and commits the next one") {
    import graft.checks.Validations.Method
    val base = Files.createTempDirectory("graft_gen_sink").toString
    val cfg0 = ParquetSink.Config(base, "t", "s", Method.Create,
      idField = Seq("id"))
    val path = ParquetSink.tablePath(cfg0)
    ParquetSink.write(spark.range(100).select(col("id"),
      (col("id") % 7).as("v")), cfg0)
    // migrate to the generation layout via maintenance compaction
    Maintenance.compact(spark, path, 1000)
    assert(Generations.hasGens(spark, path))
    // append: rows must land in (and read back from) the live gen
    ParquetSink.write(spark.range(100, 150).select(col("id"),
      lit(0L).as("v")), cfg0.copy(method = Method.Append))
    val cur = Generations.resolve(spark, path)
    assert(spark.read.parquet(cur).count() === 150)
    // upsert: merges against the LIVE generation (the appended rows
    // must be in the old side) and commits generation 2
    ParquetSink.write(spark.range(140, 160).select(col("id"),
      lit(9L).as("v")), cfg0.copy(method = Method.Upsert))
    val cur2 = Generations.resolve(spark, path)
    assert(cur2 != cur && cur2.contains("_gen_"))
    val out = spark.read.parquet(cur2)
    assert(out.count() === 160)
    assert(out.filter(col("id") === 145 && col("v") === 9L).count() === 1)
    assert(out.filter(col("id") === 120 && col("v") === 0L).count() === 1,
      "upsert merged against a stale generation (lost an appended row)")
  }

  test("a single-FILE live table converts to the directory layout on " +
    "its first retained-generation commit; later rewrites are " +
    "generational") {
    val parent = Files.createTempDirectory("graft_gen_file").toString
    val table = s"$parent/t.parquet"
    // one parquet OBJECT at the path (the blob layout)
    val tmp = s"$parent/stage"
    spark.range(80).select(col("id")).coalesce(1).write.parquet(tmp)
    val (fs, _) = graft.Scratch.fs(spark, tmp)
    val part = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(table))
    assert(!fs.getFileStatus(new org.apache.hadoop.fs.Path(table))
      .isDirectory)
    // first rewrite: legacy swap converts file -> dir
    val sh1 = Generations.shadowFor(spark, table)
    spark.read.parquet(table).filter(col("id") < 60)
      .repartition(1).write.parquet(sh1)
    Generations.commit(spark, table, sh1)
    assert(fs.getFileStatus(new org.apache.hadoop.fs.Path(table))
      .isDirectory)
    assert(Generations.resolve(spark, table) === table)
    assert(spark.read.parquet(table).count() === 60)
    // second rewrite: generational from here on
    val sh2 = Generations.shadowFor(spark, table)
    spark.read.parquet(Generations.resolve(spark, table))
      .filter(col("id") < 40).repartition(1).write.parquet(sh2)
    Generations.commit(spark, table, sh2)
    assert(Generations.resolve(spark, table).endsWith("/_gen_1"))
    assert(spark.read.parquet(Generations.resolve(spark, table))
      .count() === 40)
  }

  test("a documents scan survives a mid-scan retention forget; new " +
    "reads see the survivors") {
    val corpus = Files.createTempDirectory("graft_gen_forget").toString
    val docsTable = s"$corpus/documents.parquet"
    spark.range(200)
      .select(col("id").as("doc_id"),
        concat(lit("doc "), col("id")).as("text"))
      .repartition(4).write.parquet(docsTable)
    GenScanGate.reset()
    val scan = spark.read
      .parquet(Generations.resolve(spark, docsTable))
      .select(col("doc_id")).as[Long]
      .mapPartitions { it => GenScanGate.hold(); it }
    val fut = scala.concurrent.Future {
      scan.collect().sorted
    }(scala.concurrent.ExecutionContext.global)
    assert(GenScanGate.started.await(60, TimeUnit.SECONDS))
    val st = graft.operators.Retention.forget(spark, corpus,
      docIds = Some(spark.range(50).select(col("id").as("doc_id"))))
    assert(GenScanGate.stillShut(fut),
      "the forget ran only after the gate released the scan")
    assert(st.docsRemovedFromCorpus === 50)
    GenScanGate.proceed.countDown()
    val got = scala.concurrent.Await.result(fut,
      scala.concurrent.duration.Duration(120, "s"))
    // the in-flight scan keeps its pre-forget snapshot — complete,
    // consistent, and correct for the instant it planned
    assert(got.toSeq === (0L until 200L))
    // new readers resolve to the survivor generation
    assert(spark.read.parquet(Generations.resolve(spark, docsTable))
      .agg(min(col("doc_id"))).head().getLong(0) === 50L)
    assert(graft.sources.Tables.load(spark, corpus, "documents")
      .count() === 150)
  }
}
