package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamOps.UserEvent

/** Streaming ops driven through MemoryStream; the windowed aggregation is
  * cross-checked against the equivalent batch computation (same
  * expressions as Relational.q13HourlyEvents). */
class StreamOpsSpec extends SparkSpec {

  import spark.implicits._

  private def ev(id: Long, minute: Int, user: Long, typ: String,
      value: Double): UserEvent =
    UserEvent(id, new Timestamp(minute * 60000L), user, typ, value)

  test("hourly windowed stats match the batch twin") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[UserEvent]
    val q = StreamOps.hourlyEventStats(ms.toDF())
      .writeStream.format("memory").queryName("hourly_t")
      .outputMode("complete").start()
    try {
      val events = Seq(
        ev(1, 10, 1, "click", 1.0), ev(2, 20, 1, "click", 2.0),
        ev(3, 70, 2, "view", 3.0), ev(4, 80, 2, "click", 4.0),
        ev(5, 130, 3, "view", 5.0))
      ms.addData(events)
      q.processAllAvailable()
      val got = spark.table("hourly_t")
        .select("hour_start", "event_type", "n_events", "sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      val want = events.toDF()
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(got === want)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes same-id events") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[UserEvent]
    val q = StreamOps.dedupEvents(ms.toDF())
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").start()
    try {
      ms.addData(Seq(ev(1, 10, 1, "a", 1.0), ev(2, 11, 1, "b", 1.0)))
      q.processAllAvailable()
      // same event_id arrives again (retry/replay) → dropped
      ms.addData(Seq(ev(1, 12, 1, "a", 1.0), ev(3, 13, 2, "c", 1.0)))
      q.processAllAvailable()
      val ids = spark.table("dedup_t").select("event_id")
        .as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped from append output") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[UserEvent]
    val q = StreamOps.hourlyEventStats(ms.toDF())
      .writeStream.format("memory").queryName("late_t")
      .outputMode("append").start()
    try {
      // hour 0 events, then an event far enough ahead (hour 5) to move
      // the watermark (2h delay) past hour 0's window end
      ms.addData(Seq(ev(1, 10, 1, "a", 1.0), ev(2, 20, 1, "a", 2.0)))
      q.processAllAvailable()
      ms.addData(Seq(ev(3, 300, 1, "a", 3.0)))
      q.processAllAvailable()
      ms.addData(Seq(ev(9, 330, 9, "z", 0.0))) // trigger another batch
      q.processAllAvailable()
      // hour-0 window finalized with exactly the on-time events
      val hour0 = spark.table("late_t")
        .filter(col("hour_start") === new Timestamp(0L))
        .select("n_events").as[Long].collect()
      assert(hour0.toSeq === Seq(2L))
      // a straggler for hour 0 now arrives — watermark already passed:
      // it must NOT re-emit or update the closed window
      ms.addData(Seq(ev(4, 15, 1, "a", 99.0)))
      q.processAllAvailable()
      val hour0After = spark.table("late_t")
        .filter(col("hour_start") === new Timestamp(0L))
        .select("n_events").as[Long].collect()
      assert(hour0After.toSeq === Seq(2L))
    } finally q.stop()
  }

  test("session windows close after the 30-minute gap") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[UserEvent]
    val q = StreamOps.userSessions(ms.toDF())
      .writeStream.format("memory").queryName("sess_t")
      .outputMode("append").start()
    try {
      // user 1: events at t=0,10 (one session), then t=120 (a second)
      ms.addData(Seq(ev(1, 0, 1, "a", 1.0), ev(2, 10, 1, "a", 2.0),
        ev(3, 120, 1, "a", 4.0)))
      q.processAllAvailable()
      // watermark pusher: a much later event finalizes everything above
      ms.addData(Seq(ev(9, 600, 9, "z", 0.0)))
      q.processAllAvailable()
      val got = spark.table("sess_t")
        .filter(col("user_id") === 1)
        .select("n_events", "sum_value")
        .as[(Long, Double)].collect().sortBy(_._1)
      assert(got.toSeq === Seq((1L, 4.0), (2L, 3.0)))
    } finally q.stop()
  }

  test("file-source stream: hourly stats over real event parquet match batch") {
    // exercise the real readStream wiring (schema-locked parquet source),
    // not just MemoryStream
    val batchDf = graft.sources.Tables.events(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    batchDf.write.mode("overwrite").parquet(dir)
    val streamDf = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val q = StreamOps.hourlyEventStats(streamDf)
      .writeStream.format("memory").queryName("hourly_file")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("hourly_file")
        .select("hour_start", "event_type", "n_events", "sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      val want = batchDf
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(got === want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join pairs views with recent clicks only") {
    implicit val ctx = spark.sqlContext
    val views = MemoryStream[UserEvent]
    val clicks = MemoryStream[UserEvent]
    val q = StreamOps.viewsWithRecentClicks(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("ssj_t")
      .outputMode("append").start()
    try {
      clicks.addData(Seq(ev(100, 5, 1, "click", 1.0),
        ev(101, 18, 1, "click", 1.0), ev(102, 6, 2, "click", 1.0)))
      views.addData(Seq(
        ev(200, 8, 1, "view", 1.0),   // 3 min after click 100 → match
        ev(201, 20, 1, "view", 1.0),  // 2 min after click 101 (15 after 100)
        ev(202, 30, 2, "view", 1.0))) // 24 min after click 102 → no match
      q.processAllAvailable()
      val got = spark.table("ssj_t")
        .select("view_id", "click_id").as[(Long, Long)].collect().toSet
      assert(got === Set((200L, 100L), (201L, 101L)))
    } finally q.stop()
  }

  test("streamingUpsert materializes a current table across micro-batches") {
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_supsert").toString
    val ms = MemoryStream[UserEvent]
    val q = StreamOps.streamingUpsert(ms.toDF(), base, "state", "s",
      Seq("event_id")).start()
    try {
      ms.addData(Seq(ev(1, 1, 1, "a", 1.0), ev(2, 2, 1, "a", 2.0)))
      q.processAllAvailable()
      // batch 2 replaces event 2 and inserts event 3
      ms.addData(Seq(ev(2, 3, 1, "b", 20.0), ev(3, 4, 2, "c", 3.0)))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$base/s/state.parquet")
        .select("event_id", "event_type", "value")
        .as[(Long, String, Double)].collect().sortBy(_._1)
      assert(got.toSeq === Seq((1L, "a", 1.0), (2L, "b", 20.0), (3L, "c", 3.0)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState keeps running per-user totals") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[UserEvent]
    val q = StreamOps.runningUserTotals(ms.toDS(), burstThreshold = 2)
      .writeStream.format("memory").queryName("run_t")
      .outputMode("append").start()
    try {
      ms.addData(Seq(ev(1, 1, 1, "a", 1.0), ev(2, 2, 1, "a", 2.0)))
      q.processAllAvailable()
      ms.addData(Seq(ev(3, 3, 1, "a", 3.0), ev(4, 4, 2, "b", 4.0)))
      q.processAllAvailable()
      val got = spark.table("run_t")
        .select("user_id", "n_events", "total_value", "burst")
        .as[(Long, Long, Double, Boolean)].collect().toSet
      assert(got === Set(
        (1L, 2L, 3.0, false),  // first batch: 2 events (== threshold, no burst)
        (1L, 3L, 6.0, false),  // running total carries state
        (2L, 1L, 4.0, false)))
    } finally q.stop()
  }

  test("transformWithState twin matches flatMapGroupsWithState behavior") {
    implicit val ctx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[UserEvent]
    val q = StreamOps.runningUserTotalsTws(ms.toDS(), burstThreshold = 2)
      .writeStream.format("memory").queryName("run_tws")
      .outputMode("append").start()
    try {
      ms.addData(Seq(ev(1, 1, 1, "a", 1.0), ev(2, 2, 1, "a", 2.0)))
      q.processAllAvailable()
      ms.addData(Seq(ev(3, 3, 1, "a", 3.0), ev(4, 4, 2, "b", 4.0)))
      q.processAllAvailable()
      val got = spark.table("run_tws")
        .select("user_id", "n_events", "total_value", "burst")
        .as[(Long, Long, Double, Boolean)].collect().toSet
      // identical rows to the flatMapGroupsWithState form
      assert(got === Set(
        (1L, 2L, 3.0, false),
        (1L, 3L, 6.0, false),
        (2L, 1L, 4.0, false)))
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming upsert into the SQL sink: create on first batch, " +
    "MERGE thereafter") {
    implicit val ctx = spark.sqlContext
    val url = "jdbc:derby:memory:graftstreamdb;create=true"
    val cfg = graft.sql.SqlSink.Config(url, "t_stream_up", "app_s",
      graft.checks.Validations.Method.Upsert, Seq("id"),
      dialect = graft.sql.DerbyDialect, numPartitions = Some(2))
    val ms = MemoryStream[(Int, String, Double)]
    val q = StreamOps.streamingUpsertSql(
        ms.toDF().toDF("id", "name", "score"), cfg)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_upsql_ckpt").toString)
      .start()
    try {
      // batch 1: table absent → created with these 3 rows
      ms.addData(Seq((1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)))
      q.processAllAvailable()
      // batch 2: row 2 updated, row 4 inserted, rows 1/3 untouched
      ms.addData(Seq((2, "b2", 22.0), (4, "d", 4.0)))
      q.processAllAvailable()
      val got = spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", """"app_s"."t_stream_up"""")
        .load()
        .as[(Int, String, java.math.BigDecimal)].collect()
        .map(r => (r._1, r._2, r._3.doubleValue)).sortBy(_._1).toSeq
      assert(got === Seq(
        (1, "a", 1.0), (2, "b2", 22.0), (3, "c", 3.0), (4, "d", 4.0)))
    } finally q.stop()
  }

  test("streamingUpsertSql bootstrap batch enforces key uniqueness " +
    "(Create has no key check of its own)") {
    // a duplicate key persisted by the bootstrap would survive every
    // later MERGE silently (each source row just updates both target
    // copies) — the sink must make the FIRST batch as loud as
    // requireUniqueKeys makes the rest
    implicit val ctx = spark.sqlContext
    val url = "jdbc:derby:memory:graftstreamdb3;create=true"
    val cfg = graft.sql.SqlSink.Config(url, "t_dup_boot", "app_s",
      graft.checks.Validations.Method.Upsert, Seq("id"),
      dialect = graft.sql.DerbyDialect)
    val ms = MemoryStream[(Int, String)]
    val q = StreamOps.streamingUpsertSql(ms.toDF().toDF("id", "name"), cfg)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_dupboot_ckpt").toString)
      .start()
    try {
      ms.addData(Seq((1, "a"), (1, "b")))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(_.getMessage != null) &&
        chain(e).exists(t => t.getMessage != null &&
          t.getMessage.contains("duplicate rows")))
      // and the table was never created — the violation stopped the
      // bootstrap before any DDL
      assert(!graft.sql.JdbcOps.tableExists(url, "app_s", "t_dup_boot"))
    } finally q.stop()
  }

  test("streamingUpsertSql rejects a non-Upsert method loudly") {
    // the sink derives the per-batch method itself; a Config built for
    // Append must fail at entry, not be silently converted to upserts
    implicit val ctx = spark.sqlContext
    val cfg = graft.sql.SqlSink.Config(
      "jdbc:derby:memory:graftstreamdb2;create=true", "t_m", "app_s",
      graft.checks.Validations.Method.Append, Seq("id"),
      dialect = graft.sql.DerbyDialect)
    val ms = MemoryStream[(Int, String)]
    val e = intercept[IllegalArgumentException] {
      StreamOps.streamingUpsertSql(ms.toDF().toDF("id", "name"), cfg)
    }
    assert(e.getMessage.contains("requires method=Upsert"))
  }

  test("streaming incremental ingest: later batches dedupe against " +
    "earlier admissions") {
    implicit val ctx = spark.sqlContext
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft_inc_corpus").toString + "/corpus"
    val textA = "the quick brown fox jumps over the lazy dog"
    val textC = "colorless green ideas sleep furiously every single night"
    val ms = MemoryStream[(Long, String, String)]
    val q = StreamOps.incrementalIngestStream(
        ms.toDF().toDF("doc_id", "text", "lang"), corpusDir)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_inc_ckpt").toString)
      .start()
    try {
      // batch 1 bootstraps the corpus: all three admitted (2 is a
      // WITHIN-batch near-dup of 1 — by contract not screened)
      ms.addData(Seq(
        (1L, textA, "en"), (2L, textA + " today", "en"), (3L, textC, "en")))
      q.processAllAvailable()
      // batch 2 vs corpus: 4 = exact dup of 1 (fp anti-join),
      // 5 = near-dup of 3 (LSH screen), 6 = genuinely new
      ms.addData(Seq(
        (4L, textA, "en"),
        (5L, textC + " indeed", "en"),
        (6L, "entirely different words about seven distinct topics now", "en")))
      q.processAllAvailable()
      val ids = spark.read.parquet(corpusDir)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids === Seq(1L, 2L, 3L, 6L))
      // the persisted indexes must be in lockstep with the corpus —
      // every admitted doc's shingles present exactly once, bands =
      // 16 rows per indexed doc (the property index-driven cleaning
      // rests on)
      val shIdx = spark.read.parquet(corpusDir + "__sh")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(shIdx === ids)
      val bandCounts = spark.read.parquet(corpusDir + "__bands")
        .groupBy("doc_id").count()
        .as[(Long, Long)].collect().toMap
      assert(bandCounts.keySet === ids.toSet)
      assert(bandCounts.values.forall(_ === 16L))
    } finally q.stop()
  }

  test("streaming incremental ingest maintains the lexical index: " +
    "admitted docs are retrievable in the same micro-batch, the " +
    "appended index validates without rebuild, and serving is " +
    "bit-identical to a fresh rebuild") {
    implicit val ctx = spark.sqlContext
    import graft.operators.LexIndex
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft_lex_ingest").toString + "/corpus"
    def deleteDir(path: String): Unit = {
      val (fs, p) = graft.Scratch.fs(spark, path)
      if (fs.exists(p)) fs.delete(p, true)
    }
    deleteDir(LexIndex.dirFor(spark, corpusDir))
    val ms = MemoryStream[(Long, String, String)]
    val q = StreamOps.incrementalIngestStream(
        ms.toDF().toDF("doc_id", "text", "lang"), corpusDir)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_lex_ckpt").toString)
      .start()
    try {
      ms.addData(Seq(
        (1L, "alpha beta gamma delta words one", "en"),
        (2L, "completely different seven tokens epsilon zeta eta", "en")))
      q.processAllAvailable()
      // batch 1 bootstrapped the lexical index over the admitted corpus
      val info1 = LexIndex.ensure(spark, corpusDir)
      assert(!info1.builtNow && info1.n == 2,
        "bootstrap build missing or stale after batch 1")
      ms.addData(Seq(
        (3L, "unique marker xylophone quartz banjo flute", "en")))
      q.processAllAvailable()
      // the APPENDED index must validate against the grown corpus
      // without a rebuild, and the just-admitted doc must serve
      val info2 = LexIndex.ensure(spark, corpusDir)
      assert(!info2.builtNow,
        "lexical append left the index stale — ensure rebuilt")
      assert(info2.n == 3)
      val qterms = Seq((9L, "xylophone")).toDF("query_id", "token")
      def served(info: LexIndex.BuildInfo): Set[Seq[Any]] =
        LexIndex.queryScores(spark, info, qterms, excludeSelf = false)
          .collect().map(_.toSeq).toSet
      val got = served(info2)
      assert(got.exists(_.contains(3L)),
        "the batch-3 doc is not retrievable through the appended index")
      // bit-identity: the appended index serves the same bytes as a
      // fresh rebuild over the same corpus (additive partials)
      deleteDir(LexIndex.dirFor(spark, corpusDir))
      val info3 = LexIndex.ensure(spark, corpusDir)
      assert(info3.builtNow)
      assert(served(info3) == got,
        "appended serving diverged from the fresh rebuild")
    } finally q.stop()
  }

  test("vector ingest stream: batches append to corpus and index, " +
    "replay is a no-op, q69 serves the grown corpus without a rebuild") {
    implicit val ctx = spark.sqlContext
    import graft.operators.IndexStore
    val all = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    def slice(lo: Long, hi: Long): Seq[(Long, Array[Float])] =
      all.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .as[(Long, Array[Float])].collect().toSeq
    val boot = slice(0, 300)
    val b1 = slice(300, 400)
    val b2 = slice(400, 500)
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft_vec_ingest").toString + "/corpus"
    val idxDir = IndexStore.dirFor(spark, corpusDir)
    val ms = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.vectorIngestStream(
        ms.toDF().toDF("vec_id", "embedding"), corpusDir)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_vec_ingest_ckpt").toString)
      .start()
    try {
      // batch 1 bootstraps: corpus written, index built on it
      ms.addData(boot)
      q.processAllAvailable()
      val table = s"$corpusDir/embeddings.parquet"
      assert(spark.read.parquet(table).count() === boot.size.toLong)
      assert(graft.sources.StoreKernel.hasMeta(spark, idxDir))
      // growth batch, then the SAME batch replayed, then another batch
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b1); q.processAllAvailable() // replay → no-op
      ms.addData(b2); q.processAllAvailable()
      val expected = (boot.size + b1.size + b2.size).toLong
      assert(spark.read.parquet(table).count() === expected)
      // the index followed incrementally: every corpus vector is in
      // both codes tables, and ensure validates with NO rebuild (the
      // xor fingerprint was maintained append by append)
      // base ∪ delta: appends buffer in the delta until a fold
      assert(IndexStore.withDeltaOf(spark, idxDir, "codes")(identity)
        .select("vec_id").distinct().count() === expected)
      assert(IndexStore.withDeltaOf(spark, idxDir, "rcodes")(identity)
        .select("vec_id").distinct().count() === expected)
      assert(!IndexStore.ensure(spark, corpusDir).builtNow)
      // q69 serves the grown corpus
      val res = IndexStore.q69KnnIvfPqIdx(spark, corpusDir)
      assert(res.count() ===
        (graft.operators.Similarity.knnQueries *
          graft.operators.Similarity.k).toLong)
    } finally {
      q.stop()
      val (fs, p) = graft.Scratch.fs(spark, idxDir)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  test("vector ingest stream self-heals an index that refuses the " +
    "append instead of crash-looping") {
    implicit val ctx = spark.sqlContext
    import graft.operators.IndexStore
    val all = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    def slice(lo: Long, hi: Long): Seq[(Long, Array[Float])] =
      all.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .as[(Long, Array[Float])].collect().toSeq
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft_vec_heal").toString + "/corpus"
    val idxDir = IndexStore.dirFor(spark, corpusDir)
    val ms = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.vectorIngestStream(
        ms.toDF().toDF("vec_id", "embedding"), corpusDir)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_vec_heal_ckpt").toString)
      .start()
    try {
      ms.addData(slice(0, 300))
      q.processAllAvailable()
      // doctor the index into a torn state NO batch can repair: ghost
      // codes rows whose ids are outside every future batch. A bare
      // appendBatch refuses this forever ("run ensure()"); checkpoint
      // replay would re-deliver the same batch into the same state —
      // the crash loop the sink's rebuild-once fallback exists for
      val ghost = spark.read.parquet(s"$idxDir/codes").limit(8)
        .withColumn("vec_id", col("vec_id") + 900000L)
      ghost.write.mode("append").partitionBy("cell")
        .parquet(s"$idxDir/codes")
      val b1 = slice(300, 400)
      ms.addData(b1)
      q.processAllAvailable() // throws if the sink crash-looped
      val table = s"$corpusDir/embeddings.parquet"
      assert(spark.read.parquet(table).count() === 400L)
      // the rebuild purged the ghosts and the retry appended the batch
      assert(IndexStore.withDeltaOf(spark, idxDir, "codes")(identity)
        .select("vec_id").distinct().count() === 400L)
      assert(!IndexStore.ensure(spark, corpusDir).builtNow)
    } finally {
      q.stop()
      val (fs, p) = graft.Scratch.fs(spark, idxDir)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  test("ingest crash-replay: two mutually-near-dup docs in one crashed " +
    "batch are both re-admitted") {
    // the sink writes indexes BEFORE the corpus; a crash between them
    // leaves the batch's docs in the indexes with no corpus rows. The
    // nasty case is a batch carrying TWO near-dups of each other
    // (admitted by contract — within-batch near-dups are not
    // screened): each doc's replay must not be suppressed by the
    // OTHER doc's orphaned index rows, which the id-inequality guard
    // alone does not prevent — only the committed-doc_ids visibility
    // filter does
    implicit val ctx = spark.sqlContext
    import graft.operators.Dedup
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft_inc_crash").toString + "/corpus"
    val textA = "the quick brown fox jumps over the lazy dog"
    val ms = MemoryStream[(Long, String, String)]
    val q = StreamOps.incrementalIngestStream(
        ms.toDF().toDF("doc_id", "text", "lang"), corpusDir)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_inc_crash_ckpt").toString)
      .start()
    try {
      // batch 1 bootstraps the corpus with an unrelated doc
      ms.addData(Seq(
        (1L, "colorless green ideas sleep furiously every single night",
          "en")))
      q.processAllAvailable()
      // simulate batch 2 crashing mid-commit: docs 10/11 (mutual
      // near-dups, not exact dups) got their index appends but the
      // corpus append never ran
      val crashed = Seq(
        (10L, textA, "en"), (11L, textA + " today", "en"))
        .toDF("doc_id", "text", "lang")
      // the simulated crash writes in the sink's OWN append layout
      // (pfx-partitioned shingles) — what a real torn batch leaves
      val orphanSh = Dedup.shingleIndex(crashed)
      Dedup.withShPfx(orphanSh).write.mode("append").partitionBy("pfx")
        .parquet(corpusDir + "__sh")
      Dedup.minhashBands(orphanSh).write.mode("append")
        .parquet(corpusDir + "__bands")
      // the engine replays batch 2: both docs must be admitted — the
      // orphaned index rows are uncommitted and therefore invisible
      ms.addData(Seq((10L, textA, "en"), (11L, textA + " today", "en")))
      q.processAllAvailable()
      val ids = spark.read.parquet(corpusDir)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids === Seq(1L, 10L, 11L))
      // the screen still works: a genuine near-dup of the
      // now-committed docs is rejected
      ms.addData(Seq((12L, textA + " yesterday", "en")))
      q.processAllAvailable()
      val after = spark.read.parquet(corpusDir)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(after === Seq(1L, 10L, 11L))
    } finally q.stop()
  }

  test("screened vector ingest: corpus near-dups are rejected through " +
    "the index, within-batch dups keep the lowest id, replay is a " +
    "no-op, and index/lists/corpus stay in lockstep") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{IndexStore, IngestScreen}
    val all = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    def slice(lo: Long, hi: Long): Seq[(Long, Array[Float])] =
      all.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .as[(Long, Array[Float])].collect().toSeq
    // a near-dup twin: same direction, tiny perturbation — cosine ≈ 1,
    // far above the 0.42 threshold
    def twin(of: (Long, Array[Float]), id: Long): (Long, Array[Float]) =
      (id, of._2.map(x => x * 1.001f + 0.0001f))
    val boot = slice(0, 200)
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft_vec_screen").toString + "/corpus"
    val idxDir = IndexStore.dirFor(spark, corpusDir)
    val listsDir = IngestScreen.listsDir(spark, corpusDir)
    val ms = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.screenedVectorIngestStream(
        ms.toDF().toDF("vec_id", "embedding"), corpusDir)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_vec_screen_ckpt").toString)
      .start()
    try {
      // bootstrap carries a within-batch dup pair (900001 twins
      // 900000): the lower id is admitted, the higher dropped
      val fresh0 = slice(200, 210)
        .map { case (id, v) => (id + 899800L, v) } // 900000..900009
      ms.addData(boot ++ fresh0 :+ twin(fresh0.head, 900900L))
      q.processAllAvailable()
      val table = s"$corpusDir/embeddings.parquet"
      def ids(): Set[Long] = spark.read.parquet(table)
        .select("vec_id").as[Long].collect().toSet
      val afterBoot = ids()
      assert(!afterBoot.contains(900900L),
        "within-batch near-dup (higher id) must be dropped at bootstrap")
      assert(afterBoot.contains(900000L))
      // growth batch: one corpus near-dup (twin of an admitted boot
      // vector — must be REJECTED through the index screen), one
      // genuinely new vector, plus a replay of the whole batch
      val newcomer = slice(210, 211).map { case (id, v) => (id + 899800L, v) }
      val b1 = Seq(twin(boot.head, 910000L)) ++ newcomer
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b1); q.processAllAvailable() // replay → no-op
      val afterB1 = ids()
      assert(!afterB1.contains(910000L),
        "a near-dup of a standing corpus vector must be rejected")
      assert(afterB1.contains(newcomer.head._1))
      assert(afterB1.size === afterBoot.size + 1)
      // lockstep: index and lists validate with no rebuild, and the
      // lists hold exactly the corpus's indexable ids
      val info = IndexStore.ensure(spark, corpusDir)
      assert(!info.builtNow)
      assert(IngestScreen.ensureLists(spark, corpusDir, info) == 0.0,
        "append-maintained lists must validate after the stream")
      val listed = spark.read.parquet(s"$listsDir/lists")
        .select("vec_id").as[Long].collect().toSet
      // indexable = finite positive norm (the fixture carries a few
      // deliberately poisoned vectors, which index/lists exclude by rule)
      val indexable = spark.read.parquet(table)
        .select("vec_id", "embedding").as[(Long, Array[Float])]
        .collect()
        .filter { case (_, v) =>
          val n = math.sqrt(v.map(x => x.toDouble * x).sum)
          n > 0 && !n.isNaN && !n.isInfinity
        }.map(_._1).toSet
      assert(listed === indexable,
        "lists must hold exactly the admitted indexable corpus vectors")
    } finally {
      q.stop()
      Seq(idxDir, listsDir).foreach { d =>
        val (fs, p) = graft.Scratch.fs(spark, d)
        if (fs.exists(p)) fs.delete(p, true)
      }
    }
  }

  test("batch dedup is a deterministic keeper: the same id with two " +
    "different embeddings resolves identically regardless of arrival " +
    "order — the property the vouched append's replay ledger requires") {
    import spark.implicits._
    val embA = Array.fill(8)(0.25f)
    val embB = Array.fill(8)(-0.75f)
    def run(rows: Seq[(Long, Array[Float])]): Map[Long, Seq[Float]] =
      StreamOps.dedupBatchDeterministic(
          rows.toDF("vec_id", "embedding"))
        .as[(Long, Array[Float])].collect()
        .map { case (id, e) => (id, e.toSeq) }.toMap
    val fwd = run(Seq((1L, embA), (1L, embB), (2L, embA)))
    val rev = run(Seq((2L, embA), (1L, embB), (1L, embA)))
    assert(fwd === rev, "keeper must not depend on row order")
    assert(fwd.keySet === Set(1L, 2L))
    // a dropDuplicates here could legally return embA on one replay
    // and embB on the next; the content-hash keeper cannot
  }
}
