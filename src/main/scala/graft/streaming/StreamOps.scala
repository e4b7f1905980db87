package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}

import graft.sources.StoreKernel

/** Structured Streaming operators over the `events` stream shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming surface (SURVEY.md §2.2); these are
  * the extension operators a live training-data feed needs. Each
  * transform takes/returns a streaming DataFrame so the same code runs
  * on `readStream` sources in production and on MemoryStream in tests;
  * the batch twins in graft.operators.Relational (q13) compute the same
  * answers over bounded data — the test suite cross-checks them.
  *
  * Scale notes: every stateful op below carries a watermark so state is
  * bounded and evicted (no unbounded key growth at 100 TB/day);
  * aggregations are keyed on (window, event_type) or user_id, which
  * shuffle-partitions cleanly across 1000 executors.
  */
object StreamOps {

  /** Tumbling one-hour windowed counts/sums per event type, 2h watermark
    * for late data — the streaming twin of Relational.q13HourlyEvents. */
  def hourlyEventStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** q56: [[hourlyEventStats]] run as a GENUINE Structured Streaming
    * query — file source over the events parquet, AvailableNow trigger,
    * COMPLETE-mode aggregation delivered through foreachBatch into a
    * temp parquet that is read back and returned. This puts the
    * streaming engine under the driver's DuckDB oracle gate: the
    * result must hash-match the same hourly aggregate computed by a
    * batch SQL engine.
    *
    * Why complete mode: with append mode + watermark, windows newer
    * than (max ts - watermark) are still open when a bounded input
    * ends and never emit — the streaming result would be a strict
    * subset of the batch answer. Complete mode emits the full result
    * table each trigger, so the LAST batch (overwrite) is exactly the
    * batch-equivalent aggregate. State is unbounded in complete mode,
    * which is correct here only because the run is bounded; an
    * unbounded production feed uses the append-mode path. */
  def q56StreamHourly(spark: SparkSession, sfDir: String): DataFrame = {
    // STABLE output (same sfDir → same dir, overwritten each run —
    // bounded at one copy; the returned DataFrame reads it lazily so
    // it must outlive this call) + a fresh checkpoint deleted below
    // once the bounded run terminates. Both resolve under the Scratch
    // seams, so a cluster points them at shared storage.
    val outDir = graft.Scratch.stableDir(spark, "q56_out", sfDir)
    val ckpt = graft.Scratch.tempDir(spark, "graft_q56_ckpt")
    val agg = hourlyEventStats(graft.sources.Tables.eventsStream(spark, sfDir))
    val query = agg.writeStream
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(outDir)
      }
      .start()
    query.awaitTermination()
    // the bounded run is over — its checkpoint state has no future
    // reader and would otherwise accumulate one copy per invocation
    val (cfs, cp) = graft.Scratch.fs(spark, ckpt)
    cfs.delete(cp, true)
    spark.read.parquet(outDir)
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** Exactly-once event stream: drops duplicate event_ids that arrive
    * within the watermark horizon (state auto-evicted past it). */
  def dedupEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Session windows per user: gap-based (30 min inactivity closes the
    * session), built-in session_window keeps state bounded via the
    * watermark. */
  def userSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Stream-stream interval join: each view event pairs with click
    * events of the same user from the preceding 10 minutes. Both sides
    * carry watermarks and the join condition bounds event time on both
    * ends, so the join state store is bounded and evicted as the
    * watermark advances — the requirements for stream-stream joins to
    * run indefinitely. */
  def viewsWithRecentClicks(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "1 hour").alias("v")
    val c = clicks.withWatermark("ts", "1 hour").alias("c")
    v.join(c, expr(
        """v.user_id = c.user_id AND
          |c.ts >= v.ts - INTERVAL 10 MINUTES AND c.ts <= v.ts""".stripMargin))
      .select(col("v.event_id").as("view_id"),
        col("c.event_id").as("click_id"),
        col("v.user_id").as("user_id"))
  }

  /** Streaming keyed upsert into a parquet table: every micro-batch is
    * applied with the engine's O15 semantics (new rows win, old rows
    * survive) via foreachBatch — the streaming form of the reference's
    * upsert path, giving an always-current materialized table from a
    * change stream. Exactly-once per batch comes from the checkpointed
    * batch id + the sink's atomic shadow-swap. */
  def streamingUpsert(
      events: org.apache.spark.sql.DataFrame,
      base: String, table: String, schema: String,
      keys: Seq[String]): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.checks.Validations.Method
    import graft.sources.ParquetSink
    events.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        ParquetSink.write(batch,
          ParquetSink.Config(base, table, schema, Method.Upsert, keys))
        ()
    }
  }

  /** Streaming keyed upsert into the SQL sink — the reference's
    * flagship operation (O14, df_to_azure's upsert-to-SQL) fed by a
    * change stream instead of a batch DataFrame. Each micro-batch runs
    * the full staged-MERGE path (stage table → MERGE → drop staging);
    * the first batch creates the target when it does not exist yet, so
    * a stream can bootstrap an empty database.
    *
    * Delivery: foreachBatch is at-least-once, and Structured Streaming
    * replays a failed batch before starting the next, so the retry
    * re-MERGEs the SAME rows — idempotent, giving effectively-once
    * table state. The caller must reduce the batch to one row per key
    * (e.g. latest-by-timestamp per key) before this sink; the sink's
    * own `requireUniqueKeys` turns a violation into a loud error
    * rather than a nondeterministic MERGE.
    *
    * The existence probe is a metadata lookup, NOT a probe SELECT: the
    * "missing" branch runs DROP+CREATE, and a transient SQLException
    * misread as "missing" would drop the standing target. With the
    * metadata form a transient probe failure propagates, the batch
    * fails, and the engine retries it — never destructive.
    *
    * `cfg.method` must be `Upsert` — this sink IS the upsert path and
    * derives the per-batch method itself (Create on the bootstrap
    * batch, Upsert after). Accepting, say, Append and silently
    * upserting anyway would discard the caller's stated semantics, so
    * any other method is rejected loudly here instead. */
  def streamingUpsertSql(events: DataFrame, cfg: graft.sql.SqlSink.Config)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.checks.Validations.Method
    import graft.sql.{JdbcOps, SqlSink}
    require(cfg.method == Method.Upsert,
      s"streamingUpsertSql requires method=Upsert (the per-batch method " +
        s"is derived: Create bootstraps, Upsert thereafter); got " +
        s"${cfg.method} — use streamingUpsert/SqlSink.write for other " +
        s"methods")
    events.writeStream.foreachBatch {
      (batch: DataFrame, _: Long) =>
        val exists = JdbcOps.tableExists(cfg.url, cfg.schema, cfg.table)
        // the bootstrap batch routes through Create, whose SqlSink path
        // has no key check (create is keyless by contract) — but THIS
        // sink's contract is keyed upsert from batch one, and a
        // duplicate key persisted by the bootstrap would survive every
        // later MERGE silently (each source row just updates both
        // copies). Enforce the promise here so the violation is loud on
        // the first batch too, same as requireUniqueKeys makes it later.
        if (!exists)
          graft.checks.Validations.requireUniqueKeys(batch, cfg.idField)
        SqlSink.write(batch,
          cfg.copy(method = if (exists) Method.Upsert else Method.Create))
        ()
    }
  }

  /** Streaming incremental corpus ingest: every micro-batch of
    * documents is cleaned with [[graft.operators.Dedup
    * .cleanIncrementIndexed]] (intra-batch exact dedup → fingerprint
    * anti-join vs corpus → asymmetric MinHash-LSH near-dup screen) and
    * the ADMITTED rows are appended to the corpus at `corpusDir` — so
    * batch N+1 deduplicates against everything admitted through batch
    * N. The first batch bootstraps an empty corpus directory.
    *
    * The corpus side is INDEX-DRIVEN: alongside the corpus the sink
    * maintains `<corpusDir>__sh` (doc_id, shingle set) and
    * `<corpusDir>__bands` (MinHash band signatures), each appended
    * with the admitted docs' rows per batch. Per-batch COMPUTE is
    * proportional to the batch (the corpus is never re-fingerprinted,
    * re-shingled, or re-hashed); corpus-side cost is the columnar IO
    * of the index scans feeding equality joins — at real scale the
    * indexes live bucketed on their join keys ([[graft.operators
    * .Layout]]) so that IO is co-located too.
    *
    * Delivery: a replayed batch re-cleans against a corpus that
    * already contains its own admissions, so every replayed row drops
    * as an exact duplicate — appends are self-idempotent with the
    * corpus itself as the dedup state. Index writes go FIRST, corpus
    * last (the reverse order would strand admitted docs out of the
    * index forever — near-dups of them would slip into the corpus
    * unscreened from then on), and the screen sees only COMMITTED
    * index rows: both index frames are semi-joined to the corpus's
    * actual doc_ids before cleaning. That filter is what makes a
    * mid-crash replay safe in every case. Without it, a batch
    * carrying two mutually-near-dup docs (admitted by contract —
    * within-batch near-dups are not screened) that crashed between
    * the index appends and the corpus append would, on replay, drop
    * EACH doc as a "near-dup" of the OTHER's orphaned index rows —
    * the id-inequality guard in the candidate join only protects a
    * doc from its OWN orphans — permanently stranding both out of the
    * corpus while their ghost index entries kept suppressing future
    * legitimate admissions. With the filter, orphaned rows are
    * invisible until their doc commits, so the replay re-admits the
    * rows and only re-appends harmless duplicate index entries.
    *
    * Cost of the filter: one extra single-column (doc_id) corpus
    * scan feeding two semi-joins — the same IO class as the
    * fingerprint anti-join the clean already does, and co-located
    * when corpus + indexes are [[graft.operators.Layout]]-bucketed
    * by doc_id. */
  def incrementalIngestStream(docs: DataFrame, corpusDir: String,
      threshold: Double = 0.5)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      import graft.operators.Dedup
      val spark = batch.sparkSession
      val (shDir, bandsDir) = (corpusDir + "__sh", corpusDir + "__bands")
      val (mfs, marker) = graft.Scratch.fs(spark, corpusDir + "/_SUCCESS")
      val empty = !mfs.exists(marker)
      // CONCURRENT-REWRITE NOTE (review r17): the listings/reads below
      // resolve to the newest committed generation at THEIR call time,
      // so a cross-JVM rewrite (retention deleteDocs, sidecar
      // compaction) that commits mid-batch leaves this batch's admit
      // decisions computed against a retired-but-complete snapshot.
      // That is SAFE one-sidedly for every rewrite this engine
      // performs on these dirs: deletions only REMOVE docs (a batch
      // screened against the pre-delete corpus can over-drop — a legal
      // serialization of concurrent ops — never admit a duplicate,
      // since the post-delete doc set is a subset), and compactions
      // are content-preserving (decisions unchanged). The one
      // NON-one-sided decision is the sh LAYOUT probe — re-derived
      // inside the lease below, where it can no longer go stale.
      // pre-batch file listings: they feed (a) marker validation, (b)
      // this batch's own-new-files diff for the marker stamp, (c) the
      // legacy-layout probe. Driver-side listStatus — milliseconds,
      // and the ONLY steady-state per-batch corpus-side cost besides
      // the narrow fp/bands column scans (the committed-visibility
      // semi-joins that used to re-shuffle both indexes every batch
      // now run only on marker-validation failure; see [[IngestCommit]])
      val shBefore = IngestCommit.listing(spark, shDir)
      val bandsBefore = IngestCommit.listing(spark, bandsDir)
      val corpusBefore =
        if (empty) Map.empty[String, Long]
        else IngestCommit.listing(spark, corpusDir)
      // one layout per read: an explicit file-list read that mixes
      // root-level and pfx= files DROPS the root-level files without
      // error (measured) — every marker-driven read below is filtered
      // to a single layout, preferring pfx (the sink's layout once any
      // pfx= file exists; flat files next to pfx dirs are foreign
      // debris and stay out of the marker)
      def oneLayout(files: Map[String, Long]): Map[String, Long] = {
        val (p, f) = files.partition(_._1.startsWith("pfx="))
        if (p.nonEmpty) p else f
      }
      val mk = if (empty) None else IngestCommit.read(spark, corpusDir)
      val mkValid = mk.exists { m =>
        val (shPart, shFlat) = m.sh.keys.partition(_.startsWith("pfx="))
        m.sh.nonEmpty && m.bands.nonEmpty &&
          (shPart.isEmpty || shFlat.isEmpty) &&
          m.sh.forall { case (f, l) => shBefore.get(f).contains(l) } &&
          m.bands.forall { case (f, l) => bandsBefore.get(f).contains(l) } &&
          // corpus identity (subset check — appends add files, a lost
          // stamp leaves benign extras): any recorded corpus file
          // vanished or changed means a FOREIGN rewrite (doc deletions
          // included) — the marker's file-granularity visibility no
          // longer matches the corpus, so fall back to the semi-join,
          // which filters the deleted docs' ghost rows correctly
          m.corpus.nonEmpty &&
          m.corpus.forall { case (f, l) => corpusBefore.get(f).contains(l) }
      }
      // a dir written by a pre-layout sink holds ALL its data files at
      // the root; appending pfx= partition dirs next to them would
      // wedge partition discovery ("conflicting directory structures"),
      // so such a corpus keeps the flat layout until
      // [[graft.sources.Maintenance.compactIngestIndexes]] rebuilds it
      // partitioned. Flat files in an otherwise-pfx dir are foreign
      // debris (the sink's own appends — crashed ones included — are
      // always pfx-partitioned once the dir is), and must NOT flip the
      // append layout: legacy means no pfx= file exists at all
      val legacySh =
        shBefore.nonEmpty && !shBefore.keys.exists(_.startsWith("pfx="))
      // marker base for the end-of-batch stamp when the fast path ran:
      // the valid marker plus the extras it resolved as committed
      var mkResolved: Option[(Map[String, Long], Map[String, Long])] = None
      val admitted = graft.Materialize(
        if (empty)
          Dedup.cleanIncrement(batch, batch.limit(0), threshold)
        else {
          // generation-resolved (identity until a retention forget /
          // compaction migrates the table — see Generations)
          val corpus = spark.read.parquet(
            graft.sources.Generations.resolve(spark, corpusDir))
          val (shFrame, bandsFrame) =
            if (mkValid) {
              val m = mk.get
              val shPfxLayout = m.sh.keys.forall(_.startsWith("pfx="))
              val shSch = IngestCommit.shSchema(shPfxLayout)
              // files on disk beyond the VALID marker are either
              // committed-but-unstamped (a batch that crashed between
              // its corpus append and its marker stamp — its rows ARE
              // in the corpus and MUST screen) or true orphans of a
              // never-replayed crash (must stay invisible); corpus
              // membership tells them apart, at the cost of one small
              // read of just the extra files — zero extras, zero cost,
              // and lingering orphans cost a tiny re-read per batch
              // until compaction clears them
              val shExtras = oneLayout(shBefore).filter {
                case (f, _) => !m.sh.contains(f) &&
                  f.startsWith("pfx=") == shPfxLayout
              }
              val bandExtras = bandsBefore -- m.bands.keySet
              lazy val committed0 = corpus.select("doc_id")
              val shResolved =
                if (shExtras.isEmpty) shExtras
                else shExtras -- IngestCommit.uncommittedOf(
                  spark, shDir, shExtras, shSch, committed0)
              val bandsResolved =
                if (bandExtras.isEmpty) bandExtras
                else bandExtras -- IngestCommit.uncommittedOf(
                  spark, bandsDir, bandExtras, IngestCommit.bandsSchema,
                  committed0)
              // committed rows = rows in committed files (the sink's
              // append discipline — see IngestCommit) — so reading
              // exactly these files IS the visibility filter; explicit
              // schemas skip per-batch footer inference (~0.3 s/batch
              // measured)
              mkResolved = Some((m.sh ++ shResolved, m.bands ++ bandsResolved))
              (IngestCommit.readFiles(spark, shDir,
                 m.sh.keys ++ shResolved.keys, shSch),
               IngestCommit.readFiles(spark, bandsDir,
                 m.bands.keys ++ bandsResolved.keys,
                 IngestCommit.bandsSchema))
            } else {
              val committed = corpus.select("doc_id")
              // empty-listing guards: a corpus of all-sub-3-token docs
              // writes NO shingle files at all (shingleIndex filters
              // them and the sink skips empty writes) — a file-less
              // dir must read as "no index rows", not throw
              val shFull =
                if (shBefore.isEmpty)
                  IngestCommit.readFiles(spark, shDir, Nil,
                    IngestCommit.shSchema(false))
                else StoreKernel.readStore(spark,
                  graft.sources.Generations.resolve(spark, shDir))
              val bandsFull =
                if (bandsBefore.isEmpty)
                  IngestCommit.readFiles(spark, bandsDir, Nil,
                    IngestCommit.bandsSchema)
                else StoreKernel.readStore(spark,
                  graft.sources.Generations.resolve(spark, bandsDir))
              (shFull.join(committed, Seq("doc_id"), "left_semi"),
               bandsFull.join(committed, Seq("doc_id"), "left_semi"))
            }
          Dedup.cleanIncrementIndexed(batch,
            corpus.select("fp"), bandsFrame, shFrame, threshold)
        })
      // an EMPTY admission must not BOOTSTRAP (review r17, the vec
      // sinks' standing rule applied here): a zero-row Overwrite
      // writes a schema-bearing-file-less corpus dir WITH _SUCCESS, so
      // every later batch reads empty=false, fails schema inference on
      // the file-less dir, and the stream wedges until manual cleanup.
      // Post-bootstrap an empty admission still runs the span (the
      // marker stamp below is the heal for a crashed predecessor).
      if (empty && admitted.isEmpty) {
        System.err.println(s"[docingest] empty first batch at " +
          s"$corpusDir — bootstrap deferred to the first batch with " +
          "admitted rows")
      } else {
      val admittedSh = graft.Materialize(Dedup.shingleIndex(admitted))
      val mode = if (empty) org.apache.spark.sql.SaveMode.Overwrite
        else org.apache.spark.sql.SaveMode.Append
      // CORPUS-DIR writer lease around the mutation span (index
      // writes → corpus append → marker derivation — the marker's
      // fallback path runs its committed-listing jobs INSIDE the
      // lease deliberately: the listing must be consistent with the
      // corpus state it vouches for): the same lease a retention
      // deleteDocs holds across its corpus rewrite and
      // compactIngestIndexes holds across its swaps, so a cross-JVM
      // rewrite can never swap away a file this batch just landed.
      // The lexical append below takes its own store lease AFTER
      // this releases — never two at once here. PATIENT variant: a
      // retention rewrite can legitimately outlast one wait window;
      // past its patience the batch fails loudly and the
      // checkpoint-replay-idempotent sink recovers on restart.
      graft.sources.WriterLease.withWritePatient(spark, corpusDir,
          "ingest") {
      // FENCE before the first VISIBLE write of the span (the
      // scaladoc contract WriterLease.verify documents): a writer
      // stalled past TTL and taken over must not resume and land the
      // whole multi-job span — a concurrent retention rewrite by the
      // new owner could swap away a corpus append this stale batch
      // just landed, losing admitted docs while the streaming
      // checkpoint advances (ADVICE r15). The heartbeat poisons the
      // handle at takeover, so this usually trips before any write.
      // On the fresh-acquisition path this fence is adjacent to the
      // acquire (near-vacuous, one small read); it earns its keep in
      // the REENTRANT composition — a caller already holding the
      // corpus lease across prior work (retention pipelines, specs)
      // re-enters here, and then this is the span's first real fence.
      graft.sources.WriterLease.verify(spark, corpusDir)
      // append targets resolved INSIDE the lease (the Generations
      // appender contract): a compaction/forget that migrated any of
      // these dirs to the generation layout serialized with this
      // batch on the same lease, so the resolution cannot go stale
      // within the span
      val shCur = graft.sources.Generations.resolve(spark, shDir)
      val bandsCur = graft.sources.Generations.resolve(spark, bandsDir)
      val corpusCur = graft.sources.Generations.resolve(spark, corpusDir)
      // the LAYOUT decision re-derived INSIDE the lease (review r17):
      // legacySh from the pre-lease listing could be stale across a
      // concurrent compactIngestIndexes that committed a
      // pfx-partitioned generation — writing FLAT files into it would
      // wedge the full-dir fallback read with "conflicting directory
      // structures". One listStatus of the resolved generation; admit
      // decisions above stay on their (one-sided-safe) snapshot.
      val shNow = IngestCommit.listing(spark, shDir)
      val legacyShNow =
        shNow.nonEmpty && !shNow.keys.exists(_.startsWith("pfx="))
      // skip writes for an empty frame: partitionBy with zero rows
      // writes NO part files, leaving a footer-less dir every later
      // full-dir read would throw on (bands' 16-rows-per-doc means
      // empty sh == empty bands)
      if (!admittedSh.isEmpty) {
        if (legacyShNow) admittedSh.write.mode(mode).parquet(shCur)
        else
          // one file per touched pfx dir (the repartition co-locates
          // each bucket in one task); the pfx layout is what lets the
          // exact-verify join prune the heavy shingle scan to candidate
          // directories (Dedup.crossNearDupIdsIndexed)
          Dedup.withShPfx(admittedSh).repartition(col("pfx"))
            .write.mode(mode).partitionBy("pfx").parquet(shCur)
        Dedup.minhashBands(admittedSh).write.mode(mode).parquet(bandsCur)
      }
      admitted.write.mode(mode).parquet(corpusCur)
      // stamp AFTER the corpus append: this batch's docs are now
      // committed, so its index files (the before/after listing diff)
      // join the marker base — which is the valid marker PLUS the
      // resolved committed extras (so a crash between corpus append
      // and stamp heals on the next batch), while true orphans stay
      // out forever, exactly the semi-join's semantics. An
      // invalid/missing marker repairs via one file-granularity commit
      // scan against the updated corpus, restricted to one layout so
      // off-layout debris can never poison marker purity
      val shAfter = IngestCommit.listing(spark, shDir)
      val bandsAfter = IngestCommit.listing(spark, bandsDir)
      val (baseSh, baseBands) =
        if (empty) (Map.empty[String, Long], Map.empty[String, Long])
        else if (mkValid) mkResolved.get
        else {
          // corpusCur, not a re-resolve: inside the lease the
          // resolution cannot move, and the fence above already
          // pinned it — re-deriving it would force a reader to
          // re-prove the invariant
          val committedNow = spark.read.parquet(corpusCur)
            .select("doc_id")
          val shPool = oneLayout(shAfter)
          (IngestCommit.committedListing(spark, shDir, shPool,
             IngestCommit.shSchema(
               shPool.keys.exists(_.startsWith("pfx="))), committedNow),
           IngestCommit.committedListing(spark, bandsDir, bandsAfter,
             IngestCommit.bandsSchema, committedNow))
        }
      val ownSh = oneLayout(shAfter -- shBefore.keySet)
      val ownBands = bandsAfter -- bandsBefore.keySet
      // Re-fence before the marker stamp, and OUTSIDE IngestCommit
      // .write's swallow-all try (same reasoning as IndexStore
      // .writeCommit's "fence OUTSIDE the try"): a fenced marker
      // write must abort the batch loudly, never be logged as a
      // perf-only marker miss while the checkpoint advances.
      graft.sources.WriterLease.verify(spark, corpusDir)
      IngestCommit.write(spark, corpusDir,
        IngestCommit.Marker(baseSh ++ ownSh, baseBands ++ ownBands,
          IngestCommit.listing(spark, corpusDir)))
      }
      // LEXICAL maintenance (composed retrieval): the admitted docs
      // become retrievable via q74 in the SAME micro-batch — one
      // LexIndex.appendBatch per batch (cost ∝ batch: ledger probe +
      // tokenize + additive partial appends; the additive facts make
      // post-append serving bit-identical to a rebuild, so the twin
      // gate holds by construction). First non-empty batch builds.
      // Ordered AFTER the corpus append: a retrievable doc is always a
      // committed doc (the reverse order would index docs that might
      // never commit). A crash between the corpus append and this
      // write leaves the lexical meta.fp behind the corpus, which the
      // next serve's ensure() detects and heals by rebuild — a crashed
      // batch costs one rebuild, never a wrong answer (LexIndex's
      // ledger-first appendBatch contract); the admitted-set replay
      // (all rows drop as exact dups) then skips this block entirely,
      // so nothing double-appends. Dial/format drift (or a tombstoned
      // doc_id legitimately re-admitted through the corpus-owned
      // dedup) falls back to one rebuild over the corpus this batch
      // just joined — the same rebuild-once recovery the vector sink
      // uses.
      if (!admitted.isEmpty) {
        import graft.operators.LexIndex
        val lexBatch = admitted.select(col("doc_id"), col("text"))
        try {
          if (StoreKernel.hasMeta(spark, LexIndex.dirFor(spark, corpusDir))) {
            LexIndex.appendBatch(spark, corpusDir, lexBatch)
            ()
          } else {
            LexIndex.ensure(spark, corpusDir)
            ()
          }
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[docingest] lexical append refused " +
            s"(${e.getMessage}); rebuilding the lexical index once")
          LexIndex.ensure(spark, corpusDir)
          ()
        }
      }
      }
      ()
    }

  /** Streaming vector ingest: the embeddings counterpart of
    * [[incrementalIngestStream]] — every micro-batch of vectors
    * (vec_id, embedding) is appended to the corpus at
    * `<corpusDir>/embeddings.parquet` AND indexed into the persisted
    * ANN index ([[graft.operators.IndexStore.appendBatch]] — cost ∝
    * batch, no retrain), so q69/q70 serve the grown corpus with no
    * rebuild: `appendBatch` xor-composes the corpus fingerprint, and
    * the next `ensure` validates without building.
    *
    * Delivery: at-least-once foreachBatch made effectively-once by two
    * anti-joins — the sink drops batch rows whose vec_id is already in
    * the corpus, and appendBatch drops ids already in the index. Write
    * order is INDEX FIRST, corpus second: a crash between them leaves
    * the index ahead of the corpus, and the replay self-heals (the
    * rows are still corpus-fresh, appendBatch no-ops on them, the
    * corpus append completes the pair — fingerprints agree again). The
    * reverse order would strand the index behind silently until an
    * ensure noticed. A crashed BOOTSTRAP (corpus written, build never
    * ran) is detected by [[StoreKernel.hasMeta]] and
    * repaired by ensure on the next batch.
    *
    * The per-batch index cost is the batch-side encode plus the
    * anti-join scans of the corpus/codes id columns — at real scale
    * those are single-column columnar reads, co-located when the
    * corpus is bucketed by vec_id ([[graft.operators.Layout]]).
    * Retrain policy stays with the caller: run `ensure(...,
    * Some(RebuildPolicy(...)))` on an ingest cadence to turn the
    * accumulated-drift advisory into a guaranteed rebuild. */
  def vectorIngestStream(vecs: DataFrame, corpusDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      vecIngestBatch(batch.sparkSession, corpusDir,
        dedupBatchDeterministic(batch))
    }

  /** One micro-batch of the unscreened vector sink against ONE corpus
    * dir — the body [[vectorIngestStream]] always ran, extracted so
    * the SHARDED sink ([[graft.operators.Sharded]], VERDICT r17 #1)
    * can drive K of these concurrently against disjoint shard corpora,
    * each under its own writer lease. `b` must already be
    * per-vec_id-deduplicated ([[dedupBatchDeterministic]] — the
    * sharded caller dedupes ONCE before splitting; shard routing is a
    * pure function of vec_id, so the per-shard sub-batches stay
    * key-unique). */
  private[graft] def vecIngestBatch(spark: SparkSession,
      corpusDir: String, b: DataFrame): Unit = {
      import graft.operators.IndexStore
      val table = s"$corpusDir/embeddings.parquet"
      val idxDir = IndexStore.dirFor(spark, corpusDir)
      val (fs, marker) = graft.Scratch.fs(spark, s"$table/_SUCCESS")
      if (b.isEmpty) {
        // an EMPTY batch must not bootstrap: a zero-row corpus write
        // can be schema-bearing-file-less (unreadable), and the n=0
        // index it would build has no cells for later appends to
        // assign into — leave bootstrapping to the first batch that
        // carries rows (post-bootstrap an empty batch is a no-op
        // anyway: `fresh` below would be empty)
        ()
      } else if (!fs.exists(marker) && {
        // bootstrap: first batch becomes the corpus, index built on it
        // (corpus-dir lease: see the docs sink's span note). The
        // marker is RE-PROBED inside the lease (the docs sink's
        // in-lease re-resolution discipline): under a single feeder
        // the outer probe alone was sound, but a SECOND feeder on the
        // same store (the sharded layout's cross-feeder case, legal
        // now that feeders may share shards) could pass the outer
        // probe while this feeder's bootstrap Overwrite is in flight
        // — and its own Overwrite would then DELETE the first batch's
        // rows. Losing the race demotes this batch to the ordinary
        // append path below (the `&& { ... }` evaluates to false).
        val won = graft.sources.WriterLease.withWritePatient(spark,
            corpusDir, "ingest") {
          if (fs.exists(marker)) false
          else {
            b.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
              .parquet(table)
            true
          }
        }
        if (won) IndexStore.ensure(spark, corpusDir)
        won
      }) {
        () // bootstrapped above
      } else {
        if (!StoreKernel.hasMeta(spark, idxDir))
          IndexStore.ensure(spark, corpusDir) // crashed bootstrap replay
        // generation-resolved at read time; a concurrent rewrite
        // committing mid-batch leaves `fresh` decided on the
        // pre-rewrite snapshot, which is one-sided-SAFE for every
        // rewrite this table sees (deletions shrink the id set — the
        // anti-join can over-drop a racing resend, a legal
        // serialization, never double-insert; compactions preserve
        // content) — see the docs sink's concurrent-rewrite note
        val corpusIds = spark.read.parquet(graft.sources.Generations
          .resolve(spark, table)).select("vec_id")
        val fresh = graft.Materialize(
          b.join(corpusIds, Seq("vec_id"), "left_anti"))
        if (!fresh.isEmpty) {
          // corpusScreened: fresh is the batch anti-joined against the
          // corpus, replay-deterministic, single-writer — the vouched
          // contract appendBatch's zero-scan fast path requires
          try IndexStore.appendBatch(spark, idxDir, fresh,
            corpusScreened = true)
          catch {
            case e @ (_: IllegalStateException | _: IllegalArgumentException) =>
              // the index EXISTS but cannot accept this batch: built
              // under different dials/format (a deploy changed them),
              // torn beyond this batch's repair (checkpoint loss
              // re-keyed the batches), or the batch re-adds a
              // TOMBSTONED id (legal — the deleted row left the corpus,
              // so the anti-join admits the resend — but appendBatch
              // must refuse until the ghost rows fold). Each state's
              // prescribed recovery differs: the tombstone refusal
              // needs the FOLD (ensure alone validates the tombstoned
              // state and would hand the retry the same refusal —
              // a crash loop), the others need ensure()'s rebuild.
              System.err.println(s"[vecingest] appendBatch refused " +
                s"(${e.getMessage}); recovering once and retrying")
              // TYPED dispatch (review r17): the tombstone refusal's
              // recovery is the FOLD; a message-substring match broke
              // silently on any rewording — and routed to ensure(),
              // which validates the refusing state, it crash-loops
              if (e.isInstanceOf[graft.sources.TombstonedReAddException])
                graft.sources.Maintenance.compactAnnIndex(spark, idxDir)
              else IndexStore.ensure(spark, corpusDir)
              IndexStore.appendBatch(spark, idxDir, fresh,
                corpusScreened = true)
          }
          // corpus-dir lease around the corpus append (a concurrent
          // retention delete's rewrite takes the same lease — hold
          // order index→corpus is only ever taken by the delete; this
          // sink holds one lease at a time, so no cycle)
          graft.sources.WriterLease.withWritePatient(spark, corpusDir,
              "ingest") {
            // resolved inside the lease (Generations appender contract)
            fresh.write.mode(org.apache.spark.sql.SaveMode.Append)
              .parquet(graft.sources.Generations.resolve(spark, table))
          }
          // bound the delta buffer: every reader scans the delta
          // UNPRUNED (that's the price of O(1)-file appends)
          foldDeltaIfNeeded(spark, idxDir)
        }
      }
      ()
  }

  /** SHARDED unscreened vector sink (VERDICT r17 #1): one stream,
    * K concurrent per-shard sink bodies — [[graft.operators.Sharded
    * .ingestVecBatch]] routes each micro-batch by a content-keyed
    * hash of vec_id and runs [[vecIngestBatch]] against every shard's
    * own corpus dir in parallel, each under that shard's own writer
    * lease and in-JVM monitor. Same replay/crash contracts as the
    * unsharded sink, per shard; serve through
    * [[graft.operators.Sharded.knnTopK]] / `vecCorpus`. */
  def shardedVectorIngestStream(vecs: DataFrame, root: String,
      shards: Int = graft.operators.Sharded.defaultShards)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      graft.operators.Sharded.ingestVecBatch(batch.sparkSession, root,
        shards, batch)
    }

  /** Delta-buffer fold cadence for the streaming vector sinks: fold
    * when a codes table's delta holds this many append files. At 64
    * the unpruned delta leg every reader pays stays ≤64 small files
    * (~64 batches), while the ~√N-file fold cost amortizes to
    * 1/64th per batch. */
  val foldDeltaAtFiles = 64

  /** Deterministic per-vec_id keeper for a raw micro-batch: of rows
    * sharing a vec_id, keep the one whose whole-row hash is largest.
    * `dropDuplicates` here would be a CORRECTNESS hole, not a style
    * choice: it keeps an arbitrary row, so a replayed batch carrying
    * the same id with two different embeddings could resolve to
    * DIFFERENT content than the original attempt — the vouched
    * appendBatch fast path's replay ledger would then miss (fingerprint
    * differs) and re-append an already-indexed id as fresh, and the
    * screened sink's re-key guard would refuse the "changed" resend.
    * max_by over the whole-row hash picks the same row on every replay
    * regardless of arrival order (ties are identical rows).
    *
    * The keeper is the WHOLE row, not just (vec_id, embedding): callers
    * streaming wider rows into the sinks keep their extra columns in
    * the corpus table, matching the pre-dedup contract (the index
    * itself only ever reads vec_id + embedding). */
  private[graft] def dedupBatchDeterministic(batch: DataFrame): DataFrame = {
    val cols = batch.columns.toIndexedSeq
    batch.groupBy(col("vec_id").as("__gk"))
      .agg(max_by(struct(cols.map(col): _*),
        xxhash64(cols.map(col): _*)).as("__keep"))
      .select(cols.map(c => col(s"__keep.`$c`").as(c)): _*)
  }

  /** Shared delta-fold cadence for both vector sinks: fold the append
    * delta back into the cell layout once it holds `foldDeltaAtFiles`
    * files (one driver-side listing per batch; the ~√N-file fold cost
    * amortizes to 1/64th per batch). */
  private def foldDeltaIfNeeded(spark: SparkSession, idxDir: String): Unit =
    // max over BOTH codes tables: a repair-only append (freshN==0,
    // tornN>0) writes only rcodes_delta files, so counting codes alone
    // would let a replay-heavy stream grow rcodes_delta past the
    // cadence without ever folding
    if (math.max(
        graft.operators.IndexStore
          .deltaFileNames(spark, idxDir, "codes").size,
        graft.operators.IndexStore
          .deltaFileNames(spark, idxDir, "rcodes").size) >= foldDeltaAtFiles) {
      val (before, after) =
        graft.sources.Maintenance.compactAnnIndex(spark, idxDir)
      System.err.println(
        s"[vecingest] delta fold at $idxDir: $before part files -> $after")
    }

  /** Streaming vector ingest WITH the semantic near-dup screen —
    * [[vectorIngestStream]] plus [[graft.operators.IngestScreen]]
    * before admission: every micro-batch is (1) screened against the
    * STANDING corpus through the persisted index + cell-partitioned
    * veclists (cost ∝ batch — probes broadcast, lists scan
    * partition-pruned to the probed cells), (2) exact-screened against
    * ITSELF (bounded |batch|² block join, q45's keeper rule), and only
    * the survivors are indexed and appended. This is the SemDeDup-at-
    * ingest operator: the corpus never accumulates near-duplicates,
    * and the screen's cost never scales with the corpus it protects.
    *
    * Error model: rejection is EXACT (in-join cosine verify); a missed
    * corpus partner (outside the probed cells) admits a near-dup the
    * exact screen would have caught — one-sided, floored by the q76
    * gate's measured recall. Within-batch screening is fully exact.
    *
    * Delivery: same effectively-once construction as
    * [[vectorIngestStream]] (corpus anti-join + appendBatch's index
    * anti-join + appendLists' cell-pruned anti-join), with one extra
    * property doing quiet work: because admitted rows are MUTUALLY
    * non-duplicate (the exact within-batch screen), a replayed corpus
    * screen that finds the crashed attempt's rows already in the
    * lists can never reject a row the first attempt ADMITTED —
    * replay is one-sided. It is NOT fully deterministic for
    * within-batch near-dup CHAINS: with pairs (a,b),(b,c) and no
    * (a,c), attempt 1 admits {a} (b and c each lose to a lower-id
    * partner), while a replay whose corpus already holds a admits c
    * too (its only partner b never entered the corpus, so nothing
    * rejects it). Both outcomes satisfy the operator's invariant —
    * the corpus never holds a near-dup PAIR — and admitted rows are
    * never retracted; only the drop-side of a chain can differ
    * across crash timings. Write order: index, lists, corpus — each
    * crash window either replays within that envelope or surfaces as
    * a lists-marker mismatch that [[graft.operators.IngestScreen
    * .ensureLists]] heals by rebuild. */
  def screenedVectorIngestStream(vecs: DataFrame, corpusDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      import graft.operators.{IndexStore, IngestScreen}
      val spark = batch.sparkSession
      val table = s"$corpusDir/embeddings.parquet"
      val idxDir = IndexStore.dirFor(spark, corpusDir)
      val b = dedupBatchDeterministic(batch)
      val (fs, marker) = graft.Scratch.fs(spark, s"$table/_SUCCESS")
      if (b.isEmpty) {
        // same empty-batch rule as the unscreened sink: never bootstrap
        // on a schema-bearing-file-less zero-row corpus write
        ()
      } else if (!fs.exists(marker)) {
        // bootstrap: the first batch screens only against itself
        val admitted = b.join(IngestScreen.withinBatchDrops(b),
          Seq("vec_id"), "left_anti")
        // corpus-dir lease around the corpus write (docs sink's note)
        graft.sources.WriterLease.withWritePatient(spark, corpusDir,
            "ingest") {
          admitted.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(table)
        }
        val info = IndexStore.ensure(spark, corpusDir)
        IngestScreen.ensureLists(spark, corpusDir, info)
      } else {
        if (!StoreKernel.hasMeta(spark, idxDir))
          IndexStore.ensure(spark, corpusDir) // crashed bootstrap replay
        // generation-resolved at read time; stale-snapshot decisions
        // are one-sided-safe — see the unscreened sink's note
        val corpusIds = spark.read.parquet(graft.sources.Generations
          .resolve(spark, table)).select("vec_id")
        val fresh = graft.Materialize(
          b.join(corpusIds, Seq("vec_id"), "left_anti"))
        if (!fresh.isEmpty) {
          // meta-only info, NOT ensure(): this sink is the index's only
          // writer, so the meta row is authoritative between its own
          // appends — and a per-batch ensure would hit the stateless
          // freshness rule (nl == nlistFor(n)) after appends grow n,
          // RETRAINING the index mid-stream every few batches (measured:
          // 12 s spikes at the probe corpus). Retrain cadence belongs to
          // RebuildPolicy on the maintained path, exactly like the
          // unscreened sink.
          val info = IndexStore.infoFromMeta(spark, corpusDir).getOrElse(
            IndexStore.ensure(spark, corpusDir))
          // files-per-cell compaction policy: a long-lived stream lands
          // a sliver per touched cell per batch, right where the
          // DPP-pruned screen opens files — bound it without anyone
          // having to remember a maintenance call (the RebuildPolicy
          // compaction contract, on the sidecar)
          IngestScreen.ensureLists(spark, corpusDir, info,
            compactAtFilesPerCell = IngestScreen.compactListsAt)
          // n=0: nothing indexed yet (an all-invalid bootstrap corpus)
          // — no cells to probe; the corpus screen is vacuous and
          // appendBatch's n=0 guard governs, same as the unscreened sink
          val corpusRejects =
            if (info.n == 0) fresh.select(col("vec_id")).limit(0)
            else IngestScreen.screenBatch(spark, corpusDir, info, fresh,
              // fresh is materialized — the count is cheap, and a
              // backfill-sized batch must take the shuffle shape
              // instead of forcing |batch|·np wide rows through the
              // driver broadcast
              smallBatch = fresh.count() <= IngestScreen.smallBatchMax)
          val afterCorpus = fresh.join(
            graft.Materialize(corpusRejects), Seq("vec_id"), "left_anti")
          val admitted = graft.Materialize(
            afterCorpus.join(IngestScreen.withinBatchDrops(afterCorpus),
              Seq("vec_id"), "left_anti"))
          if (!admitted.isEmpty) {
            try IndexStore.appendBatch(spark, idxDir, admitted)
            catch {
              case e @ (_: IllegalStateException | _: IllegalArgumentException) =>
                // same recover-once contract as the unscreened sink:
                // a tombstoned-id re-add needs the FOLD (ensure alone
                // validates the tombstoned state — retry would refuse
                // identically, a crash loop); dial-mismatched or
                // torn-beyond-repair indexes pay one ensure()
                System.err.println(s"[vecingest] appendBatch refused " +
                  s"(${e.getMessage}); recovering once and retrying")
                // typed dispatch — see the unscreened sink's note
                if (e.isInstanceOf[graft.sources.TombstonedReAddException])
                  graft.sources.Maintenance.compactAnnIndex(spark, idxDir)
                else IndexStore.ensure(spark, corpusDir)
                IndexStore.appendBatch(spark, idxDir, admitted)
            }
            IngestScreen.appendLists(spark, corpusDir, admitted)
            // corpus-dir lease around the corpus append (held alone —
            // the store leases above released at their call's end).
            // No explicit verify fence here, DELIBERATELY: unlike the
            // docs sink's single long-held span, every write of this
            // sink freshly acquires its own lease, and a fresh
            // acquisition is inherently fenced — a writer stalled
            // past TTL re-ACQUIRES here (waits out or takes over the
            // current holder) rather than resuming inside a stale
            // hold, so there is no pre-acquired window for a
            // takeover to invalidate. A forget's rewrite serializes
            // against this append at acquisition, and a rewrite
            // AFTER it reads the appended rows as survivors.
            graft.sources.WriterLease.withWritePatient(spark, corpusDir,
                "ingest") {
              // resolved inside the lease (Generations appender contract)
              admitted.write.mode(org.apache.spark.sql.SaveMode.Append)
                .parquet(graft.sources.Generations.resolve(spark, table))
            }
            // same delta-fold cadence as the unscreened sink (the
            // veclists sidecar has its own files-per-cell policy above)
            foldDeltaIfNeeded(spark, idxDir)
          }
        }
      }
      ()
    }

  final case class UserEvent(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long,
      total_value: Double, burst: Boolean)
  /** Public: the state encoder's codegen needs an accessible ctor. */
  final case class RunningState(n: Long, total: Double)

  /** Custom keyed state via flatMapGroupsWithState: running per-user
    * totals with a "burst" flag when one micro-batch delivers more than
    * `burstThreshold` events for a user.
    *
    * Pass `GroupStateTimeout.ProcessingTimeTimeout()` in production to
    * evict idle users' state (bounded state at 100 TB/day). The default
    * is NoTimeout because a processing-time timeout makes the
    * micro-batch engine schedule continuous empty batches — fine on a
    * cluster, but it never quiesces under test harnesses that wait for
    * processAllAvailable. */
  /** The same running totals on the transformWithState API (Spark 4's
    * successor to [mapGroups|flatMapGroups]WithState): typed named
    * state through a StatefulProcessor handle, RocksDB-backed, with
    * per-state TTL instead of a single group timeout — set `ttl` in
    * production to bound idle-user state; NONE keeps tests hermetic.
    * Requires `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider on the running query (asserted in the
    * spec). Behavior matches [[runningUserTotals]] row for row, which
    * the spec cross-checks. */
  final class RunningTotalsProcessor(burstThreshold: Int, ttl: TTLConfig)
      extends StatefulProcessor[Long, UserEvent, UserRunning] {
    @transient private var running: ValueState[RunningState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      running = getHandle.getValueState(
        "running", Encoders.product[RunningState], ttl)

    override def handleInputRows(user: Long, rows: Iterator[UserEvent],
        tv: TimerValues): Iterator[UserRunning] = {
      val evs = rows.toSeq
      val prev = if (running.exists()) running.get() else RunningState(0L, 0.0)
      val next = RunningState(prev.n + evs.size,
        prev.total + evs.map(_.value).sum)
      running.update(next)
      Iterator.single(UserRunning(user, next.n, next.total,
        evs.size > burstThreshold))
    }
  }

  def runningUserTotalsTws(events: Dataset[UserEvent],
      burstThreshold: Int = 10,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor(burstThreshold, ttl),
        TimeMode.None(), OutputMode.Append())
  }

  def runningUserTotals(events: Dataset[UserEvent],
      burstThreshold: Int = 10,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout())
      : Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    val evictIdle = timeout == GroupStateTimeout.ProcessingTimeTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RunningState, UserRunning](
        OutputMode.Append(), timeout) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[RunningState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val evs = batch.toSeq
            val prev = state.getOption.getOrElse(RunningState(0L, 0.0))
            val next = RunningState(prev.n + evs.size,
              prev.total + evs.map(_.value).sum)
            state.update(next)
            if (evictIdle) state.setTimeoutDuration("1 hour")
            Iterator.single(UserRunning(userId, next.n, next.total,
              evs.size > burstThreshold))
          }
      }
  }
}
