package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{StoreKernel, Tables}

/** One row of `<listsDir>/meta` — the veclists sidecar's identity
  * marker. Top-level, not nested in the object, for the same Janino
  * product-encoder reason as [[AnnIndexMeta]].
  *
  * `idx_version`/`nl`/`lloyd_iters` pin the CELL GEOMETRY the lists
  * were partitioned under: the corpus fingerprint alone cannot see a
  * dial change that retrains the centroids over the SAME corpus
  * (e.g. a lloydIters bump — same fp, different cells), and lists
  * bucketed under stale cells would silently miss candidates.
  *
  * `res_norm`/`appended_n` pin the TRAINED ARTIFACTS behind those
  * dials: a rebuild over an append-grown corpus reproduces the same
  * (n, fp, nl, dials) while RETRAINING the centroids (the hash-least
  * seed set shifts with the appended ids) — without these two fields
  * the marker validates lists bucketed under the dead geometry and
  * the screen silently loses candidates forever. A rebuild resets
  * meta.appended_n to 0 and re-baselines res_norm, so a marker
  * stamped before any retrain can never match the meta after one;
  * the append path keeps both in lockstep (appendLists adds its own
  * fresh count, which equals appendBatch's in every healthy state and
  * mismatches → rebuild in the crash states). */
private[operators] final case class VecListsMeta(version: Int,
  idx_version: Int, n: Long, fp: Long, nl: Int, lloyd_iters: Int,
  res_norm: Double, appended_n: Long)

/** Inverted-list RAW VECTORS for the ANN index — the IVFFlat sidecar
  * that makes index-backed screening cost ∝ batch, not ∝ corpus.
  *
  * The index-backed dedup (q71, [[IndexStore.queryEmbedDedup]]) joins
  * candidates to corpus vectors by riding the vectors INTO the cell
  * join — correct, but the homes side is a FULL corpus scan. Fine when
  * the probe side is itself ~the corpus (q71 screens everything
  * against everything); fatal for the INGEST case, where a bounded
  * micro-batch arrives against a 100 TB standing corpus and per-batch
  * cost must not scale with corpus size (the q59 IngestCommit lesson,
  * now on the embedding modality). This store is the missing layout:
  * the corpus vectors, partitioned on disk BY HOME CELL
  * (`<listsDir>/lists/cell=K/`), so a batch's screen reads only the
  * directories of its probed cells — batch·nprobe cells of ~√N/0.7
  * vectors each, with dynamic partition pruning keeping it true
  * in-plan when the probe side broadcasts. FAISS calls this IVFFlat
  * inverted lists; here it is one partitioned parquet table derived
  * from artifacts the index already maintains (codes' home cells).
  *
  * Freshness: `meta` carries the same corpus fingerprint discipline as
  * [[IndexStore]] — [[ensureLists]] compares it against the INDEX
  * meta (which [[IndexStore.ensure]] has just validated against the
  * corpus) plus the cell-geometry dials, and rebuilds on any mismatch.
  * Any crash window (torn append, lists behind or ahead of the index)
  * surfaces as a fingerprint mismatch and heals by REBUILD, never by
  * guessing — the lexical-index lesson. [[appendLists]] is the
  * incremental path: cost ∝ batch (cell assignment + an anti-join
  * pruned to the batch's own cells), replay-idempotent by that same
  * anti-join, data written BEFORE the marker so a crash between them
  * reads as stale (rebuild), never as complete-but-missing-rows
  * (silent candidate loss).
  *
  * Validation cost per call: two one-row parquet reads (index meta +
  * lists meta) — no corpus scan, no listing walk. A vtoken-style
  * zero-job fast path is deliberately NOT replicated here: the reads
  * are ~1 KB and the screen itself always runs Spark jobs anyway.
  *
  * Concurrency: same contract as [[IndexStore]] — maintenance runs
  * quiesced. [[ensureLists]]/[[appendLists]] lock the LISTS dir's own
  * monitor and writer lease, not the index's: an index rebuild racing
  * a lists rebuild that reads its codes table is excluded only by the
  * quiesced contract.
  */
object IngestScreen {

  /** Bump when the lists LAYOUT or screen algorithm changes in a way
    * [[VecListsMeta]]'s dial fields cannot see.
    * v2: marker gains res_norm/appended_n (the same-identity-retrain
    * blind spot) — a v1 marker fails the decode and reads as absent,
    * which is the rebuild this fix wants anyway. */
  val formatVersion = 2

  /** Stable on-disk home of the veclists for one corpus dir. A SIBLING
    * of the index dir, not a subdirectory: everything under the index
    * dir feeds the index's validation-token digest, so lists appends
    * would needlessly invalidate the ANN zero-job fast path. */
  def listsDir(spark: SparkSession, sfDir: String): String =
    graft.Scratch.stableDir(spark, "annvl", sfDir)

  /** Probe depth for the one-directional ingest screen. DEEPER than
    * [[Similarity.dedupNprobeFor]]'s 12: the dedup screen catches a
    * pair from EITHER side (per-pair miss = one-directional miss
    * squared), but an ingest batch probes a corpus that never probes
    * back, so the screen pays the full one-directional miss and buys
    * the recall back with depth. Still a CONSTANT — per-batch work is
    * |batch|·np·cellsize, and a constant np keeps it independent of
    * corpus size (the N^1.5-regime argument does not apply here; the
    * batch is bounded). `-Dgraft.ann.nprobe` remains the calibration
    * override, same as the other two dials. */
  def screenNprobeFor(nl: Int): Int =
    sys.props.get("graft.ann.nprobe") match {
      case Some(_) => Similarity.nprobeFor(nl)
      case None    => math.min(nl, 24)
    }

  /** The gate framing's "incoming batch": a deterministic ~1/8 slice
    * of the embeddings table (portable hash bucket, the q43/q52
    * idiom). The complement plays the standing corpus. */
  def batchPred: Column = pmod(xxhash64(col("vec_id")), lit(8)) === 3

  // --- meta ------------------------------------------------------------------

  private def listsCurrent(vm: VecListsMeta, m: AnnIndexMeta): Boolean =
    vm.version == formatVersion &&
      vm.idx_version == m.version && vm.n == m.n && vm.fp == m.fp &&
      vm.nl == m.nl && vm.lloyd_iters == Similarity.lloydIters &&
      vm.res_norm == m.res_norm && vm.appended_n == m.appended_n

  // --- lifecycle -------------------------------------------------------------

  /** Default [[ensureLists]] compaction threshold for long-lived
    * ingest callers (the streaming sink): same files-per-cell bar as
    * [[IndexStore.RebuildPolicy]]'s codes-table default. */
  val compactListsAt = 16

  /** Validate-or-rebuild the lists against the index at `info` (which
    * the caller obtained from [[IndexStore.ensure]], i.e. the index is
    * CURRENT vs the corpus — that is what licenses copying the index
    * meta's identity into the lists marker on rebuild). Returns the
    * build seconds (0.0 when the existing lists validated).
    *
    * `compactAtFilesPerCell` > 0 adds the LAYOUT policy on the
    * validated path ([[IndexStore.RebuildPolicy]]'s analogue): every
    * appendLists lands a sliver into each touched cell dir, and a
    * long-lived stream accumulates them exactly where the DPP-pruned
    * screen opens files — when any cell's part-file count reaches the
    * threshold, [[graft.sources.Maintenance.compactVecLists]] rewrites
    * to one file per cell (content-preserving, marker untouched),
    * after the lists monitor is released ([[StoreKernel
    * .compactWhenDue]]). The probe is a driver-side glob, no Spark job. */
  def ensureLists(spark: SparkSession, sfDir: String,
      info: IndexStore.BuildInfo,
      compactAtFilesPerCell: Int = 0): Double = {
    val dir = listsDir(spark, sfDir)
    // per-store monitor: veclists stores of different corpora never
    // serialize in-JVM. None: the lists validated
    val built = StoreKernel.monitorFor(dir).synchronized {
    val m = StoreKernel.readMeta[AnnIndexMeta](spark, info.dir, "annidx")
      .getOrElse(throw new IllegalStateException(
        s"no index meta at ${info.dir} — ensure() the index first"))
    // a pending sentinel means an appendLists died mid-flight — and a
    // MATCHING marker does not clear it: if the crashed batch's index
    // rows were since discarded by an index rebuild (checkpoint loss —
    // the batch never replays), marker and meta agree while the lists
    // carry GHOST rows that would phantom-reject future near-dups of
    // vectors that never entered the corpus. Presence → rebuild.
    val (fs, pending) = graft.Scratch.fs(spark, s"$dir/$pendingName")
    // existence probe (driver-side, no job): a foreign deletion of the
    // data dir under a surviving marker must rebuild here, not serve
    // and then fail the screen's read with a bare missing-path error
    def dataIntact(vm: VecListsMeta): Boolean =
      vm.n == 0 || fs.exists(new org.apache.hadoop.fs.Path(s"$dir/lists"))
    StoreKernel.readMeta[VecListsMeta](spark, dir, "annvl") match {
      case Some(vm) if listsCurrent(vm, m) && dataIntact(vm) &&
          !fs.exists(pending) => None
      case _ =>
        val t0 = System.nanoTime()
        rebuildLists(spark, sfDir, info, m)
        Some((System.nanoTime() - t0) / 1e9)
    } }
    // a build writes one file per cell: only validated lists compact
    def due = compactAtFilesPerCell > 0 &&
      // current generation only (see compactVecLists)
      graft.sources.Maintenance.cellFiles(spark, s"$dir/lists")
        .groupBy(_.getPath.getParent).values.map(_.length)
        .maxOption.exists(_ >= compactAtFilesPerCell)
    if (built.isEmpty)
      StoreKernel.compactWhenDue(spark, dir)(due)(Option.when(due)(())) { _ =>
        val (before, after) =
          graft.sources.Maintenance.compactVecLists(spark, dir)
        System.err.println(
          s"[annvl] policy compaction at $dir: $before part files -> $after")
      }
    built.getOrElse(0.0)
  }

  /** In-flight-append sentinel under the lists dir: stamped BEFORE the
    * append's data writes, cleared after the marker — the window where
    * lists data and marker can disagree is exactly the window where
    * this file exists, so [[ensureLists]] can treat its presence as
    * "rebuild" without ever paying a data-side count probe. */
  private val pendingName = "pending"

  /** Full rebuild: corpus vectors joined to their home cells (codes'
    * sub-0 rows — ONE definition of "home cell", the index's own),
    * written partitioned by cell into a shadow and promoted. The
    * marker copies the index meta's identity — sound because the
    * caller just validated index ≡ corpus (see [[ensureLists]]). */
  private def rebuildLists(spark: SparkSession, sfDir: String,
      info: IndexStore.BuildInfo, m: AnnIndexMeta): Unit = {
    val dir = listsDir(spark, sfDir)
    graft.sources.WriterLease.withWrite(spark, dir, "rebuild") {
    val shadow = s"${dir}__shadow"
    val (fs, shadowP) = graft.Scratch.fs(spark, shadow)
    if (fs.exists(shadowP)) fs.delete(shadowP, true)
    // n=0: a zero-row partitioned write leaves a schema-less (hence
    // unreadable) lists dir — write the marker alone; every reader is
    // guarded by info.n > 0 (q76 early-returns, the stream bootstraps
    // on its first non-empty batch)
    if (m.n > 0) {
      val e = Similarity.prepped(spark, sfDir).filter(Similarity.validNorm)
      val homes = IndexStore.withDeltaOf(spark, info.dir, "codes")(
          _.filter(col("sub") === 0))
        .select(col("vec_id"), col("cell"))
      // one file per cell: the read path opens whole cell directories,
      // so sliver-free layout is part of the build contract (appends
      // land slivers)
      e.join(homes, Seq("vec_id"))
        .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
        .repartition(col("cell"))
        .write.partitionBy("cell").parquet(s"$shadow/lists")
    }
    StoreKernel.writeMeta(spark, shadow,
      VecListsMeta(formatVersion, m.version, m.n, m.fp, m.nl,
        Similarity.lloydIters, m.res_norm, m.appended_n))
    // fence before the swap that makes the candidate live
    graft.sources.WriterLease.verify(spark, dir)
    graft.sources.ParquetSink.promote(fs, shadowP,
      new org.apache.hadoop.fs.Path(dir))
    }
  }

  /** Incremental maintenance: add `batch` (vec_id, embedding) rows to
    * the lists, cost ∝ batch. Call AFTER [[IndexStore.appendBatch]] on
    * the same batch (the index meta then already counts it, and the
    * composed marker converges to equality with it). Replay-idempotent:
    * already-listed ids are anti-joined out, with the anti-join's
    * corpus side pruned to the batch's own cells (a replay scans the
    * touched directories, never the whole table). Data is written
    * BEFORE the marker — a crash between them leaves the marker stale,
    * which the next [[ensureLists]] reads as a mismatch and heals by
    * rebuild; stamping first would instead validate lists that are
    * MISSING rows (silent candidate loss, the one unacceptable state).
    * Returns the number of rows actually appended (0 on a pure
    * replay). */
  def appendLists(spark: SparkSession, sfDir: String,
      batch: DataFrame): Long = {
    val dir = listsDir(spark, sfDir)
    StoreKernel.mutate(spark, dir, "append") {
    val vm = StoreKernel.readMeta[VecListsMeta](spark, dir, "annvl")
      .getOrElse(throw new IllegalStateException(
        s"no veclists at $dir — ensureLists() before appendLists()"))
    val idxDir = IndexStore.dirFor(spark, sfDir)
    val pe = IndexStore.indexable(batch)
    val cents = StoreKernel.readStore(spark, s"$idxDir/centroids")
    val home = Similarity.homeCells(
      pe.select(col("vec_id"), col("v"), col("nrm")), cents)
    val withCell = pe.join(home, Seq("vec_id"))
    // replay no-op, pruned: the existing-ids scan joins on the
    // batch's own (few) cells first, so partition pruning reads only
    // the touched directories — per-batch cost never scales with the
    // table (the IngestCommit lesson). A marker at n=0 means no lists
    // files exist yet (see rebuildLists) — nothing to anti-join.
    val fresh = graft.Materialize(
      if (vm.n == 0) withCell
      else {
        val existing = readLists(spark, dir)
          .join(home.select(col("cell")).distinct().hint("broadcast"),
            Seq("cell"), "left_semi")
          .select(col("vec_id"))
        withCell.join(existing, Seq("vec_id"), "left_anti")
      })
    val (n, fp) = StoreKernel.keyedFingerprint(fresh, "vec_id",
      "embedding")(d => s"batch contains duplicate vec_id rows ($d " +
        "extras) — deduplicate on vec_id before appendLists")
    if (n == 0) return 0L
    // pending sentinel around the data+marker pair (see [[pendingName]]):
    // any crash inside this window leaves it behind, and the next
    // ensureLists rebuilds instead of trusting a possibly-ghosted table
    // fence before the first visible write (the pending sentinel)
    graft.sources.WriterLease.verify(spark, dir)
    val (fs, pending) = graft.Scratch.fs(spark, s"$dir/$pendingName")
    fs.create(pending, true).close()
    fresh.select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode(SaveMode.Append)
      // resolved inside the lease (Generations appender contract)
      .parquet(graft.sources.Generations.resolve(spark, s"$dir/lists"))
    StoreKernel.writeMeta(spark, dir,
      vm.copy(n = vm.n + n, fp = vm.fp ^ fp,
        appended_n = vm.appended_n + n))
    if (!fs.delete(pending, false))
      System.err.println(s"[annvl] could not clear $pending after a " +
        "completed append — the next ensureLists will rebuild " +
        "(conservative, never wrong)")
    n
  } }

  /** Disk partition columns come back as the inferred type; pin `cell`
    * to its written long (same caveat as [[IndexStore.readCodes]]).
    * Generation-resolved (compactVecLists commits retained
    * generations — see [[graft.sources.Generations]]). */
  private def readLists(spark: SparkSession, dir: String): DataFrame =
    StoreKernel.readStore(spark,
      graft.sources.Generations.resolve(spark, s"$dir/lists"))
      .withColumn("cell", col("cell").cast("long"))

  // --- the screen ------------------------------------------------------------

  /** Batch vec_ids that have a corpus near-dup partner at cosine ≥
    * [[Similarity.pairThreshold]], found through the index: each batch
    * vector probes its `np` nearest cells, the probed cells' LISTED
    * vectors (filtered by `iidFilter`) are exact-cosine verified
    * in-join, and only verified hits leave as bare ids — the q71
    * in-join discipline, with the homes side served from the
    * cell-partitioned lists instead of a corpus scan. One-sided error
    * only (a reject is exact-verified; a true partner outside the
    * probed cells is missed — the recall the gate floors).
    *
    * `batch` must be (vec_id, v, nrm), validNorm-filtered.
    * `broadcastProbes` = true makes the probe side an explicit
    * broadcast so dynamic partition pruning prunes the lists scan to
    * the probed cell directories — the micro-batch shape. False (big
    * batches, the gate framing where |batch| ∝ N and the probes cover
    * most cells anyway) hash-joins with the lists as build side, the
    * q71 shape. */
  private[operators] def screenRejects(spark: SparkSession, sfDir: String,
      info: IndexStore.BuildInfo, batch: DataFrame, np: Int,
      iidFilter: Column = lit(true),
      broadcastProbes: Boolean = false): DataFrame = {
    import graft.functions.VectorFunctions.dotD
    val cents = StoreKernel.readStore(spark, s"${info.dir}/centroids")
    val probes = Similarity.topCells(batch, cents, np)
      .select(col("vec_id").as("pid"), col("cell"))
      .join(batch.select(col("vec_id").as("pid"), col("v").as("vp"),
        col("nrm").as("np_")), Seq("pid"))
    // deleted vectors must not reject new content: pending tombstones
    // (IndexStore deletion lifecycle) are anti-joined out of the
    // listed side — the lists physically fold when listsCurrent
    // mismatches the compaction-folded index meta and rebuilds from
    // the already-rewritten corpus
    val lists0 = readLists(spark, listsDir(spark, sfDir))
      .filter(iidFilter)
    val lists = IndexStore.tombsOf(spark, info.dir).drop(lists0)
      .select(col("cell"), col("vec_id").as("iid"), col("v").as("vi"),
        col("nrm").as("ni"))
    val joined =
      if (broadcastProbes) probes.hint("broadcast").join(lists, Seq("cell"))
      else probes.join(lists.hint("shuffle_hash"), Seq("cell"))
    joined
      .filter(col("pid") =!= col("iid") &&
        dotD(col("vp"), col("vi")) / (col("np_") * col("ni")) >=
          Similarity.pairThreshold)
      .select(col("pid").as("vec_id"))
      .distinct()
  }

  /** [[screenRejects]] over a RAW (vec_id, embedding, …) batch — the
    * micro-batch shape the streaming ingest calls: probes broadcast,
    * lists scan partition-pruned to the probed cells, so per-batch
    * cost is |batch|·np·cellsize regardless of corpus size. Returns
    * the batch vec_ids with a verified corpus near-dup. Invalid-norm
    * rows never reject (they pair with nothing — q45's rule).
    *
    * `smallBatch` = false switches to the shuffle-hash shape (loses
    * the partition pruning, gains unbounded batch size): the probe
    * broadcast is |batch|·np wide vector rows, so a backfill-sized
    * batch (≫ ~50k vectors) must not be forced through the driver —
    * the streaming sink selects by the batch count it already has. */
  def screenBatch(spark: SparkSession, sfDir: String,
      info: IndexStore.BuildInfo, batch: DataFrame,
      smallBatch: Boolean = true): DataFrame =
    screenRejects(spark, sfDir, info,
      Similarity.prepped(batch).filter(Similarity.validNorm),
      screenNprobeFor(info.nl), broadcastProbes = smallBatch)

  /** The broadcast-probes batch bound for [[screenBatch]]'s default
    * shape (probe rows ≈ batch × nprobe wide vector rows ≲ a few
    * hundred MB at this bound — safely under broadcast limits). */
  val smallBatchMax = 50000L

  /** Within-batch keeper: the vec_ids a RAW batch must drop against
    * ITSELF — the higher id of every exact near-dup pair (q45's
    * keeper rule, via [[Similarity.exactPairs]]). Exact, not
    * index-backed: a micro-batch is bounded, so the |batch|² block
    * join is cheap, and exactness here is what keeps a REPLAYED
    * corpus screen deterministic — admitted rows are mutually
    * non-duplicate, so finding themselves already in the lists on
    * replay can never reject them. */
  def withinBatchDrops(batch: DataFrame): DataFrame =
    Similarity.exactPairs(Similarity.prepped(batch).filter(Similarity.validNorm))
      .select(col("vec_b").as("vec_id")).distinct()

  // --- the gated query -------------------------------------------------------

  /** q76: index-backed INGEST SCREEN — the [[batchPred]] slice of the
    * embeddings table plays an incoming batch, the complement plays
    * the standing corpus, and the batch is screened for corpus
    * near-dups through the standing index + lists (the batch rows are
    * themselves indexed — harmless, the `iidFilter` keeps them off the
    * corpus side, and a probe's nearest cells don't depend on whether
    * the prober is listed). Returns the ADMITTED batch rows (vec_id,
    * label), ordered — survivors ⊇ the exact screen's survivors
    * (one-sided error), gated by Verify's rejected-id recall floor
    * against [[exactRejects]], with false rejects impossible for a
    * healthy build (the verify stage is exact) and recorded as −1.
    *
    * Invalid-norm batch rows are ADMITTED unscreened, matching q45's
    * keeper semantics (a NaN/zero vector pairs with nothing) and the
    * exact baseline. */
  def q76IngestScreen(spark: SparkSession, sfDir: String): DataFrame = {
    val info = IndexStore.ensure(spark, sfDir)
    val batchRows = Tables.load(spark, sfDir, "embeddings")
      .filter(batchPred)
      .select(col("vec_id"), col("label"))
    // n=0: nothing indexed, nothing to screen against — every batch
    // row is admitted, same answer as the exact screen on an empty
    // corpus, same schema
    if (info.n == 0) return batchRows.orderBy(col("vec_id"))
    ensureLists(spark, sfDir, info)
    val e = Similarity.prepped(spark, sfDir).filter(Similarity.validNorm)
    val rejects = screenRejects(spark, sfDir, info,
      e.filter(batchPred), screenNprobeFor(info.nl),
      iidFilter = !batchPred)
    batchRows
      .join(rejects, Seq("vec_id"), "left_anti")
      .orderBy(col("vec_id"))
  }

  /** The EXACT screen the gate floors q76 against: batch vec_ids with
    * any corpus partner at cosine ≥ threshold, by a balanced
    * block-fanout equality join (the q34 distribution discipline,
    * one-sided: batch rows fan to every corpus block). O(|batch|·N)
    * compute — the cost the index path exists to avoid; here it is the
    * ground truth at gate scale. */
  def exactRejects(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorFunctions.dotD
    val b = Similarity.pairBlocks
    val e = Similarity.prepped(spark, sfDir).filter(Similarity.validNorm)
    val lhs = e.filter(batchPred)
      .select(col("vec_id").as("pid"), col("v").as("vp"),
        col("nrm").as("np_"),
        explode(sequence(lit(0), lit(b - 1))).as("task"))
    val rhs = e.filter(!batchPred)
      .select(col("vec_id").as("iid"), col("v").as("vi"),
        col("nrm").as("ni"),
        pmod(xxhash64(col("vec_id")), lit(b)).cast("int").as("task"))
    // shuffle_hash for the same reason as Similarity.exactPairs: the
    // corpus side carries ~N/B rows PER task value, and sort-merge's
    // per-key buffered-group spill threshold (4096 rows) turns blocks
    // past it into a disk-rescans-per-probe cliff; hash-building the
    // block is bounded and value-independent
    lhs.join(rhs.hint("shuffle_hash"), Seq("task"))
      .filter(dotD(col("vp"), col("vi")) / (col("np_") * col("ni")) >=
        Similarity.pairThreshold)
      .select(col("pid").as("vec_id"))
      .distinct()
  }
}
