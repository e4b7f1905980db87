package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Maintenance, StoreKernel, StoreMeta, Tables}

/** One row of `<indexDir>/meta` — corpus identity + the dial values
  * the persisted artifacts were built under (see
  * [[IndexStore.ensure]]'s freshness contract). Top-level, not nested
  * in the object: nested-in-object case classes break the codegen'd
  * product encoder (Janino cannot resolve the accessor). */
private[operators] final case class AnnIndexMeta(version: Int, n: Long,
  fp: Long, nl: Int, res_norm: Double, appended_n: Long, subspaces: Int,
  pq_codes: Int, lloyd_iters: Int, pq_lloyd_iters: Int,
  app_res_sum: Double) extends StoreMeta

/** Persisted build-once / query-many ANN index (the FAISS
  * train/add/search lifecycle, re-expressed as parquet tables + joins).
  *
  * [[Similarity.q65KnnIvfPq]] and [[Similarity.q68KnnIvfPqRes]] are
  * correct but train their coarse quantizer and PQ codebooks inside
  * every query — ~80% of their wall-clock is index BUILD that a real
  * deployment pays once and amortizes over every query thereafter.
  * This store is that seam:
  *
  *  - [[build]] trains the IVF×PQ artifacts exactly once — the SAME
  *    pipeline q65/q68 run in-query ([[Similarity.kmeansCentroids]],
  *    [[Similarity.pqCodebook]], [[Similarity.pqAssign]],
  *    [[Similarity.residualSubVectors]] — one definition, so the
  *    persisted index can never drift from the in-query one) — and
  *    writes them as parquet tables:
  *      `centroids`  (cell, cv, cn)            — nlistFor(N) rows
  *      `codebook`   (sub, code, cv, cn)       — 8×16 rows (raw PQ)
  *      `codes`      (vec_id, nrm, sub, code)  — 8 rows/vector,
  *                   partitioned BY CELL on disk
  *      `rcodebook`  (sub, code, cv, cn)       — residual PQ
  *      `rcodes`     (vec_id, sub, code)       — partitioned by cell
  *      `meta`       one row: corpus fingerprint + the dial values the
  *                   artifacts were built under
  *    The codes tables are `partitionBy("cell")`: a query touches only
  *    its probed cells, so at 100 TB the scan reads the probed
  *    partitions' files — the on-disk analogue of the probed-cell-only
  *    join, and dynamic partition pruning keeps it true in-plan.
  *  - [[q69KnnIvfPqIdx]] / [[q70KnnIvfPqResIdx]] answer from the
  *    PERSISTED tables only — no Lloyd rounds, no N-row training scan;
  *    the corpus is touched just for the bounded query batch and the
  *    shortlist re-rank. Both are BIT-IDENTICAL to their in-query
  *    twins (q65/q68): the artifacts are the same doubles (parquet
  *    round-trips IEEE754 exactly) and the query side is the same
  *    expressions — IndexStoreSpec pins equality row for row.
  *  - [[appendBatch]] is the incremental-maintenance path: NEW vectors
  *    are assigned to the EXISTING cells/codebooks (one home-cell
  *    argmax, [[Similarity.homeCellsWithVec]], + two
  *    [[Similarity.pqAssign]] passes over the batch — cost ∝ batch, no
  *    retrain) and appended to the codes tables; a small batch is held
  *    on the driver between its plans. Replay-idempotent like the q59
  *    ingest: already indexed vec_ids are anti-joined out, so a
  *    crashed-and-replayed append never double-inserts. The returned
  *    STALENESS metric (mean residual norm of the batch vs the
  *    build-time baseline stored in `meta`) is the retrain signal:
  *    residual norm is exactly what the coarse quantizer failed to
  *    express, so a drifting corpus shows up as batches whose residuals
  *    grow past the baseline (≥ ~1.5× says the cells no longer describe
  *    the data; rebuild).
  *
  * Freshness contract: [[ensure]] validates the persisted index
  * against the CURRENT corpus (order-independent xor fingerprint over
  * the indexable rows — one scan, no second count) and against the
  * CURRENT dial values (nlistFor/pq geometry/Lloyd rounds — a dial
  * change invalidates the artifacts it shaped), rebuilding on any
  * mismatch. An algorithm change that keeps all dials equal must bump
  * [[formatVersion]] — the one manual freshness obligation, called out
  * here because a stale-but-plausible index is the failure mode this
  * store must never serve. Fingerprints xor-compose, so an index
  * maintained by [[appendBatch]] matches `ensure` of the grown corpus
  * exactly — incremental maintenance and freshness validation agree.
  * A persisted validation token (file-listing digest, [[StoreKernel]])
  * lets repeated stateless ensures of an UNCHANGED corpus+index skip
  * the O(corpus) scan; any observable on-disk change falls back to the
  * full validation, so the token changes the cost of the unchanged
  * path, never the rebuild guarantees.
  *
  * Crash safety: [[build]] assembles the whole index in a
  * per-attempt-unique shadow directory and promotes it live with the
  * same two-rename pattern as [[graft.sources.ParquetSink.swapInto]]
  * — a crash at any instant leaves a complete index on disk (live or
  * at `__old`), never a half-built one, and two builders (even in
  * different JVMs, which share no lock) can never interleave parquet
  * output inside one shadow. [[appendBatch]] appends codes first,
  * rcodes second, and swaps `meta` last: a crash in either window
  * leaves appended rows invisible to the fingerprint, which the next
  * `ensure` detects as a mismatch and repairs by rebuild, and the
  * anti-join keeps a replayed append from double-inserting. The
  * codes→rcodes window additionally leaves the index TORN (q69 serves
  * the rows, q70 skips them); a replayed append detects exactly that
  * state, re-derives the missing rcodes rows (reported as
  * `AppendStats.repaired`), and refuses loudly when the torn ids are
  * not in its batch and so cannot be repaired locally. The
  * rcodes→meta window converges by REBUILD, not incremental repair —
  * deliberately: a replayed append sees its rows in both tables and
  * no-ops, and it must NOT "complete" the missing meta write, because
  * an uncounted batch is indistinguishable from a replayed COMPLETED
  * batch when a DIFFERENT append crashed uncounted (xoring the wrong
  * batch's fingerprint into meta would corrupt it — xor REMOVES an
  * already-counted batch). The state is always detected: before the
  * ingest's corpus append the count-vs-meta.n probe leg sees it;
  * after, the corpus fingerprint mismatches.
  *
  * Concurrency contract (same as [[graft.sources.Maintenance]]):
  * REBUILDS AND APPENDS RUN QUIESCED — no q69/q70 mid-flight.
  * In-JVM callers serialize on [[ensure]]'s lock, but the lock covers
  * validation+build, not a reader's subsequent query execution: a
  * rebuild's swap deletes the old directory while a concurrent
  * reader's tasks may still be scanning it (loud FileNotFoundException
  * task failure, never silent wrong data — the reader re-runs).
  * Steady-state concurrent QUERIES (the common case — no corpus
  * change, ensure validates and serves) never swap and are safe at
  * any parallelism.
  */
object IndexStore {

  /** Bump when the index ALGORITHM changes in a way the dial columns
    * of `meta` cannot see (e.g. a different Lloyd update rule).
    * v2: the indexable predicate tightened from nrm > 0 to
    * [[Similarity.validNorm]] (finite, positive) — a corpus holding a
    * NaN/Inf-component vector fingerprints differently, so a v1 index
    * over one must rebuild rather than validate.
    * v3: [[Similarity.kmeansCentroids]] trains sample-bound
    * (trainPerCell·nl cap) — below the cap (all gate scales) centroids
    * are bit-identical to v2, but a big-corpus v2 index would diverge
    * from the in-query twin, so force the rebuild. */
  val formatVersion = 3

  /** Advisory retrain threshold for [[AppendStats.drift]]. */
  val driftRetrainAt = 1.5

  final case class BuildInfo(dir: String, n: Long, nl: Int,
    builtNow: Boolean, buildSec: Double)

  /** Rebuild policy for [[ensure]]: beyond freshness (corpus identity +
    * dials), rebuild when the appends since the last build say the
    * trained artifacts no longer describe the data —
    *  - `driftAt`: accumulated drift (appended-row-weighted mean
    *    residual norm ÷ build baseline, [[accumulatedDrift]]) at or
    *    above this ratio → the coarse cells have stopped expressing
    *    the corpus; rebuild.
    *  - `appendFractionAt`: appended_n / n at or above this fraction →
    *    even drift-free growth eventually deserves a retrain (cells
    *    sized for the build-time corpus, codebooks that never saw half
    *    the data); rebuild.
    * A rebuild resets both counters (fresh baseline, appended_n = 0),
    * so a policy violation triggers exactly ONE rebuild, not one per
    * ensure.
    *  - `compactAtFilesPerCell`: LAYOUT policy, orthogonal to the two
    *    rebuild axes — every [[appendBatch]] lands a part-file sliver
    *    into each touched `cell=` partition, and a long-lived streaming
    *    ingest accumulates them exactly where the DPP-pruned q69/q70
    *    read path opens files. When any single cell's part-file count
    *    reaches this threshold, ensure runs
    *    [[graft.sources.Maintenance.compactAnnIndex]] (a
    *    content-preserving rewrite to one file per cell — results
    *    bit-identical, meta untouched, NOT a rebuild) so nobody has to
    *    remember to call it. The probe is a driver-side directory
    *    glob, no Spark job.
    *  - `foldAtTombstones`: DELETION-layout policy, the tombstone
    *    mirror of the sliver axis (VERDICT r15 #5) — every
    *    [[deleteBatch]] leaves pending tombstones that tombstone-aware
    *    serving anti-joins per query (~2.2 s over post-fold at 128k,
    *    DELETE_SCALE_r15) until a compaction folds them. When the
    *    sidecar's pending count reaches this threshold, ensure runs
    *    the same content-preserving [[graft.sources.Maintenance
    *    .compactAnnIndex]] (which folds tombstones physically and
    *    clears the sidecar — results bit-identical, the fold IS what
    *    compaction already does), so a delete-heavy deployment
    *    converges on cadence without a manual maintenance call. The
    *    tombstone-free common case pays one driver-side exists()
    *    probe, no Spark job. */
  final case class RebuildPolicy(driftAt: Double = driftRetrainAt,
      appendFractionAt: Double = 0.5,
      compactAtFilesPerCell: Int = 16,
      foldAtTombstones: Long = Long.MaxValue)

  /** @param appended rows actually indexed (0 on a pure replay)
    * @param repaired rows whose rcodes were re-derived because a prior
    *                 append crashed between the codes and rcodes writes
    *                 (torn index — q70 was silently skipping them); > 0
    *                 tells the caller a crash window was healed
    * @param drift    batch mean residual norm ÷ build baseline — None
    *                 when nothing was appended or repaired. > 1 means
    *                 the batch sits farther from the trained centroids
    *                 than the build corpus did; ≥ [[driftRetrainAt]]
    *                 advises a rebuild. */
  final case class AppendStats(appended: Long, repaired: Long,
      drift: Option[Double]) {
    def retrainAdvised: Boolean = drift.exists(_ >= driftRetrainAt)
  }

  /** Stable on-disk home of the index for one corpus dir (same
    * engine-managed-storage seam as [[graft.operators.Layout]]). */
  def dirFor(spark: SparkSession, sfDir: String): String =
    graft.Scratch.stableDir(spark, "annidx", sfDir)

  // --- corpus identity -------------------------------------------------------

  /** `raw`'s vec_id and embedding with the columns
    * [[Similarity.validNorm]] reads: `v` (the embedding as doubles) and
    * its norm `nrm`. */
  private def normed(raw: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.dotD
    val v = col("embedding").cast("array<double>")
    raw.select(col("vec_id"), col("embedding"), v.as("v"),
      sqrt(dotD(v, v)).as("nrm"))
  }

  /** The indexable rows of `raw` — the one definition: [[normed]]
    * filtered by [[Similarity.validNorm]] (positive, finite norm, full
    * length), the rows q65/q68 train on, [[countAndFingerprint]]
    * counts, [[appendBatch]] and [[IngestScreen.appendLists]] append
    * and a delete's tombstone marks `valid`. Zero/NaN/Inf-norm and
    * short rows are invisible to the index and so must be invisible to
    * its fingerprint, or a replayed append containing one would xor it
    * in twice (= out). */
  private[operators] def indexable(raw: DataFrame): DataFrame =
    normed(raw).filter(Similarity.validNorm)

  /** (indexable row count, xor fingerprint) in ONE corpus scan. A
    * duplicate-keyed corpus is refused loudly (same discipline as
    * appendBatch): proceeding would set meta.n to the ROW count while
    * codes hold DISTINCT ids, failing the integrity probe's count leg
    * on every ensure — an infinite silent rebuild loop instead of one
    * actionable error. */
  private def countAndFingerprint(raw: DataFrame): (Long, Long) =
    StoreKernel.keyedFingerprint(indexable(raw), "vec_id", "embedding")(
      d => s"embeddings corpus contains $d duplicate vec_id rows — " +
        "vec_id is the index key; deduplicate the corpus before indexing")

  // --- meta ------------------------------------------------------------------

  private def meta(spark: SparkSession, dir: String) =
    StoreKernel.readMeta[AnnIndexMeta](spark, dir, "annidx")

  /** Were `m`'s artifacts shaped by the CURRENT format + dial values?
    * Shared by [[ensure]]'s checks and [[appendBatch]]'s guard: encoding a
    * batch against a codebook built under different dials (say,
    * pqSubspaces 8→16 — the joins would silently drop half the
    * subvectors) must be refused, not "succeed" and be discarded by
    * the next ensure's rebuild. */
  private def dialsMatch(m: AnnIndexMeta): Boolean =
    m.version == formatVersion &&
      m.subspaces == Similarity.pqSubspaces &&
      m.pq_codes == Similarity.pqCodes &&
      m.lloyd_iters == Similarity.lloydIters &&
      m.pq_lloyd_iters == Similarity.pqLloydIters

  /** Accumulated drift of every append since the last build:
    * appended-row-weighted mean residual norm ÷ build baseline (the
    * integral of the per-batch [[AppendStats.drift]] readings). None
    * until something was appended. */
  private[operators] def accumulatedDrift(m: AnnIndexMeta): Option[Double] =
    if (m.appended_n > 0 && m.res_norm > 0)
      Some((m.app_res_sum / m.appended_n) / m.res_norm)
    else None

  private def policyViolated(m: AnnIndexMeta, p: RebuildPolicy): Boolean =
    accumulatedDrift(m).exists(_ >= p.driftAt) ||
      (m.n > 0 && m.appended_n.toDouble / m.n >= p.appendFractionAt)

  // --- validation token ------------------------------------------------------

  /** This store's [[StoreKernel.Store]]: only `valid` tombstones fold
    * (invalid-norm rows were never fingerprinted); the digest folds in
    * the format version and dials. */
  private[operators] def kernelStore(sfDir: String, dir: String)
      : StoreKernel.Store[AnnIndexMeta] =
    StoreKernel.Store("annidx", dir, sfDir, s"$sfDir/embeddings.parquet",
      "vec_id", Some("valid"),
      s"v$formatVersion|${Similarity.pqSubspaces}|" +
        s"${Similarity.pqCodes}|${Similarity.lloydIters}|" +
        s"${Similarity.pqLloydIters}",
      f => AnnIndexMeta(f(0).toInt, f(1).toLong, f(2).toLong, f(3).toInt,
        f(4).toDouble, f(5).toLong, f(6).toInt, f(7).toInt, f(8).toInt,
        f(9).toInt, f(10).toDouble))

  /** The tombstone sidecar at `dir`, read on the driver
    * ([[StoreKernel.tombs]] under [[kernelStore]]'s key and valid
    * column). */
  private[graft] def tombsOf(spark: SparkSession,
      dir: String): StoreKernel.Tombs =
    StoreKernel.tombs(spark, dir, "vec_id", Some("valid"))

  /** Are the codes tables present and consistent with `m`? Catches the
    * three states the corpus fingerprint CANNOT see, because the rows
    * involved are in neither the corpus nor `meta`: (a) a
    * compaction/swap crash that left a codes dir missing entirely
    * (meta still current → without this probe ensure would serve
    * FileNotFoundException forever), (b) a torn append whose rows
    * never reached the corpus (ghost codes rows, rcodes behind —
    * appendBatch refuses with "run ensure()", so ensure must actually
    * see the tear to make that recovery true), and (c) ghost rows in
    * BOTH tables — an index-first ingest that crashed between the
    * rcodes append and the meta write and never replayed leaves codes
    * and rcodes AGREEING with each other while both carry rows meta
    * never counted; those ghosts occupy ADC shortlist slots (the
    * re-rank join drops them, silently displacing real candidates and
    * breaking q69/q65 twin identity). The invariant every healthy
    * state satisfies — build writes exactly meta.n ids, appendBatch
    * bumps meta.n by exactly the ids it appended, meta written last —
    * is `codes distinct ids == rcodes distinct ids == meta.n`; each
    * crash window breaks one equality. Cost: one distinct-count job
    * over the 3-int-column codes tables — small next to the corpus
    * fingerprint scan ensure already pays (which has just validated
    * meta.n against the live corpus, making it the trusted side). */
  private def tablesIntact(spark: SparkSession, dir: String,
      m: AnnIndexMeta): Boolean =
    try {
      // ONE job (tagged union → two distinct counts), not two: the
      // probe runs on every stateless q69/q70 call, and per-job
      // scheduling overhead is what it costs at small scale
      def tableDirExists(t: String): Boolean = {
        val (fs, p) = graft.Scratch.fs(spark, s"$dir/$t")
        fs.exists(p)
      }
      def ids(t: String, tag: Boolean) =
        try withDeltaOf(spark, dir, t)(identity)
          .select(col("vec_id"), lit(tag).as("c"))
        catch {
          case scala.util.control.NonFatal(_)
              if m.n == 0 && tableDirExists(t) =>
            // an n=0 build legitimately writes NO part files under the
            // partitioned dir (nothing to index), which parquet cannot
            // infer a schema from — that is an intact empty table, not
            // damage (without this branch an empty corpus would rebuild
            // on every ensure). Guarded narrowly: the dir must EXIST
            // (a swap crash that deleted it entirely is damage even at
            // n=0 — fall through to the outer catch and rebuild) and
            // the error must be non-fatal. A READABLE table with ghost
            // rows still fails the count-vs-meta.n leg.
            spark.range(0).select(col("id").as("vec_id"), lit(tag).as("c"))
        }
      val r = ids("codes", tag = true)
        .unionByName(ids("rcodes", tag = false))
        .agg(countDistinct(when(col("c"), col("vec_id"))),
          countDistinct(when(!col("c"), col("vec_id"))))
        .head()
      r.getLong(0) == r.getLong(1) && r.getLong(0) == m.n
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[annidx] codes tables unreadable at $dir " +
        s"(${e.getMessage}); rebuilding")
      false
    }

  // --- build -----------------------------------------------------------------

  /** Mean residual norm over `rsv` (vec_id, …, sub, sv) — the
    * staleness BASELINE at build time and the batch-side measurement
    * in [[appendBatch]]. Fixed-point sums (the repo-wide float
    * aggregation discipline) so the stored baseline is bit-stable at
    * any parallelism. */
  private def meanResNorm(rsv: DataFrame): Double = {
    val r = rsv
      .groupBy(col("vec_id"))
      .agg(sum(subNormFx(col("sv"))).as("s"))
      .agg(sum(normFx(col("s"))), count(lit(1)))
      .head()
    fxMean(if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** [[meanResNorm]] of the residuals of `held`, a local relation of
    * batch rows carrying (v, nrm, cv): each vector's norm term is one
    * projection over its [[Similarity.residualSub]]s, which the
    * optimizer evaluates over the local rows on the driver — no Spark
    * job — and sums to the same fixed-point terms as the aggregate. */
  private def heldResNorm(held: DataFrame): Double = {
    val terms = held.select(normFx((0 until Similarity.pqSubspaces)
        .map(s => subNormFx(Similarity.residualSub(s))).reduce(_ + _)))
      .collect().map(_.getLong(0))
    fxMean(terms.sum, terms.length)
  }

  /** A residual subvector's squared norm in fixed point (1e-12). */
  private def subNormFx(sv: Column): Column = {
    import graft.functions.VectorFunctions.dotD
    floor(dotD(sv, sv) * 1e12).cast("long")
  }

  /** A vector's residual norm in fixed point (1e-9), from the sum of its
    * subvectors' [[subNormFx]]. */
  private def normFx(sumFx: Column): Column =
    floor(sqrt(sumFx.cast("double") / 1e12) * 1e9).cast("long")

  /** The mean of `n` vectors' [[normFx]] terms summing to `sumFx`. */
  private def fxMean(sumFx: Long, n: Long): Double =
    if (n == 0) 0.0 else sumFx.toDouble / 1e9 / n

  /** Train the full IVF×PQ(+residual) index for `sfDir`'s embeddings
    * into `dir` through a shadow directory + swap. The training calls
    * are LITERALLY q65/q68's build stages — see the object doc.
    * `knownIdentity` forwards (n, fp) when the caller (ensure's
    * rebuild path) has already scanned the corpus — without it every
    * rebuild would pay the identity scan twice back to back. */
  def build(spark: SparkSession, sfDir: String, dir: String,
      knownIdentity: Option[(Long, Long)] = None): BuildInfo =
    graft.sources.WriterLease.withWrite(spark, dir, "build") {
    val t0 = System.nanoTime()
    val raw = Tables.load(spark, sfDir, "embeddings")
    val (n, fp) = knownIdentity.getOrElse(countAndFingerprint(raw))
    val nl = Similarity.nlistFor(n)
    val e = Similarity.prepped(spark, sfDir).filter(Similarity.validNorm)

    // the raw-vector PQ codebook chain is independent of the IVF
    // centroid chain — overlap the two blocking Lloyd sequences on a
    // second driver thread (r18, guide §2.6; identical computations,
    // identical artifacts — q65's trainer does the same)
    val sv = Similarity.subVectors(e)
    val cbookT = Similarity.overlapped(Similarity.pqCodebook(sv))
    // r19: home-cell argmax with the vector riding as payload
    // (Similarity.homeCellsWithVec) — one aggregate serves BOTH
    // downstream consumers (cell-carrying codes, residual derivation),
    // where the old shape ran the homeCells aggregate once per
    // consumer (home was never materialized) and then paid an N⋈N
    // e⋈home join for the residuals plus a codes⋈home join for the
    // codes. Materialized because two branches consume it. guarded:
    // an IVF-chain failure cancels the codebook chain (ADVICE r18).
    val (cents, eh) = cbookT.guarded {
      val c = Similarity.kmeansCentroids(e, nl)
      (c, graft.Materialize(Similarity.homeCellsWithVec(e, c)))
    }
    val cbook = cbookT()
    val codes = Similarity.pqAssign(Similarity.subVectorsWithCell(eh),
        cbook)
      .select(col("vec_id"), col("nrm"), col("sub"), col("code"),
        col("cell"))
    val rsv = graft.Materialize(
      Similarity.residualSubVectors(eh, cents))
    // the residual-norm baseline only needs rsv — overlap its two
    // aggregate jobs with the residual codebook's Lloyd chain
    val baselineT = Similarity.overlapped(meanResNorm(rsv))
    // guarded: a residual-codebook failure cancels the baseline jobs
    val (rcbook, rcodes) = baselineT.guarded {
      val rcb = Similarity.pqCodebook(rsv)
      (rcb, Similarity.pqAssign(rsv, rcb)
        .select(col("vec_id"), col("cell"), col("sub"), col("code")))
    }
    val baseline = baselineT()
    val shadow = StoreKernel.buildShadow(spark, dir)
    cents.coalesce(1).write.parquet(s"$shadow/centroids")
    cbook.coalesce(1).write.parquet(s"$shadow/codebook")
    rcbook.coalesce(1).write.parquet(s"$shadow/rcodebook")
    // one file per cell partition: the probed-cell read path opens
    // exactly nprobe files per query batch instead of every task's
    // per-cell slivers. An n=0 build writes no cell file — an intact
    // empty table (see tablesIntact), so the zero-row answer is moot
    Maintenance.writeCells(spark, codes, s"$shadow/codes", nl)
    Maintenance.writeCells(spark, rcodes, s"$shadow/rcodes", nl)
    val m = AnnIndexMeta(formatVersion, n, fp, nl, baseline, 0L,
      Similarity.pqSubspaces, Similarity.pqCodes,
      Similarity.lloydIters, Similarity.pqLloydIters,
      app_res_sum = 0.0)
    StoreKernel.promoteBuild(spark, kernelStore(sfDir, dir), shadow, m)
    BuildInfo(dir, n, nl, builtNow = true,
      buildSec = (System.nanoTime() - t0) / 1e9)
    }

  /** Serve-ready index dir for `sfDir`: reuse the persisted one when
    * it is current (corpus identity, dials, geometry, the
    * [[tablesIntact]] probe), build otherwise — the
    * [[StoreKernel.ensure]] lifecycle. In-JVM callers serialize on the
    * store's monitor (Verify dumps queries from several threads; two
    * concurrent builds of the same dir would race the swap).
    *
    * Cost note: a FULL validation is one 2-column corpus scan (vec_id
    * + embedding feed the fingerprint) plus the [[tablesIntact]] probe
    * (one distinct-count job over the int-column codes tables) — the
    * price of NEVER serving a stale OR structurally damaged index
    * without any session state. The kernel's validation token skips
    * exactly those two Spark jobs while nothing observable on disk
    * moved (the in-memory checks — dials, format, nlist geometry, the
    * rebuild policy — still run every call). q69/q70 (stateless driver
    * contract) ride this token; a session-holding caller can still
    * keep the returned `info` and skip ensure entirely between
    * ingests.
    *
    * `policy`: beyond freshness, a [[RebuildPolicy]] also rebuilds a
    * CURRENT index whose accumulated append drift or append fraction
    * crossed the policy's thresholds — the deployment form of
    * [[AppendStats.retrainAdvised]] (advice a stateless caller might
    * never act on becomes a guarantee). The rebuild resets both
    * counters, so one violation = one rebuild. Its
    * `compactAtFilesPerCell` axis triggers in-place small-file
    * compaction (never a rebuild) when append slivers pile up — see
    * [[RebuildPolicy]]. */
  def ensure(spark: SparkSession, sfDir: String,
      policy: Option[RebuildPolicy] = None): BuildInfo = {
    val dir = dirFor(spark, sfDir)
    // the kernel compares the corpus identity against meta MINUS the
    // pending valid tombstones (see the deletion section); the store
    // adds its dials, geometry and policy, and the codes-table probe
    val (info, pending) = StoreKernel.ensure(spark, kernelStore(sfDir, dir))(
      // nlist on the EFFECTIVE corpus size — a delete (or append) that
      // crosses an nlistFor boundary makes a retrain the legitimate
      // answer, exactly the maintenance policy
      fastOk = (m, tombN) => dialsMatch(m) &&
        m.nl == Similarity.nlistFor(m.n - tombN) &&
        !policy.exists(policyViolated(m, _)),
      identity = countAndFingerprint,
      intact = (m, _) => tablesIntact(spark, dir, m),
      // served size is the EFFECTIVE corpus — shortlist sizing and the
      // n=0 delegate then match what a rebuilt-on-survivors index
      // would report; the pending count rides along as the policy's
      // tombstone hint
      serve = (m, tombN) => (BuildInfo(dir, m.n - tombN, m.nl,
        builtNow = false, buildSec = 0.0), tombN),
      build = known => (build(spark, sfDir, dir, knownIdentity = known), 0L))
    // layout-policy compaction AFTER the monitor releases
    // (StoreKernel.compactWhenDue). Content-preserving, so info
    // (computed pre-compaction) stays valid: effective n, nl and the
    // dir don't move.
    if (!info.builtNow)
      compactIfPolicied(spark, sfDir, info.dir, policy, pending)
    info
  }

  /** [[RebuildPolicy.compactAtFilesPerCell]] + [[RebuildPolicy
    * .foldAtTombstones]] enforcement through [[StoreKernel
    * .compactWhenDue]]: glob the two codes tables' `cell=` dirs and
    * count the pending tombstones (driver-side, no Spark job), and run
    * [[graft.sources.Maintenance.compactAnnIndex]] at a threshold,
    * re-stamping the token the ensure just vouched for. The cheap probe
    * takes its pending count from `tombHint` — the valid tombN the
    * ensure just validated or read from its token — instead of reading
    * the sidecar again; a delete landing in between is seen by the next
    * ensure. The in-lease re-probe reads the sidecar and hands it on to
    * the compaction's id drop and meta fold: deleteBatch takes the same
    * lease, so the sidecar cannot change in between. */
  private def compactIfPolicied(spark: SparkSession, sfDir: String,
      dir: String, policy: Option[RebuildPolicy], tombHint: Long): Unit = {
    // the global monitor would be taken before the lease as well
    require(policy.isEmpty || !Thread.holdsLock(IndexStore),
      "policied ensure()/compactIfPolicied must not be called while " +
        "holding the IndexStore monitor — lease-then-monitor is the " +
        "required order (see StoreKernel.mutate)")
    policy.foreach { p =>
      // the pending tombstone count when a threshold is reached
      def triggered(tombN: Long): Option[Long] = {
        val worst =
          if (p.compactAtFilesPerCell == Int.MaxValue) Nil
          else Seq("codes", "rcodes").flatMap { t =>
            // current generation only — retired copies are not layout
            val st = Maintenance.cellFiles(spark, s"$dir/$t")
            // the delta buffer counts against the same threshold:
            // every reader scans ALL delta files unpruned, so an
            // unbounded delta is the new form of the sliver problem
            // the policy exists for
            val deltaN = deltaFileNames(spark, dir, t).size
            st.groupBy(_.getPath.getParent).values.map(_.length) ++
              (if (deltaN > 0) Seq(deltaN) else Nil)
          }
        val pendingTombs =
          if (p.foldAtTombstones == Long.MaxValue) 0L else tombN
        Option.when((worst.nonEmpty &&
            worst.max >= p.compactAtFilesPerCell) ||
          pendingTombs >= p.foldAtTombstones)(pendingTombs)
      }
      StoreKernel.compactWhenDue(spark, dir)(triggered(tombHint).nonEmpty) {
        val tombs = tombsOf(spark, dir)
        triggered(tombs.validN).map((tombs, _))
      } { case (tombs, pendingTombs) =>
        StoreKernel.preserving(spark, kernelStore(sfDir, dir)) {
          val (before, after) =
            Maintenance.compactAnnIndex(spark, dir, Some(tombs))
          System.err.println(s"[annidx] policy compaction at $dir: " +
            s"$before part files -> $after" +
            (if (pendingTombs >= p.foldAtTombstones)
              s" (folded $pendingTombs pending tombstones)" else ""))
        }
      }
    }
  }

  /** [[BuildInfo]] from the persisted meta ALONE — NO freshness
    * validation and no rebuild, for callers that own freshness
    * themselves (the streaming ingest sinks: they are the only writer
    * of both corpus and index, so the meta row is authoritative
    * between their own appends). A stateless caller must use
    * [[ensure]] instead — meta alone cannot see a changed corpus, and
    * an n that drifted past its built nl would never retrain here
    * (that is [[RebuildPolicy]]'s job on the maintained path). None
    * when no readable index exists. */
  def infoFromMeta(spark: SparkSession, sfDir: String): Option[BuildInfo] = {
    val dir = dirFor(spark, sfDir)
    meta(spark, dir).map { m =>
      // pending tombstones fold here exactly as in ensure's serve:
      // info.n is the EFFECTIVE (survivor) size — shortlist sizing and
      // the n==0 delegate branches must agree between the two info
      // sources (a driver-side sidecar read, no Spark job)
      BuildInfo(dir, m.n - tombsOf(spark, dir).validN, m.nl,
        builtNow = false, buildSec = 0.0)
    }
  }

  /** Rows added by [[appendBatch]] since the last full build (0 = pure
    * build; None = no readable meta). Verify's twin-identity gate
    * reads this: bit-identity with the in-query twin is promised only
    * for a PURE build — an append-maintained index legitimately serves
    * the pre-append centroids/codebooks (that amortization is the
    * point) and is gated by recall floors instead. */
  def appendedRows(spark: SparkSession, dir: String): Option[Long] =
    appendState(spark, dir).map(_._1)

  /** (appended_n, n) from meta. Verify's twin-exemption reads BOTH so
    * it can refuse an implausible self-report: legit state always has
    * 0 ≤ appended_n ≤ n (n counts the appended rows too), so meta
    * claiming more appends than indexed rows is corruption, and the
    * identity gate must not stand down for it. */
  def appendState(spark: SparkSession, dir: String): Option[(Long, Long)] =
    try meta(spark, dir).map(m => (m.appended_n, m.n))
    catch { case scala.util.control.NonFatal(_) => None }

  // --- incremental maintenance ----------------------------------------------

  /** Index `batch` (vec_id, embedding, …) into the EXISTING artifacts
    * at `dir`: assign to the trained cells and codebooks (cost ∝
    * batch) and append — no retrain. See the object doc for the
    * idempotence, crash and staleness contracts.
    *
    * RE-KEY CONTRACT: `vec_id` is the key, and a re-sent id must carry
    * the SAME embedding — this is a replay no-op, not an update API.
    * A re-sent id whose changed content keeps its home cell is
    * REFUSED loudly (the stored codes/norm are re-checked against the
    * batch whenever a batch id is already present — see the guard
    * below); one whose content MOVED its home cell is invisible to the
    * cell-pruned membership scan and double-inserts, which the next
    * ensure's integrity probe (distinct ids vs meta.n) detects and
    * heals by rebuild — corrupted serving is bounded by the ensure
    * cadence, never permanent. Both ingest sinks are immune (they
    * anti-join the corpus first, so a known id never reaches
    * appendBatch); direct callers must treat changed-content re-keys
    * as corrupted input.
    *
    * `corpusScreened = true` is the streaming-sink fast path: the
    * caller VOUCHES that (a) every batch id was anti-joined against
    * the index's corpus table before the call, (b) replays re-deliver
    * byte-identical batch content, in order (Structured Streaming's
    * checkpoint contract), and (c) this caller is the only index
    * writer. Under that vouch, the batch's identity (read off its
    * home-cell frame) plus a driver-side `_commit` marker compare
    * (exact file listings + a one-deep replay ledger) replace the
    * per-append torn-probe counts and membership scan — the remaining
    * O(index-file-count) terms (INGEST_r14). A batch whose admitted set is NOT replay-
    * deterministic (the screened sink: chains can admit more on
    * replay) must keep the default, measured path. */
  def appendBatch(spark: SparkSession, dir: String,
      batch: DataFrame, corpusScreened: Boolean = false): AppendStats =
    StoreKernel.mutate(spark, dir, "append") {
    val m = meta(spark, dir).getOrElse(throw new IllegalStateException(
      s"no index at $dir — build() before appendBatch()"))
    // the FULL dial/format guard, not just the version: encoding the
    // batch through pqAssign/subVectors against artifacts built under
    // different dials silently mis-joins (wrong subspace count drops
    // rows; wrong code count mis-scores) — the append would "succeed",
    // report a drift, and be thrown away by the next ensure's rebuild
    require(dialsMatch(m),
      s"index at $dir was built under different dials/format " +
        s"(meta: v${m.version}, sub=${m.subspaces}, codes=${m.pq_codes}, " +
        s"lloyd=${m.lloyd_iters}/${m.pq_lloyd_iters}) — rebuild before " +
        "appending")
    // an n=0 index has NO cells/codebooks — the home-cell argmax below
    // would silently drop every appended row (nothing written, meta.n
    // bumped anyway). Refuse loudly; the streaming sink's
    // rebuild-once-and-retry fallback turns this into one ensure()
    // against the by-then-non-empty corpus.
    require(m.n > 0,
      s"index at $dir was trained on an empty corpus (n=0) and has no " +
        "cells to assign into — run ensure() once the corpus has rows")
    // DELETION CONTRACT (see the deletion section)
    tombsOf(spark, dir).refuseReAdd(batch, dir, "a compaction folds " +
      "its tombstone (Maintenance.compactAnnIndex)")
    // Home cells FIRST, once (cost ∝ batch): the trained centroids never
    // change on an append, so a replayed row maps to the SAME cell —
    // which is what licenses the cell-pruned membership scan below.
    val b = new BatchFrame(indexable(batch),
      StoreKernel.readStore(spark, s"$dir/centroids"))
    // duplicate vec_ids WITHIN one batch would double-insert codes
    // rows (16 instead of 8 per vector — the ADC sum then
    // double-counts that vector's subspaces and corrupts the
    // shortlist ordering). vec_id is the key; refuse loudly like
    // every keyed sink here does.
    require(b.n == b.distinct, s"batch contains duplicate vec_id rows " +
      s"(${b.n - b.distinct} extras) — deduplicate on vec_id before " +
      "appendBatch")
    // Membership, and TORN-state detection. Codes are written before
    // rcodes, so after any crash:
    //   fresh = not in codes            → full append (codes + rcodes)
    //   torn  = in codes, not in rcodes → a prior append crashed
    //           between the two writes; q69 serves these vectors while
    //           q70 silently skips them. Re-derive and append ONLY
    //           their rcodes rows here (repair), and count them into
    //           meta — the crash happened before the meta write, so
    //           they were never fingerprinted.
    // HEALTHY-PATH SHORTCUT: rcodes ids ⊆ codes ids always (write
    // order), and both tables carry exactly `subspaces` rows per id —
    // so EQUAL row counts prove "no torn ids anywhere", and the
    // counts are read from the parquet footers of the served files on
    // the driver ([[storedRows]], no Spark job). The membership scan
    // then reads only the batch's own home-cell partitions, filtered by
    // the batch's cells (and, for a held batch, its ids) as literals.
    // The old shape paid TWO global distinct-id shuffles per batch — an
    // O(index) term that grew the measured per-batch exponent to 0.2
    // over the 2k→32k decade (INGEST_r13c.json) for what is almost
    // always a no-op probe. Count inequality falls back to the full
    // detection + repair, as does a codes count that disagrees with
    // meta.n (pre-existing inconsistency — never compound it through
    // the pruned path). (Re-sent ids: see the RE-KEY CONTRACT in the
    // scaladoc and the matched-id verify guard below.)
    def detect(): Classes = {
      val codesN = storedRows(spark, dir, "codes")
      if (codesN == storedRows(spark, dir, "rcodes") &&
          codesN == m.n * Similarity.pqSubspaces)
        b.classify(b.within(withDeltaOf(spark, dir, "codes")(
            _.filter(col("sub") === 0 && col("cell").isin(b.cells: _*)))
          .select(col("vec_id"))), None)
      else {
        val codesIds = withDeltaOf(spark, dir, "codes")(identity)
          .select(col("vec_id")).distinct()
        val rcodesIds = withDeltaOf(spark, dir, "rcodes")(identity)
          .select(col("vec_id")).distinct()
        val torn = graft.Materialize(
          codesIds.join(rcodesIds, Seq("vec_id"), "left_anti"))
        // a torn id OUTSIDE this batch cannot be repaired here (no
        // embedding to re-encode) — fail loudly so the caller
        // re-ensures instead of continuing to serve degraded q70
        // results. ensure's tablesIntact probe sees exactly this
        // state (distinct id counts differ between codes and
        // rcodes), so "run ensure()" genuinely rebuilds — even when
        // the torn rows reached neither the corpus nor meta and the
        // fingerprint alone would validate.
        if (!b.outside(torn).isEmpty)
          throw new IllegalStateException(
            s"index at $dir is torn (codes rows without rcodes rows, " +
              "for vec_ids outside this batch — a prior append " +
              "crashed between the two writes) and this batch cannot " +
              "repair it; run ensure() to rebuild before appending")
        b.classify(b.within(codesIds), Some(torn))
      }
    }
    // VOUCHED FAST PATH (corpusScreened=true, see the param doc): the
    // batch frame's identity + a driver-side marker compare replace
    // the torn-probe counts AND the membership scan. Any marker
    // divergence falls back to the measured path, which re-stamps.
    val vouched = corpusScreened && {
      if (b.n == 0) return AppendStats(0L, 0L, None)
      readCommit(spark, dir) match {
        case Some(c) if c.lastN == b.n && c.lastFp == b.fp =>
          // one-deep replay ledger hit: this exact batch already
          // committed (in-order replay re-delivers only the LAST
          // uncommitted batch, so one slot is enough) — its rows are
          // in the index whatever happened since; pure no-op
          return AppendStats(0L, 0L, None)
        case Some(c) =>
          // the index is byte-for-byte as the last committed append
          // left it (no torn debris anywhere), and the caller vouches
          // no batch id is already indexed ⇒ every valid row is fresh
          c.n == m.n && annListing(spark, dir, "codes") == c.codes &&
            annListing(spark, dir, "rcodes") == c.rcodes
        case None => false
      }
    }
    val Classes(pe, freshN, allN, matchedN, allFp, held) =
      if (vouched) b.allFresh else detect()
    val codebook = StoreKernel.readStore(spark, s"$dir/codebook")
    // RE-KEY GUARD (see scaladoc): a matched id claims to be a replay —
    // verify it against the stored rows in its current home cell (one
    // cell-pruned join; codes and norms are deterministic functions of
    // the content, so a true replay matches bit-for-bit, a changed
    // embedding that kept its cell mismatches on codes, and one that
    // MOVED cells finds no stored partner at all — all three non-replay
    // shapes are refused here instead of being silently dropped).
    if (matchedN > 0) {
      val mEnc = Similarity.pqAssign(
        Similarity.subVectors(pe.filter(col("cls") === "m")
          .select(col("vec_id"), col("v"), col("nrm"))), codebook)
        .select(col("vec_id"), col("nrm"), col("sub"), col("code"))
      val stored = withDeltaOf(spark, dir, "codes")(
        _.filter(col("cell").isin(b.cells: _*)))
        .select(col("vec_id"), col("sub"),
          col("code").as("stored_code"), col("nrm").as("stored_nrm"))
      // LEFT join, and a NULL stored partner is itself a refusal: a
      // matched id (it IS in the index — that's what matched means)
      // whose changed content moved its home cell joins zero rows in
      // the cell-pruned stored leg. Without the null check that id
      // would silently pass the guard; with it, "moved cell" and
      // "same cell, changed codes" both refuse loudly, and the pruned
      // (batch-cells-only) scan is preserved.
      val bad = mEnc.join(stored, Seq("vec_id", "sub"), "left")
        .filter(col("stored_code").isNull ||
          col("code") =!= col("stored_code") ||
          col("nrm") =!= col("stored_nrm"))
        .select(col("vec_id")).limit(1).count()
      if (bad > 0) throw new IllegalStateException(
        s"batch re-sends already-indexed vec_id(s) with CHANGED " +
          "embedding content — vec_id is the key and appendBatch is " +
          "not an update API (re-key contract); rebuild via ensure() " +
          "after correcting the corpus instead")
    }
    def stampCommit(newN: Long): Unit =
      writeCommit(spark, dir, AnnCommit(newN, b.n, b.fp,
        annListing(spark, dir, "codes"), annListing(spark, dir, "rcodes")))
    if (allN == 0) {
      // pure replay (every row matched): nothing written, but re-stamp
      // the marker so the NEXT vouched call recognizes the state (this
      // is the heal for a crash between a completed append's meta
      // write and its marker stamp)
      stampCommit(m.n)
      return AppendStats(0L, 0L, None)
    }
    val tornN = allN - freshN

    // rcodes carry fresh AND repaired rows (torn ids are already in
    // codes — re-deriving their cell/rcodes from the same centroids is
    // deterministic, so the repair matches what the crashed append
    // would have written); the residuals subtract the home centroid
    // the batch frame carried. A checkpointed batch's residuals feed two
    // aggregates, so they are checkpointed too.
    val rsv0 = Similarity.residualsAgainst(pe.filter(col("cls") =!= "m"))
    val rsv = if (held.isEmpty) graft.Materialize(rsv0) else rsv0
    // a held batch's mean residual norm is evaluated over its rows on
    // the driver
    val batchRes = held.fold(meanResNorm(rsv))(heldResNorm)
    // ONE delta file per table, not one file per touched cell= dir —
    // the √N per-append commit cost this buffer exists to remove; the
    // fold (compactAnnIndex) restores the cell layout on its cadence. A
    // held batch's plans already run in one partition, so its writer
    // is that partition; a checkpointed batch's aggregates keep their
    // parallelism ahead of the one writer.
    def oneFile(rows: DataFrame): DataFrame =
      if (held.isDefined) rows.coalesce(1) else rows.repartition(1)
    // fence before the first VISIBLE write (delta files are read by
    // every withDeltaOf serve path) — a fenced append aborts here
    // having written nothing at all
    graft.sources.WriterLease.verify(spark, dir)
    if (freshN > 0)
      // the home cell rides pqAssign's payload
      oneFile(Similarity.pqAssign(
          Similarity.subVectorsWithCell(pe.filter(col("cls") === "f")),
          codebook)
        .select(col("vec_id"), col("nrm"), col("sub"), col("code"),
          col("cell")))
        .write.mode(SaveMode.Append).parquet(deltaDirOf(dir, "codes"))
    oneFile(Similarity
        .pqAssign(rsv, StoreKernel.readStore(spark, s"$dir/rcodebook"))
        .select(col("vec_id"), col("cell"), col("sub"), col("code")))
      .write.mode(SaveMode.Append).parquet(deltaDirOf(dir, "rcodes"))
    StoreKernel.writeMeta(spark, dir, m.copy(n = m.n + allN, fp = m.fp ^ allFp,
      appended_n = m.appended_n + allN,
      app_res_sum = m.app_res_sum + batchRes * allN))
    // marker LAST (meta before marker): a crash here costs one
    // fallback-path append, never a wrong vouch
    stampCommit(m.n + allN)
    AppendStats(freshN, tornN,
      if (m.res_norm > 0) Some(batchRes / m.res_norm) else None)
  }

  /** Most rows [[appendBatch]] holds on the driver ([[BatchFrame]]).
    * Appends of 64-dim batches to a 300-vector index on 4 local cores,
    * held vs checkpointed, median seconds of 4 runs (2 local, 2 read
    * from parquet): 1k 2.1 vs 2.8, 2k 2.8 vs 3.5, 3k 3.0 vs 3.0, 5k 4.2
    * vs 3.4, 10k 8.2 vs 5.5, 30k 21 vs 7.7. A held batch's plans run in
    * one task, so past about 3k rows the checkpointed path's parallelism
    * wins; a held row keeps about 3.8 KB of driver heap (its vector and
    * home centroid, boxed). */
  private val heldBatchRows = 2000L

  /** Does [[appendBatch]] hold `pe0`, [[indexable]] batch rows, on the
    * driver ([[BatchFrame]])? Plan statistics only, no Spark job. */
  private[operators] def holds(pe0: DataFrame): Boolean =
    graft.checks.Validations.fitsOneTask(pe0) &&
      pe0.queryExecution.optimizedPlan.maxRows.forall(_ <= heldBatchRows)

  /** An append batch's rows by class — `f` fresh, `t` torn (repair its
    * rcodes), `m` matched (already indexed: a replay) — in column `cls`
    * beside [[BatchFrame]]'s columns, with the fresh count, the fresh +
    * torn count, the matched count and the xor of the fresh and torn
    * rows' fingerprint terms; for a held batch, also its fresh and torn
    * rows as a local relation ([[heldResNorm]]). */
  private final case class Classes(pe: DataFrame, freshN: Long,
      allN: Long, matchedN: Long, allFp: Long,
      held: Option[DataFrame] = None)

  /** An [[appendBatch]] batch, home-celled once: each indexable row of
    * `pe0` with its home cell, that cell's centroid `cv` and its
    * fingerprint term `h = xxhash64(vec_id, embedding)` — one argmax
    * aggregate ([[Similarity.homeCellsWithVec]] keyed by a row id, so a
    * duplicated vec_id keeps both its rows). Columns (vec_id, v, nrm,
    * h, cell, cv).
    *
    * A batch whose plan estimates at most [[graft.checks.Validations
    * .singleTaskProbeBytes]] and bounds its rows at most
    * [[heldBatchRows]] (a local relation knows its row count; a parquet
    * read does not, and its estimate, the size of its files, reaches
    * the bound at about 2.2k 64-dim float rows) is HELD: computed in
    * one task, collected once, and kept on the driver. Its count,
    * distinct ids, fingerprint and cells are read off the rows, its
    * membership is filtered by its ids as literals, its classes are set
    * on the driver, and every later plan runs over a one-partition
    * local relation of the rows — no exchange, no checkpoint. A larger batch is checkpointed
    * ([[graft.Materialize]]) and answers the same questions with
    * aggregates and joins. */
  private final class BatchFrame(pe0: DataFrame, cents: DataFrame) {
    private val small = holds(pe0)
    private val frame = Similarity.homeCellsWithVec(
        (if (small) pe0.coalesce(1) else pe0).select(col("vec_id"),
          col("v"), col("nrm"),
          xxhash64(col("vec_id"), col("embedding")).as("h"),
          monotonically_increasing_id().as("rid")),
        cents, key = "rid",
        payload = Seq("vec_id", "v", "nrm", "h", "cell", "cv"))
      .drop("rid")
    private val rows: Option[Seq[Row]] =
      Option.when(small)(frame.collect().toSeq)
    private lazy val checkpoint = graft.Materialize(frame)
    private def id(r: Row): Any = r.getAs[Any]("vec_id")
    private def h(r: Row): Long = r.getAs[Long]("h")
    private def xor(rs: Seq[Row]): Long = rs.foldLeft(0L)(_ ^ h(_))
    /** The held rows' distinct non-null vec_ids: what `countDistinct`
      * counts, and the literals of the membership filters (a null
      * literal would make `NOT IN` null for every id). */
    private val ids: Seq[Any] =
      rows.fold(Seq.empty[Any])(_.map(id).filter(_ != null).distinct)

    /** Classes of the held rows, each classed `cls`: the classed rows
      * as a one-partition local relation, the counts, and the fresh and
      * torn rows as a local relation. */
    private def held(classed: Seq[(Row, String)]): Classes = {
      val spark = pe0.sparkSession
      val kept = classed.collect { case (r, c) if c != "m" => r }
      Classes(spark.createDataFrame(
          classed.map { case (r, c) => Row.fromSeq(r.toSeq :+ c) }.asJava,
          frame.schema.add("cls", "string")).coalesce(1),
        classed.count(_._2 == "f").toLong, kept.size.toLong,
        (classed.size - kept.size).toLong, xor(kept),
        Some(spark.createDataFrame(kept.asJava, frame.schema)))
    }

    /** Rows, distinct non-null vec_ids, xor of `h`, distinct home
      * cells. */
    val (n, distinct, fp, cells): (Long, Long, Long, Seq[Any]) =
      rows match {
        case Some(rs) => (rs.size.toLong, ids.size.toLong,
          xor(rs), rs.map(_.getAs[Any]("cell")).distinct)
        case None =>
          val r = checkpoint.agg(count(lit(1)), countDistinct(col("vec_id")),
            expr("bit_xor(h)"), collect_set(col("cell"))).head()
          (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2),
            r.getSeq[Any](3))
      }

    /** The rows of `of` (a frame with vec_id) whose id is in / not in
      * this batch. */
    def within(of: DataFrame): DataFrame = restrict(of, keep = true)
    def outside(of: DataFrame): DataFrame = restrict(of, keep = false)
    private def restrict(of: DataFrame, keep: Boolean): DataFrame =
      rows match {
        case Some(_) =>
          val in = col("vec_id").isin(ids: _*)
          of.filter(if (keep) in else !in)
        case None => of.join(checkpoint.select(col("vec_id")),
          Seq("vec_id"), if (keep) "left_semi" else "left_anti")
      }

    /** Every row fresh: the vouched path's classes. */
    def allFresh: Classes = rows.fold(
      Classes(checkpoint.withColumn("cls", lit("f")), n, n, 0L, fp))(
      rs => held(rs.map((_, "f"))))

    /** Classes given `known`, the batch ids already in codes, and
      * `torn`, the ids in codes but not in rcodes (all of them in this
      * batch): torn first, then matched, else fresh. */
    def classify(known: DataFrame, torn: Option[DataFrame]): Classes =
      rows match {
        case Some(rs) =>
          def idSet(d: DataFrame) = d.collect().map(_.get(0)).toSet
          val (k, t) = (idSet(known), torn.fold(Set.empty[Any])(idSet))
          held(rs.map(r => (r,
            if (t(id(r))) "t" else if (k(id(r))) "m" else "f")))
        case None =>
          val f = checkpoint
          val tornPe = torn.fold(f.limit(0))(
            f.join(_, Seq("vec_id"), "left_semi"))
          val matchedPe = f.join(known, Seq("vec_id"), "left_semi")
          val pe = graft.Materialize(
            f.join(known, Seq("vec_id"), "left_anti")
              .withColumn("cls", lit("f"))
              .unionByName(tornPe.withColumn("cls", lit("t")))
              .unionByName(torn.fold(matchedPe)(matchedPe.join(_,
                Seq("vec_id"), "left_anti")).withColumn("cls", lit("m"))))
          val r = pe.agg(count(when(col("cls") === "f", lit(1))),
              count(when(col("cls") =!= "m", lit(1))),
              count(when(col("cls") === "m", lit(1))),
              expr("bit_xor(case when cls != 'm' then h end)"))
            .head()
          Classes(pe, r.getLong(0), r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) 0L else r.getLong(3))
      }
  }

  // --- query-only paths ------------------------------------------------------

  /** Query batch (vec_id < knnQueries) of the embeddings frame `raw` as
    * (vec_id, v, nrm) — the only corpus rows the query paths read
    * outside the final re-rank, which re-ranks against the same `raw`
    * (one corpus read per request). */
  private def queryVecs(raw: DataFrame,
      maxQuery: Long = Similarity.knnQueries): DataFrame =
    Similarity.prepped(raw)
      .filter(Similarity.validNorm && col("vec_id") < maxQuery)

  /** Disk partition columns come back as the inferred partition type;
    * pin `cell` to its written long so downstream joins/broadcasts see
    * the build-time schema. Generation-resolved: a compacted/folded
    * codes table serves its newest committed generation while retired
    * ones idle out their TTL (see [[graft.sources.Generations]]). */
  private[operators] def readCodes(spark: SparkSession, path: String): DataFrame =
    StoreKernel.readStore(spark,
      graft.sources.Generations.resolve(spark, path))
      .withColumn("cell", col("cell").cast("long"))

  // --- delta buffer (LSM L0 for the codes tables) ---------------------------
  //
  // appendBatch lands each batch's rows as ONE un-partitioned file per
  // table under `<table>_delta/` (cell rides as a DATA column), so the
  // per-append commit cost is O(1) files instead of one file per
  // touched `cell=` dir (~nlist ∝ √N — the measured per-batch residual
  // of INGEST_r13c/d). Every reader serves base ∪ delta through
  // [[withDeltaOf]]; the delta leg is small (bounded by the fold
  // cadence) and the base leg keeps its DPP-pruned plan — when the
  // delta is empty the returned plan is BYTE-IDENTICAL to the pre-delta
  // shape. [[graft.sources.Maintenance.compactAnnIndex]] FOLDS the
  // delta into the cell layout during its shadow rewrite, which commits
  // as a new retained GENERATION of the table ([[graft.sources
  // .Generations]] — in-flight scans keep their planned base files).
  // The absorbed delta files get the same reader-snapshot treatment:
  // they are NOT deleted at fold time (a scan that planned splits over
  // base ∪ delta would lose its delta files mid-read) — instead the
  // `_fold` sentinel written INTO the shadow (invisible to parquet — an
  // underscore file) records `name|foldMillis` per absorbed file, every
  // delta read EXCLUDES the sentinel-listed names (reads are
  // explicit-file-list, so retained absorbed files are never served
  // twice), and the physical delete happens once an entry's fold age
  // exceeds the Generations TTL ([[reapAbsorbedDelta]], piggybacked on
  // every delta listing). A crash at any point leaves either the old
  // generation live (sentinel unborn with the shadow — delta still
  // served) or the new one (sentinel in place — delta excluded): never
  // a doubled row, never a file pulled from under a planned scan
  // before the TTL.

  private[graft] def deltaDirOf(dir: String, table: String): String =
    s"$dir/${table}_delta"

  /** The `_fold` sentinel lives INSIDE the current generation of the
    * base table (stamped into the shadow pre-commit), so it commits
    * and retires atomically with the base it describes. */
  private def foldMarker(spark: SparkSession, dir: String,
      table: String): String =
    graft.sources.Generations.resolve(spark, s"$dir/$table") + "/_fold"

  /** Absorbed delta files of the CURRENT base generation:
    * name → foldMillis. Legacy (name-only) sentinel lines date from
    * the sentinel file's own mtime. Empty without a sentinel. */
  private[graft] def absorbedDelta(spark: SparkSession, dir: String,
      table: String): Map[String, Long] = {
    val (fs, mp) = graft.Scratch.fs(spark, foldMarker(spark, dir, table))
    if (!fs.exists(mp)) return Map.empty
    val fileTime =
      try fs.getFileStatus(mp).getModificationTime
      catch { case scala.util.control.NonFatal(_) =>
        System.currentTimeMillis() }
    val lines =
      try new String(graft.Scratch.readSmallFile(fs, mp), "UTF-8")
        .split('\n').map(_.trim).filter(_.nonEmpty)
      catch { case scala.util.control.NonFatal(_) => Array.empty[String] }
    lines.map { l =>
      l.split('|') match {
        case Array(n, at) if at.forall(_.isDigit) => (n, at.toLong)
        case _ => (l, fileTime)
      }
    }.toMap
  }

  /** Physically delete absorbed delta files whose fold age exceeds the
    * Generations TTL — no planned scan can still reference them under
    * the TTL contract. Idempotent, driver-side; entries for
    * already-gone files are inert (pruned at the next fold's
    * carry-forward). Called ONLY from lease-holding maintenance paths
    * (gcGenerations / compactAnnIndex via `deltaFileNames(reap=true)`)
    * — never from serve paths, which stay purely exclusion-based: a
    * READER may lack write permission on the store, and a delete from
    * an unfenced path would race the writer lease (ADVICE r17). Each
    * delete is individually NonFatal-guarded: a permission error or a
    * concurrent-reap race on one file must not fail the listing that
    * triggered it — the entry stays for the next maintenance pass. */
  private def reapAbsorbedDelta(spark: SparkSession, dir: String,
      table: String, absorbed: Map[String, Long]): Unit = {
    if (absorbed.isEmpty) return
    val cutoff = System.currentTimeMillis() -
      graft.sources.Generations.ttlMs(spark) -
      graft.sources.Generations.skewMs(spark)
    val dd = deltaDirOf(dir, table)
    absorbed.foreach { case (n, at) =>
      if (at < cutoff) {
        try {
          val (dfs, p) = graft.Scratch.fs(spark, s"$dd/$n")
          if (dfs.exists(p)) dfs.delete(p, false)
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] absorbed-delta reap of $dd/$n " +
            s"skipped: ${e.getMessage}")
        }
      }
    }
  }

  /** Stamp the fold sentinel into `shadowTableDir` (pre-commit):
    * `entries` = every delta file whose rows the shadow's base now
    * owns — the files this fold absorbed plus the still-on-disk
    * entries carried forward from the previous generation's sentinel. */
  private[graft] def stampFold(spark: SparkSession,
      shadowTableDir: String, entries: Map[String, Long]): Unit = {
    val (fs, p) = graft.Scratch.fs(spark, s"$shadowTableDir/_fold")
    val out = fs.create(p, true)
    try out.write(entries.toSeq.sorted.map { case (n, at) => s"$n|$at" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Data file names currently SERVED from a table's delta dir:
    * on-disk files minus the current generation's absorbed set (their
    * rows live in the base since the fold; the files stay until the
    * TTL). `reap = true` additionally deletes TTL-expired absorbed
    * files — pass it ONLY from a lease-holding maintenance path
    * (gcGenerations, compactAnnIndex); serve paths (deltaFrame /
    * withDeltaOf / marker probes) keep the default and stay purely
    * exclusion-based, so a read-only client never issues a delete
    * (ADVICE r17: an unguarded serve-path reap gave readers without
    * write permission query FAILURES once an entry aged past TTL,
    * and mutated the store outside any writer lease). */
  private[graft] def deltaFileNames(spark: SparkSession, dir: String,
      table: String, reap: Boolean = false): Seq[String] = {
    val absorbed = absorbedDelta(spark, dir, table)
    if (reap) reapAbsorbedDelta(spark, dir, table, absorbed)
    val (fs, p) = graft.Scratch.fs(spark, deltaDirOf(dir, table))
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".") &&
          !absorbed.contains(n)
      }
      .map(_.getPath.getName)
  }

  /** The delta leg of a codes table, or None when empty — callers
    * union it under their OWN pruning so the base leg's plan (DPP and
    * all) is untouched, and skip the union entirely when there is no
    * delta. EXPLICIT file-list read (never the whole dir): absorbed-
    * but-retained files must not be served twice. */
  private[operators] def deltaFrame(spark: SparkSession, dir: String,
      table: String): Option[DataFrame] = {
    val names = deltaFileNames(spark, dir, table)
    if (names.isEmpty) None
    else {
      val dd = deltaDirOf(dir, table)
      Some(StoreKernel.readStore(spark, names.sorted.map(n => s"$dd/$n"): _*))
    }
  }

  /** Rows of a codes table as served — the current generation's files
    * plus the served delta files, absorbed ones excluded — summed from
    * their parquet footers on the driver: `withDeltaOf(spark, dir,
    * table)(identity).count()` without a Spark job. */
  private[graft] def storedRows(spark: SparkSession, dir: String,
      table: String): Long =
    StoreKernel.rowCount(spark,
      graft.sources.Generations.resolve(spark, s"$dir/$table") +:
        deltaFileNames(spark, dir, table).map(n =>
          s"${deltaDirOf(dir, table)}/$n"): _*)

  /** base-leg-through-`prune` ∪ delta-leg-through-`prune` — the one
    * read shape every codes/rcodes consumer uses. */
  private[graft] def withDeltaOf(spark: SparkSession, dir: String,
      table: String)(prune: DataFrame => DataFrame): DataFrame = {
    val base = prune(readCodes(spark, s"$dir/$table"))
    deltaFrame(spark, dir, table) match {
      case None => base
      case Some(d) => base.unionByName(
        prune(d).select(base.columns.map(col).toIndexedSeq: _*))
    }
  }

  // --- deletion lifecycle (tombstones) ---------------------------------------
  //
  // The one operation appends cannot express: REMOVE rows from a
  // served corpus (retention, right-to-be-forgotten) without a full
  // rebuild. Shape mirrors the append-side LSM delta: deletes land in
  // a `tombstones/` sidecar under the index dir ((vec_id, rowfp,
  // valid, cell) — rowfp = xxhash64(vec_id, embedding) captured from
  // the corpus row at delete time, so the corpus fingerprint xor-FOLDS
  // across deletes the same way it xor-composes across appends), and
  // physical removal is deferred to compaction. Invariants:
  //
  //  - [[deleteBatch]] stamps tombstones FIRST, then rewrites the
  //    corpus table minus ALL tombstoned ids (shadow + promote swap).
  //    Serving is delete-correct from the instant the tombstone file
  //    lands (every candidate stream anti-joins the sidecar), so the
  //    crash window between the two writes leaks nothing; [[ensure]]
  //    HEALS that window by completing the corpus rewrite — the only
  //    safe direction (a rebuild before the heal would re-index the
  //    undeleted rows; after it, a rebuild can never resurrect them).
  //  - [[ensure]] validates a tombstoned index against the FOLDED
  //    expectation: corpus count must read meta.n − |valid tombstones|
  //    and corpus fp must read meta.fp XOR xor(valid rowfps) — no
  //    rescan of the deleted rows, no rebuild on the healthy path.
  //    `valid` is [[indexable]]'s predicate: rows it excludes were
  //    never counted or fingerprinted, so their deletion must not fold
  //    either.
  //  - [[build]] CLEARS the sidecar at promote: a fresh index derives
  //    from the (already rewritten) corpus, so every tombstone is moot
  //    — and leaving them would fold a stale xor into the new meta's
  //    expectation, wedging ensure into a rebuild loop.
  //  - [[graft.sources.Maintenance.compactAnnIndex]] FOLDS: both codes
  //    tables are rewritten minus tombstoned ids, meta.n/fp fold the
  //    sidecar's aggregates, the sidecar is cleared. A crash anywhere
  //    inside converges by ensure-rebuild (count/fp/integrity
  //    mismatch), exactly like the append path's rcodes→meta window —
  //    and never resurrects, because the corpus rewrite already
  //    happened at deleteBatch time.
  //  - [[appendBatch]] REFUSES a batch carrying a tombstoned id: its
  //    ghost codes rows are still in the index until the fold, so a
  //    re-append would double-key the id (and the serve-side anti-join
  //    would then hide BOTH copies). Re-adding a deleted id is legal
  //    AFTER a compaction folds the tombstone.
  //
  // 100 TB note: the tombstone sidecar is bounded by the fold cadence
  // (every request reads it on the driver, StoreKernel.tombs, and its
  // readers filter by the driver-held keys); the corpus rewrite is one
  // distributed
  // scan-and-copy per delete batch — on a partitioned production
  // corpus the same swap applies per affected partition. The INDEX
  // side never rewrites outside compaction, which it was paying
  // anyway.

  final case class DeleteStats(tombstoned: Long, removedFromCorpus: Long)

  /** Compaction's closing step (see [[graft.sources.Maintenance
    * .compactAnnIndex]]): after both codes tables were rewritten minus
    * the tombstoned ids, fold the sidecar's aggregates into meta
    * (n/fp) and clear it. Crash windows converge by ensure-rebuild:
    * tables-folded-but-meta-not fails the integrity probe's count leg;
    * meta-folded-but-sidecar-present double-subtracts the expectation
    * and fails the fingerprint leg — and neither can resurrect rows,
    * because the corpus rewrite happened at deleteBatch time. */
  private[graft] def foldTombstonesIntoMeta(spark: SparkSession,
      dir: String, tombs: Option[StoreKernel.Tombs] = None): Unit = {
    // `tombs`: the sidecar when the caller read it under the lease it
    // still holds
    val t = tombs.getOrElse(tombsOf(spark, dir))
    if (t.isEmpty) return
    graft.sources.WriterLease.withWrite(spark, dir, "tombfold") {
      val m = meta(spark, dir).getOrElse(throw new IllegalStateException(
        s"no readable meta at $dir — cannot fold tombstones"))
      StoreKernel.writeMeta(spark, dir,
        m.copy(n = m.n - t.validN, fp = m.fp ^ t.xor))
      StoreKernel.clearTombstones(spark, dir)
    }
  }

  /** Delete `kills` (a vec_id frame) from the corpus at `sfDir` and
    * its persisted index: stamp tombstones (serving excludes them from
    * that instant), then rewrite the corpus table minus every
    * tombstoned id. Replay-idempotent: already-tombstoned and
    * already-absent ids are skipped, and a replay after any crash
    * point converges to the same state (see the section doc). Physical
    * index removal is [[graft.sources.Maintenance.compactAnnIndex]]'s
    * job; until then ghost codes rows are excluded by every reader. */
  def deleteBatch(spark: SparkSession, sfDir: String,
      kills: DataFrame): DeleteStats = {
    val dir = dirFor(spark, sfDir)
    val (tombstoned, removed) = StoreKernel.delete(spark,
        kernelStore(sfDir, dir), kills,
        s"no index at $dir — ensure() before deleteBatch",
        Seq("vec_id", "rowfp", "valid", "cell")) { fresh =>
      // home cell from the INDEX's own sub-0 rows (the one definition
      // of home), not recomputed from centroids: compaction prunes its
      // rewrite by these cells, so they must name where the rows
      // actually sit. Never-indexed rows (not `valid`) get cell null.
      val homes = withDeltaOf(spark, dir, "codes")(
        _.filter(col("sub") === 0)).select(col("vec_id"), col("cell"))
      normed(fresh)
        .select(col("vec_id"),
          xxhash64(col("vec_id"), col("embedding")).as("rowfp"),
          Similarity.validNorm.as("valid"))
        .join(homes, Seq("vec_id"), "left")
    }
    DeleteStats(tombstoned, removed)
  }

  // --- append commit marker (zero-job fast path for screened sinks) ---------
  //
  // The remaining per-append O(index) terms after the delta buffer are
  // the torn-probe row counts (footer reads on the driver over ~nlist
  // base files, [[storedRows]]) and the membership scan (one Spark job
  // opening one file per touched cell dir). Both exist to answer "is
  // the index exactly as the last completed append left it, and which
  // batch ids are already in it" — questions a driver-side marker can
  // answer with no footer read and no membership job when the
  // CALLER vouches that its batch was already anti-joined against the
  // corpus (the streaming sinks' discipline). `_commit` under the
  // index dir records meta.n, the last applied batch's identity
  // (count + xor fingerprint — the one-deep replay ledger: in-order
  // checkpoint replay re-delivers only the LAST uncommitted batch),
  // and the exact (file → length) listing of both codes tables
  // (base + delta). Validation is exact-match; ANY divergence (crashed
  // append debris, compaction, foreign writes, a missing marker) falls
  // back to the measured counts + membership path, which re-stamps on
  // success — the marker can never vouch for a state it didn't see
  // committed, same trust class as the ingest IngestCommit marker.

  private[operators] final case class AnnCommit(n: Long, lastN: Long,
      lastFp: Long, codes: Map[String, (Long, Long)],
      rcodes: Map[String, (Long, Long)])

  // v2 adds mtime to the per-file listing entries so the vouched fast
  // path sits in the SAME trust class as the token digest's
  // name|length|mtime lines (StoreKernel.digest) — a same-name
  // same-length foreign rewrite of a codes file now forces the
  // measured fallback instead of passing the vouch. A v1 marker fails
  // the header check and falls back (safe, re-stamps).
  private val annCommitHeader = "graftanncommit|2"

  private def commitMarkerPath(dir: String) = s"$dir/_commit"

  /** Exact (relative path → (length, mtime)) listing of a codes
    * table's base + delta data files; `_`/`.`-led path segments
    * (committer temp dirs, crc files, the _fold sentinel) are
    * excluded. mtime rides along so the marker's exact-match vouch
    * matches the token digest's trust class at no extra listing cost
    * (the same FileStatus carries both). Driver-side only. */
  private[operators] def annListing(spark: SparkSession, dir: String,
      table: String): Map[String, (Long, Long)] = {
    def one(root: String): Map[String, (Long, Long)] = {
      val (fs, p) = graft.Scratch.fs(spark, root)
      if (!fs.exists(p)) return Map.empty
      val base = fs.makeQualified(p).toString + "/"
      graft.Scratch.walkFiles(fs, p)
        .map(s => (s.getPath.toString.stripPrefix(base),
          (s.getLen, s.getModificationTime)))
        .filterNot { case (rel, _) =>
          rel.split('/').exists(seg =>
            seg.startsWith("_") || seg.startsWith("."))
        }.toMap
    }
    // base leg generation-resolved (rel paths are gen-relative — a
    // fold commits a new generation and legitimately invalidates the
    // marker once); delta leg restricted to the SERVED file set, so
    // absorbed-but-TTL-retained files neither vouch nor invalidate
    val served = deltaFileNames(spark, dir, table).toSet
    one(graft.sources.Generations.resolve(spark, s"$dir/$table"))
      .map { case (f, l) => (s"$table/$f", l) } ++
      one(deltaDirOf(dir, table)).collect {
        case (f, l) if served.contains(f) => (s"${table}_delta/$f", l)
      }
  }

  private[operators] def readCommit(spark: SparkSession, dir: String)
      : Option[AnnCommit] = {
    val (fs, p) = graft.Scratch.fs(spark, commitMarkerPath(dir))
    if (!fs.exists(p)) return None
    val text =
      try new String(graft.Scratch.readSmallFile(fs, p), "UTF-8")
      catch { case scala.util.control.NonFatal(_) => return None }
    val lines = text.split('\n').map(_.trim).filter(_.nonEmpty)
    if (lines.isEmpty || lines.head != annCommitHeader) return None
    try {
      var n = -1L; var lastN = -1L; var lastFp = 0L
      val codes = Map.newBuilder[String, (Long, Long)]
      val rcodes = Map.newBuilder[String, (Long, Long)]
      lines.tail.foreach { l =>
        l.split('|') match {
          case Array("n", v) => n = v.toLong
          case Array("last", c, f) => lastN = c.toLong; lastFp = f.toLong
          case Array("codes", f, len, mt) =>
            codes += ((f, (len.toLong, mt.toLong)))
          case Array("rcodes", f, len, mt) =>
            rcodes += ((f, (len.toLong, mt.toLong)))
          case _ => return None
        }
      }
      if (n < 0) None
      else Some(AnnCommit(n, lastN, lastFp, codes.result(), rcodes.result()))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private[operators] def writeCommit(spark: SparkSession, dir: String,
      c: AnnCommit): Unit = {
    // fence OUTSIDE the try: a StaleWriterException is
    // IllegalStateException (NonFatal) and the swallow-and-log below
    // would otherwise turn a fenced marker write into a "success"
    graft.sources.WriterLease.verify(spark, dir)
    try {
      val (fs, p) = graft.Scratch.fs(spark, commitMarkerPath(dir))
      val body = (Seq(annCommitHeader, s"n|${c.n}",
        s"last|${c.lastN}|${c.lastFp}") ++
        c.codes.toSeq.sorted.map { case (f, (l, m)) => s"codes|$f|$l|$m" } ++
        c.rcodes.toSeq.sorted.map { case (f, (l, m)) => s"rcodes|$f|$l|$m" })
        .mkString("\n")
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    } catch { case scala.util.control.NonFatal(e) =>
      // NonFatal, not Throwable: an OOM/VM error during the marker
      // write must propagate, not be logged into a "successful" return
      System.err.println(s"[annidx] commit marker write failed at $dir " +
        s"(${e.getMessage}); next append falls back to the counted path")
    }
  }

  /** IVF×PQ top-k served from a VALIDATED index — the query-many half
    * of the lifecycle a session-holding deployment runs: one
    * [[ensure]] (or [[build]]) buys the `info` handle, then every
    * query against it skips revalidation (no corpus identity scan —
    * the caller owns freshness between ensures, exactly the
    * maintenance discipline [[appendBatch]] supports). Same
    * expressions as [[Similarity.q65KnnIvfPq]], bit-identical
    * results; only the probed cells' code partitions are scanned
    * (plan-asserted DPP). */
  def queryIvfPq(spark: SparkSession, sfDir: String,
      info: BuildInfo, kk: Int = Similarity.k,
      maxQuery: Long = Similarity.knnQueries,
      exclude: Option[DataFrame] = None): DataFrame = {
    // an n=0 index has no persisted part files to serve from (nothing
    // was indexed) — delegate to the in-query twin, which is free at
    // n=0 (no data to train on) and gives twin-identical output BY
    // CONSTRUCTION, including its schema (on an empty corpus every
    // (kk, maxQuery) dial produces the same zero rows; an exclusion
    // set is vacuous against zero candidates)
    if (info.n == 0) return Similarity.q65KnnIvfPq(spark, sfDir)
    val dir = info.dir
    val raw = Tables.load(spark, sfDir, "embeddings")
    val qe = queryVecs(raw, maxQuery)
    val cents = StoreKernel.readStore(spark, s"$dir/centroids")
    val probes = Similarity.topCells(qe, cents,
        Similarity.nprobeFor(info.nl))
      .select(col("vec_id").as("query_id"), col("cell"))
    // `exclude` (a vec_id frame) is soft-delete serving: excluded ids
    // leave the CANDIDATE stream before the shortlist, so rank-k is
    // computed among the remaining vectors — not truncated after the
    // fact. The anti-join rides the already-pruned probed stream
    // (cost ∝ probed cells, never the index), q78's serving stage.
    val probed0 = withDeltaOf(spark, dir, "codes")(
      _.join(broadcast(probes), Seq("cell")))
    // persisted tombstones are a standing exclusion (deleted ids'
    // ghost codes rows remain until compaction folds them), composed
    // with the caller's soft-delete set
    val probed = exclude.foldLeft(tombsOf(spark, dir).drop(probed0))(
      (d, x) => d.join(x.select(col("vec_id")), Seq("vec_id"), "left_anti"))
    val lut = Similarity.pqLut(Similarity.subVectors(qe),
      StoreKernel.readStore(spark, s"$dir/codebook"))
    val cand = Similarity.adcShortlist(probed, lut,
      Seq("query_id", "sub", "code"), Similarity.shortlistFor(info.n))
    Similarity.rerankTopK(raw, cand, kk, maxQuery)
  }

  /** q69: [[Similarity.q65KnnIvfPq]] served from the persisted index —
    * same artifacts, same query expressions, bit-identical result
    * (IndexStoreSpec pins it); the in-query Lloyd training is replaced
    * by three parquet reads. The driver contract is stateless, so each
    * call revalidates via [[ensure]]; [[queryIvfPq]] is the
    * validate-once entry a session-holding caller uses instead. */
  def q69KnnIvfPqIdx(spark: SparkSession, sfDir: String): DataFrame =
    queryIvfPq(spark, sfDir, ensure(spark, sfDir))

  /** Residual IVF×PQ top-k from a VALIDATED index (see [[queryIvfPq]]
    * for the validate-once contract): residual codes + shared residual
    * codebook, exact per-(query, probed-cell) term recovered from
    * [[Similarity.topCells]] exactly as q68 does. */
  def queryIvfPqRes(spark: SparkSession, sfDir: String,
      info: BuildInfo): DataFrame = {
    // see queryIvfPq: n=0 → the twin, free and identical by construction
    if (info.n == 0) return Similarity.q68KnnIvfPqRes(spark, sfDir)
    val dir = info.dir
    val raw = Tables.load(spark, sfDir, "embeddings")
    val qe = queryVecs(raw)
    val cents = StoreKernel.readStore(spark, s"$dir/centroids")
    val probesCt = Similarity.topCells(qe, cents,
        Similarity.nprobeFor(info.nl))
      .join(broadcast(cents.select(col("cell"), col("cn"))), Seq("cell"))
      .select(col("vec_id").as("query_id"), col("cell"),
        (col("cd") + col("cn")).as("ct"))
    val probed = tombsOf(spark, dir).drop(withDeltaOf(spark, dir, "rcodes")(
      _.join(broadcast(probesCt), Seq("cell"))))
    val lut = Similarity.pqLut(Similarity.subVectors(qe),
      StoreKernel.readStore(spark, s"$dir/rcodebook"))
    val cand = Similarity.adcShortlist(probed, lut,
      Seq("query_id", "sub", "code"), Similarity.shortlistFor(info.n),
      approxScore = max(col("ct")) + Similarity.adcSum)
    Similarity.rerankTopK(raw, cand)
  }

  /** q70: [[Similarity.q68KnnIvfPqRes]] served from the persisted
    * index — bit-identical result (IndexStoreSpec pins it). Stateless
    * driver contract → per-call [[ensure]]; session-holding callers
    * use [[queryIvfPqRes]] with a kept `info`. */
  def q70KnnIvfPqResIdx(spark: SparkSession, sfDir: String): DataFrame =
    queryIvfPqRes(spark, sfDir, ensure(spark, sfDir))

  /** [[queryIvfPq]] with an EXPLICIT query batch — the sharded store's
    * per-shard serve leg ([[Sharded]], VERDICT r17 #1): a hash-sharded
    * corpus holds each query vector in exactly ONE shard, so every
    * OTHER shard must serve queries it does not own. Same expressions
    * as [[queryIvfPq]] (probe ranks → cell-pruned codes scan → ADC
    * shortlist → exact re-rank); the re-rank frame is the shard's own
    * table (query-id rows excluded) plus the caller's query rows, so
    * no id appears twice and the returned cosines are exact.
    * `queries` = (vec_id, embedding) with every vec_id < `maxQuery`;
    * `maxQuery` must not exceed [[Similarity.knnQueries]] (pqLut's
    * internal query filter). */
  private[operators] def queryIvfPqFrom(spark: SparkSession,
      shardDir: String, info: BuildInfo, queries: DataFrame,
      kk: Int = Similarity.k,
      maxQuery: Long = Similarity.knnQueries): DataFrame = {
    require(maxQuery <= Similarity.knnQueries,
      "queryIvfPqFrom: maxQuery beyond the shared pqLut query filter")
    val qRaw = queries.filter(col("vec_id") < maxQuery)
      .select(col("vec_id"), col("embedding"))
    if (info.n == 0)
      // an empty shard contributes nothing — the merge's unit element,
      // schema-identical to the served shape
      return qRaw.limit(0).select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), lit(0.0).as("cosine"),
        lit(0).cast("int").as("rank"))
    val dir = info.dir
    val qe = Similarity.prepped(qRaw).filter(Similarity.validNorm)
    val cents = StoreKernel.readStore(spark, s"$dir/centroids")
    val probes = Similarity.topCells(qe, cents,
        Similarity.nprobeFor(info.nl))
      .select(col("vec_id").as("query_id"), col("cell"))
    val probed0 = withDeltaOf(spark, dir, "codes")(
      _.join(broadcast(probes), Seq("cell")))
    val probed = tombsOf(spark, dir).drop(probed0)
    val lut = Similarity.pqLut(Similarity.subVectors(qe),
      StoreKernel.readStore(spark, s"$dir/codebook"))
    val cand = Similarity.adcShortlist(probed, lut,
      Seq("query_id", "sub", "code"), Similarity.shortlistFor(info.n))
    val e = Tables.load(spark, shardDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") >= maxQuery)
      .unionByName(qRaw)
    Similarity.rerankTopK(e, cand, kk, maxQuery)
  }

  /** SemDeDup-style embedding near-duplicate dedup served from the
    * PERSISTED IVF index — the scale path next to
    * [[Similarity.q45EmbedDedup]]'s exact all-pairs screen (documented
    * inherent O(N²)). Same keeper rule: drop every vector with SOME
    * lower-id partner at cosine ≥ [[Similarity.pairThreshold]];
    * survivors are the full table minus dropped (zero/NaN-norm vectors
    * are never indexed, never paired, and therefore always survive —
    * q45's rule exactly).
    *
    * Two stages, every join an equality join:
    *  1. PROBE: every corpus vector ranks the broadcast centroid table
    *     ([[Similarity.topCells]] — the serving rule) and probes its
    *     [[Similarity.nprobeFor]] cells. Candidate pairs are (probing
    *     vector, indexed vector) sharing a probed cell, normalized to
    *     (id_a < id_b) and distinct'ed — a pair is caught when EITHER
    *     side probes the other's home cell, so the per-pair miss
    *     probability is the one-directional miss SQUARED (measured
    *     pair recall 0.96 at the 2000-vector gate corpus vs ~0.75
    *     one-directional).
    *  2. VERIFY: exact cosine evaluated INSIDE the cell join (vectors
    *     ride into it; codegen'd double dot product; only verified
    *     hits leave as bare dropped ids — see the in-body comment for
    *     why no pair stream is ever shuffled). A pair drops its higher
    *     id only when the EXACT cosine clears the threshold — the
    *     probe stage can only MISS pairs, never fabricate them, so the
    *     survivor set is always a SUPERSET of q45's (one-sided error;
    *     Verify gates the miss rate, IndexStoreSpec pins the superset
    *     property).
    *
    * There is deliberately NO code-based (PQ) pre-screen between the
    * stages, though the index ships one: measured on this fixture's
    * true ≥0.42 pairs, the SDC reconstruction-cosine reads the exact
    * cosine with bias −0.19 and std 0.14 (residual codes −0.22/0.14 —
    * the error is the near-uniform data's entropy, not the encoding),
    * so an absolute-margin screen wide enough to keep the true pairs
    * admits essentially the whole stream, and a rank screen tight
    * enough to prune costs recall (top-128: 0.73 dropped-id recall vs
    * the 0.96 probe ceiling). The screen's shuffle volume (8 code rows
    * per pair) also rivals the verify's one wide row per pair — it
    * bought nothing on any axis here. On corpora whose duplicates sit
    * at cosine ≥ 0.9 (real near-dup corpora — quantization noise ≪
    * the dup-vs-background gap there) a margin screen becomes viable;
    * revisit if that workload materializes.
    *
    * 100 TB design: the verify is linear in the candidate stream, and
    * the stream is N·nprobe·(N/nlist) pairs — ~N^1.5·(nprobe/0.7)
    * with the √N-scaled cell count on a corpus with NO cluster
    * structure (this fixture's near-orthogonal randoms, the
    * adversarial case; the exact screen is N²/2 with a bigger
    * constant and no dial). On real embedding corpora near-dups are
    * CLUSTERED — partners land in the home cell or its immediate
    * neighbors, `-Dgraft.ann.nprobe` turns the probe count down, and
    * the stream approaches N·cellsize — the regime SemDeDup-style
    * dedup (cluster, then compare within clusters) exploits by
    * construction. Cost vs the exact path is measured on the
    * decorrelated scaled corpora in DEDUP_SCALE_r13.json. */
  def queryEmbedDedup(spark: SparkSession, sfDir: String,
      info: BuildInfo): DataFrame =
    queryEmbedDedupDialed(spark, sfDir, info,
      Similarity.dedupNprobeFor(info.nl))

  /** [[queryEmbedDedup]] with an explicit probe count — the
    * calibration/override surface (IndexStoreSpec sweeps it; a
    * deployment on clustered real embeddings turns `np` down, which is
    * where the sub-quadratic regime lives — see the public doc). */
  private[operators] def queryEmbedDedupDialed(spark: SparkSession,
      sfDir: String, info: BuildInfo, np: Int): DataFrame = {
    import graft.functions.VectorFunctions.dotD
    // n=0: nothing indexed, nothing to probe — the exact screen is
    // free on an empty/all-invalid corpus and returns the same
    // "everything survives" answer with the same schema
    if (info.n == 0) return Similarity.q45EmbedDedup(spark, sfDir)
    val dir = info.dir
    val raw = Tables.load(spark, sfDir, "embeddings")
    val e = Similarity.prepped(raw).filter(Similarity.validNorm)
    val cents = StoreKernel.readStore(spark, s"$dir/centroids")
    // Vectors ride INTO the cell join and the exact cosine evaluates
    // inside it (the q34 discipline): an earlier shape materialized
    // bare id pairs, distinct'ed them, and re-joined vectors twice —
    // three shuffles of an N·nprobe·cellsize pair stream that made
    // the "scale path" 1.6× SLOWER than the exact block join at the
    // 8000-vector calibration corpus. Here the only shuffled rows are
    // the N·nprobe probe rows and N home rows (wide, but linear in
    // N), the |probers|×|members| pair evaluations happen in-task,
    // and only the ≥-threshold hits leave the join as bare dropped
    // ids. A pair sharing several probed cells is evaluated once per
    // shared cell — duplicate WORK, bounded by the probe multiplicity,
    // in exchange for never shuffling the pair stream; the trailing
    // distinct dedupes ids, not pairs. Hot cells skew this join at
    // scale; cells are ~√N/0.7 wide by construction and AQE's skew
    // split handles the residual imbalance.
    // bounded-top-k aggregate, not the ranks window (r18): this is the
    // FULL-CORPUS probe pass (every vector probes its np cells), where
    // the former window shuffled and sorted all N×nl scored rows —
    // TopKAgg's map-side partials cap the exchange at N·np structs
    // (see Similarity.topCells; row-identical)
    val probesV = Similarity.topCells(e, cents, np)
      .select(col("vec_id").as("pid"), col("cell"))
      .join(e.select(col("vec_id").as("pid"), col("v").as("vp"),
        col("nrm").as("np_")), Seq("pid"))
    // one row per indexed vector with its home cell: sub 0 always
    // exists (subspaces ≥ 1) — cheaper than a distinct over 8 rows
    val homesV = withDeltaOf(spark, dir, "codes")(
        _.filter(col("sub") === 0))
      .select(col("vec_id").as("iid"), col("cell"))
      .join(e.select(col("vec_id").as("iid"), col("v").as("vi"),
        col("nrm").as("ni")), Seq("iid"))
    // the keeper rule needs only the HIGHER id of a verified pair —
    // either catch direction emits the same greatest(), so the
    // bidirectional union is free
    // shuffle_hash, not sort-merge: past the broadcast threshold Spark
    // would otherwise SORT both sides by cell — the probe side is the
    // big one (N·nprobe wide rows) and a many-to-many cell join gains
    // nothing from sorted inputs. Hash-building the homes side is the
    // scale-correct shape: it is linear in N and partitioned by cell,
    // so each task builds only its cells' members (~√N rows per cell).
    val dropped = probesV.join(homesV.hint("shuffle_hash"), Seq("cell"))
      .filter(col("pid") =!= col("iid") &&
        dotD(col("vp"), col("vi")) / (col("np_") * col("ni")) >=
          Similarity.pairThreshold)
      .select(greatest(col("pid"), col("iid")).as("vec_id"))
      .distinct()
    raw.select(col("vec_id"), col("label"))
      .join(dropped, Seq("vec_id"), "left_anti")
      .orderBy(col("vec_id"))
  }

  /** q71: [[queryEmbedDedup]] under the stateless driver contract —
    * per-call [[ensure]] revalidation, like q69/q70; a session-holding
    * pipeline keeps the `info` handle instead. Approximate with
    * ONE-SIDED error (survivors ⊇ q45's exact survivors); the driver
    * gate is Verify's dedup-recall floor against the exact answer. */
  def q71EmbedDedupIdx(spark: SparkSession, sfDir: String): DataFrame =
    queryEmbedDedup(spark, sfDir, ensure(spark, sfDir))
}
