package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.h60
import graft.sources.{StoreKernel, StoreMeta, Tables}

/** Meta row of a persisted lexical index: corpus identity (row count +
  * xor fingerprint) and the layout dial its artifacts were built
  * under. Mirrors [[AnnIndexMeta]]'s role; no append counters — the
  * lexical build is one tokenize pass, so staleness is always resolved
  * by a rebuild (see [[LexIndex]] doc). */
final case class LexIndexMeta(
    version: Int, n: Long, fp: Long, pfx_parts: Int, np: Long)
  extends StoreMeta

/** Persisted inverted index serving BM25 (q74) — the amortized
  * deployment path q72's ad-hoc scan points at, structured exactly
  * like the ANN [[IndexStore]]: build-once/query-many artifacts behind
  * a shadow-dir swap, corpus-fingerprint freshness validation with a
  * zero-job listing token, and a gated query (q74) that must stay
  * BIT-IDENTICAL to its in-query twin (q72) because it reads the SAME
  * values q72 computes (postings with doc length, per-term df, corpus
  * stats as longs) through the SAME scoring expression tree
  * ([[Retrieval.scoreAgainst]]).
  *
  * Artifacts under [[dirFor]]:
  *  - `tf/` — (doc_id, dl, token, tf) postings, hive-partitioned by
  *    `pfx = pmod(h60(token), pfxParts)`: a query's terms map to a
  *    bounded pfx set, so serving statically prunes to those
  *    directories and never scans the corpus-wide posting table. h60
  *    (portable md5-derived hash), not xxhash64, so the partition key
  *    is reproducible outside Spark too.
  *  - `df/`  — (token, df), same pfx partitioning, df counted over the
  *    FULL corpus at build time (exactly what q72 counts per query).
  *  - `stats/` — one row (n_docs, sum_dl) as LONGS; both serving paths
  *    cast the same longs to double, keeping the weight inputs
  *    bit-equal.
  *  - `meta` + `vtoken` — identity row and the listing-digest token
  *    ([[graft.sources.StoreKernel]], the lifecycle shared with the
  *    ANN store: any observable corpus/index change forces a full
  *    re-validation).
  *
  * At 100 TB the build is one map-side-combinable shuffle of the
  * corpus (the same pass q72 pays PER QUERY) and serving reads a few
  * posting directories — the classic search-engine trade. Incremental
  * maintenance is [[appendBatch]] (per-batch posting, df and stats
  * partials behind a replay ledger) and [[deleteDocs]] (tombstones +
  * negative partials); every persisted value is an exact additive
  * fact, so both keep q74 bit-identical to a rebuild. Any other corpus
  * change rebuilds (cost: one tokenize pass, not an ANN retrain). */
object LexIndex {

  val formatVersion = 1
  /** Posting-table partition fan-out. 32 keeps gate-scale directories
    * non-trivial while bounding small files; at deployment scale this
    * dial trades listing cost against pruning granularity. */
  val pfxParts = 32

  /** `np` = posting rows in `tf/`: 0 means the corpus tokenized to
    * NOTHING (empty, or every doc blank/null) — then the partitioned
    * tables hold no part files and a parquet read of them cannot even
    * infer a schema, so serving must not touch them (the q69 n=0
    * delegate rule, lexical form). */
  final case class BuildInfo(dir: String, n: Long, np: Long,
      builtNow: Boolean, buildSec: Double)

  def dirFor(spark: SparkSession, sfDir: String): String =
    graft.Scratch.stableDir(spark, "lexidx", sfDir)

  /** The documents table behind `sfDir`: the standard layout keeps it
    * at `<sfDir>/documents.parquet`; a STREAMING ingest corpus
    * ([[graft.streaming.StreamOps.incrementalIngestStream]]) IS the
    * bare parquet dir itself. Resolved per call so the same lifecycle
    * (ensure/append/delete) serves both layouts; the standard path
    * wins when both exist, so gated corpora are unaffected. */
  private[graft] def docsPath(spark: SparkSession, sfDir: String): String = {
    val std = s"$sfDir/documents.parquet"
    val (fs, p) = graft.Scratch.fs(spark, std)
    if (fs.exists(p)) std else sfDir
  }

  private def docsOf(spark: SparkSession, sfDir: String): DataFrame =
    StoreKernel.readTable(spark, graft.sources.Generations.resolve(spark,
      docsPath(spark, sfDir)))

  private def pfxOf(tokenCol: org.apache.spark.sql.Column) =
    pmod(h60(tokenCol), lit(pfxParts))

  /** Generation-resolved table path ([[graft.sources.Generations]]):
    * [[compact]] commits tf/df/stats rewrites as retained generations,
    * so every reader — and every appender, inside the store lease —
    * resolves to the newest committed one; identity for a
    * never-compacted store. */
  private def cur(spark: SparkSession, path: String): String =
    graft.sources.Generations.resolve(spark, path)

  /** The current generation of the store table at `path`, planned
    * without a Spark job ([[StoreKernel.readStore]]). */
  private def readCur(spark: SparkSession, path: String): DataFrame =
    StoreKernel.readStore(spark, cur(spark, path))

  /** (row count, xor fingerprint) of the documents corpus in one scan
    * ([[StoreKernel.keyedFingerprint]]); doc_id is the posting key. */
  private def countAndFingerprint(docs: DataFrame): (Long, Long) =
    StoreKernel.keyedFingerprint(docs, "doc_id", "text")(d =>
      s"documents corpus contains $d duplicate doc_id rows — doc_id " +
        "keys the posting table; deduplicate before indexing")

  private def meta(spark: SparkSession, dir: String) =
    StoreKernel.readMeta[LexIndexMeta](spark, dir, "lexidx")

  private def dialsOk(m: LexIndexMeta): Boolean =
    m.version == formatVersion && m.pfx_parts == pfxParts

  /** This store's [[StoreKernel.Store]]: the documents table in either
    * layout ([[docsPath]]); every tombstone folds. */
  private[operators] def kernelStore(spark: SparkSession, sfDir: String,
      dir: String): StoreKernel.Store[LexIndexMeta] =
    StoreKernel.Store("lexidx", dir, sfDir, docsPath(spark, sfDir),
      "doc_id", None, s"lexv$formatVersion|$pfxParts",
      f => LexIndexMeta(f(0).toInt, f(1).toLong, f(2).toLong, f(3).toInt,
        f(4).toLong))

  /** The tombstone sidecar at `dir`, read on the driver
    * ([[StoreKernel.tombs]]; every tombstone folds). */
  private def tombsOf(spark: SparkSession, dir: String): StoreKernel.Tombs =
    StoreKernel.tombs(spark, dir, "doc_id", None)

  /** Structural probe for the states the corpus fingerprint cannot
    * see: a swap/compaction crash that lost a table dir, or a stats
    * row that disagrees with meta (stats is written WITH the build, so
    * divergence means a torn or foreign index). One 1-row stats read;
    * the posting tables are covered by existence (their CONTENT is
    * vouched for by the fingerprint + shadow-swap discipline — a
    * torn partitioned write never gets promoted). */
  private def tablesIntact(spark: SparkSession, dir: String,
      m: LexIndexMeta, tombN: Long): Boolean =
    try {
      val present = Seq("tf", "df", "stats").forall { t =>
        val (fs, p) = graft.Scratch.fs(spark, s"$dir/$t")
        fs.exists(p)
      }
      present && {
        // stats rows are additive (build partial + one per append,
        // one NEGATIVE partial per delete batch): their SUM must
        // equal meta.n minus the pending tombstones — a torn append
        // that wrote data but no stats row, a crashed delete that
        // stamped tombstones but not its negative partial, or a
        // foreign stats table all break it
        val s = readCur(spark, s"$dir/stats")
          .agg(sum(col("n_docs"))).head()
        !s.isNullAt(0) && s.getLong(0) == m.n - tombN
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[lexidx] integrity probe failed at $dir " +
        s"(${e.getMessage}); rebuilding")
      false
    }

  // --- deletion lifecycle (tombstones + negative partials) -------------------
  //
  // The lexical mirror of [[IndexStore]]'s deletion section, with one
  // structural advantage: every persisted lexical value is an exact
  // ADDITIVE fact the read path already sums, so a delete batch can
  // subtract EXACTLY — [[deleteDocs]] appends one NEGATIVE df partial
  // and one negative stats partial (computed from the victim rows'
  // own tokens, the same tokenizer the build used), stamps (doc_id,
  // rowfp) tombstones that the tf leg anti-joins, and rewrites the
  // corpus minus the victims. Post-delete serving is BIT-IDENTICAL to
  // a rebuild on the survivors: df/stats sums are the survivor sums
  // by arithmetic, and the tf candidates are the survivor postings by
  // anti-join. Write order (tombstones → partials → corpus) makes
  // every crash window converge loudly: missing partials fail the
  // stats-sum integrity leg (→ rebuild), a missing corpus rewrite is
  // healed by the next [[ensure]] (the direction that can never
  // resurrect), and a replay skips already-tombstoned ids so nothing
  // double-subtracts. [[compact]] folds physically (tf minus
  // tombstoned docs, df/stats partials merged, meta n/fp/np folded,
  // sidecar cleared); [[appendBatch]] refuses a tombstoned doc_id
  // until the fold (its ghost postings would double-key the doc).

  final case class DeleteDocsStats(tombstoned: Long,
    removedFromCorpus: Long)

  /** Delete `kills` (a doc_id frame) from the documents corpus at
    * `sfDir` and its persisted lexical index — see the section doc for
    * the exact-subtraction and crash contracts. Replay-idempotent.
    *
    * Works on STREAMING corpora too (the [[docsPath]] resolver), and
    * the streaming sink's dedup indexes (`__sh`/`__bands`) need no
    * delete path of their own: the corpus rewrite changes the corpus
    * file listing, which invalidates the ingest marker's file-identity
    * subset check, so the sink falls back to the committed-doc
    * semi-join and the deleted docs' ghost index rows become invisible
    * BY the existing crash discipline — a near-dup of deleted content
    * is re-admitted, never phantom-rejected (DeletionSpec pins the
    * composition end-to-end; compactIngestIndexes folds the ghosts
    * physically on its cadence). */
  def deleteDocs(spark: SparkSession, sfDir: String,
      kills: DataFrame): DeleteDocsStats = {
    val dir = dirFor(spark, sfDir)
    val (tombstoned, removed) = StoreKernel.delete(spark,
        kernelStore(spark, sfDir, dir), kills,
        s"no lexical index at $dir — ensure() before deleteDocs",
        Seq("doc_id", "rowfp"))(
      _.select(col("doc_id"),
        xxhash64(col("doc_id"), col("text")).as("rowfp"), col("text")),
      // negative partials — the exact subtraction, after the
      // tombstones (the commit point). A crash between the two
      // under-subtracts df/stats, which the stats-sum integrity leg
      // catches on the next ensure (→ rebuild).
      fresh => {
        val tfB = graft.Materialize(
          Retrieval.termFreqs(fresh).withColumn("pfx", pfxOf(col("token"))))
        if (!tfB.isEmpty)
          tfB.groupBy(col("pfx"), col("token"))
            .agg((-count(lit(1))).as("df"))
            .repartition(col("pfx")).write.mode(SaveMode.Append)
            .partitionBy("pfx").parquet(cur(spark, s"$dir/df"))
        Retrieval.corpusStatsLong(fresh)
          .select((-col("n_docs")).as("n_docs"), (-col("sum_dl")).as("sum_dl"))
          .coalesce(1).write.mode(SaveMode.Append)
          .parquet(cur(spark, s"$dir/stats"))
      })
    DeleteDocsStats(tombstoned, removed)
  }

  def build(spark: SparkSession, sfDir: String, dir: String,
      knownIdentity: Option[(Long, Long)] = None): BuildInfo =
    graft.sources.WriterLease.withWrite(spark, dir, "build") {
    val t0 = System.nanoTime()
    val docs = docsOf(spark, sfDir)
    val (n, fp) = knownIdentity.getOrElse(countAndFingerprint(docs))
    // one tokenize+shuffle pass, materialized: df derives from tf and
    // a second lineage execution would re-tokenize the corpus
    val tf = graft.Materialize(
      Retrieval.termFreqs(docs).withColumn("pfx", pfxOf(col("token"))))
    val np = tf.count() // materialized — a metadata-cheap action
    val dfTab = tf.groupBy(col("pfx"), col("token"))
      .agg(count(lit(1)).as("df"))
    val stats = Retrieval.corpusStatsLong(docs)
    val shadow = StoreKernel.buildShadow(spark, dir)
    // one file per pfx dir: serving opens |query-term pfx set| files,
    // not every task's slivers (same layout rule as the ANN codes)
    tf.repartition(col("pfx")).write.partitionBy("pfx")
      .parquet(s"$shadow/tf")
    dfTab.repartition(col("pfx")).write.partitionBy("pfx")
      .parquet(s"$shadow/df")
    stats.coalesce(1).write.parquet(s"$shadow/stats")
    // the replay ledger SURVIVES the rebuild: every applied batch's
    // docs are in the corpus this build just re-indexed, so its
    // replays must KEEP no-opping — were the ledger reset with the
    // dir, a post-rebuild replay would re-append postings the rebuild
    // already owns (see the appendBatch crash-window doc)
    val (fs, liveBatches) = graft.Scratch.fs(spark, s"$dir/batches")
    if (fs.exists(liveBatches))
      fs.rename(liveBatches,
        new org.apache.hadoop.fs.Path(s"$shadow/batches"))
    val m = LexIndexMeta(formatVersion, n, fp, pfxParts, np)
    StoreKernel.promoteBuild(spark, kernelStore(spark, sfDir, dir), shadow, m)
    BuildInfo(dir, n, np, builtNow = true,
      buildSec = (System.nanoTime() - t0) / 1e9)
  }

  /** Serve-ready lexical index for `sfDir`: zero-job token fast path,
    * full fingerprint validation on any observable change, rebuild on
    * mismatch — the [[IndexStore.ensure]] contract (one
    * [[StoreKernel.ensure]]) without the drift axis: lexical appends
    * are exact additive facts, so nothing drifts.
    *
    * `foldAtTombstones`: the [[IndexStore.RebuildPolicy
    * .foldAtTombstones]] mirror (same VERDICT r15 #5 rationale) —
    * when the pending tombstone count reaches the threshold, ensure
    * runs [[compact]] (whose rewrite folds the tombstones physically
    * and clears the sidecar; serving is bit-identical across it), so
    * a delete-heavy corpus stops paying the per-query ghost-posting
    * anti-join without a manual maintenance call. Default MaxValue =
    * never (the amortized compaction-cadence default). The
    * tombstone-free common case pays nothing: the trigger reads the
    * tombN the token/validation already computed. */
  def ensure(spark: SparkSession, sfDir: String,
      foldAtTombstones: Long = Long.MaxValue): BuildInfo = {
    val dir = dirFor(spark, sfDir)
    val info = StoreKernel.ensure(spark, kernelStore(spark, sfDir, dir))(
      fastOk = (m, _) => dialsOk(m),
      identity = countAndFingerprint,
      intact = (m, tombN) => tablesIntact(spark, dir, m, tombN),
      // served size is the effective corpus (meta minus pending
      // tombstones); np stays physical (it only gates the np==0
      // part-file-less read guard, and ghost postings are still files)
      serve = (m, tombN) =>
        BuildInfo(dir, m.n - tombN, m.np, builtNow = false, buildSec = 0.0),
      build = known => build(spark, sfDir, dir, knownIdentity = known))
    if (foldAtTombstones == Long.MaxValue || info.builtNow) return info
    // policy fold AFTER the monitor releases (StoreKernel
    // .compactWhenDue). The cheap probe is GUARDED against the
    // blank-survivor corner: compact skips its fold when every
    // surviving posting row would vanish, so an unguarded trigger
    // would re-run the full three-table rewrite on EVERY ensure of
    // such a corpus forever — pre-probe the survivor count (the same
    // probe compact runs) and stand down loudly instead. A racing fold
    // is absorbed by the re-probe: the sidecar re-reads empty and
    // nothing reruns.
    def due(t: StoreKernel.Tombs) = t.rows > 0 && t.rows >= foldAtTombstones
    val tombs = tombsOf(spark, dir)
    def blank = {
      val survivors = tombs.drop(readCur(spark, s"$dir/tf")).limit(1).count()
      if (survivors == 0)
        System.err.println(s"[lexidx] policy fold at $dir stood " +
          "down: blank survivors (compact would skip the fold); " +
          "the anti-join + negative partials keep serving exactly")
      survivors == 0
    }
    StoreKernel.compactWhenDue(spark, dir)(due(tombs) && !blank)(
        Some(tombsOf(spark, dir)).filter(due)) { t =>
      System.err.println(s"[lexidx] policy fold at $dir: ${t.rows} " +
        "pending tombstone(s) at/over the threshold")
      compact(spark, sfDir)
      meta(spark, dir).map(m => BuildInfo(dir,
        m.n - tombsOf(spark, dir).rows, m.np, builtNow = false,
        buildSec = 0.0))
    }.flatten.getOrElse(info)
  }

  /** BM25 scores for `qterms` served from a VALIDATED index — the
    * query-many half of the lifecycle (one [[ensure]] buys the `info`
    * handle). The pfx prune list is collected from `qterms` first — a
    * bounded driver read (one row per distinct query term) — so both
    * persisted-table scans statically prune to the query terms'
    * partitions before any posting is touched. Same values through
    * [[Retrieval.scoreAgainst]]'s one tree ⇒ bit-identical to the
    * ad-hoc path. */
  def queryScores(spark: SparkSession, info: BuildInfo,
      qterms: DataFrame, excludeSelf: Boolean): DataFrame = {
    val pfxes = qterms.select(pfxOf(col("token")).as("pfx"))
      .distinct().collect().map(_.getLong(0)).toIndexedSeq
    val terms = qterms.select(col("token")).distinct()
    // pending tombstones (deletion lifecycle): ghost postings of
    // deleted docs are excluded here; df/stats need no exclusion —
    // their negative partials already subtracted exactly
    val pruned = tombsOf(spark, info.dir).drop(readCur(spark, s"${info.dir}/tf")
        .filter(col("pfx").isin(pfxes: _*))
        .join(broadcast(terms), "token"))
    // df and stats are stored ADDITIVELY — the build writes one
    // partial, each appendBatch adds another — so the read path sums.
    // Integer sums are order-free, so a pure build (one partial) and
    // any append history produce the SAME values as the ad-hoc
    // computation over the grown corpus: append preserves q74's
    // bit-identity, not just its recall (postings/df/stats are exact
    // facts, unlike the ANN index's trained artifacts).
    val dfq = readCur(spark, s"${info.dir}/df")
      .filter(col("pfx").isin(pfxes: _*))
      .join(broadcast(terms), "token")
      .groupBy(col("token")).agg(sum(col("df")).as("df"))
    val statsLong = readCur(spark, s"${info.dir}/stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    Retrieval.scoreAgainst(pruned, qterms, dfq, statsLong, excludeSelf)
  }

  /** q74: q72's BM25 top-k served from the persisted index —
    * BIT-IDENTICAL to q72 by construction (same posting/df/stats
    * values through [[Retrieval.scoreAgainst]]'s one expression tree);
    * Verify's twin gate enforces it on every full run. Serving cost is
    * |matching postings|, independent of vocabulary and corpus
    * breadth (see [[queryScores]]). Stateless driver contract →
    * per-call [[ensure]]; session-holding callers keep the `info`. */
  def q74Bm25TopKIdx(spark: SparkSession, sfDir: String): DataFrame = {
    val info = ensure(spark, sfDir)
    // np=0: nothing tokenized, no part files to serve from — the
    // ad-hoc twin is free on a token-less corpus and identical by
    // construction (both produce the empty result)
    if (info.np == 0) return Retrieval.q72Bm25TopK(spark, sfDir)
    val scores = queryScores(spark, info,
      Retrieval.bm25QueryTerms(spark), excludeSelf = false)
    Retrieval.topkPerQuery(scores, col("score").cast("double"),
        col("doc_id"), Retrieval.bm25K, "doc_id", "score", _.cast("long"))
      .orderBy(col("query_id"), col("rnk"))
  }

  final case class AppendInfo(docs: Long, postings: Long,
      replayed: Boolean)

  /** Incremental maintenance: index `batch` (doc_id, text) rows that
    * were JUST APPENDED to the corpus — cost ∝ batch (tokenize the
    * batch, append its posting/df/stats partials), no rebuild, and
    * because every persisted value is an exact additive fact (unlike
    * the ANN index's trained artifacts) the appended index keeps
    * serving answers BIT-IDENTICAL to a fresh rebuild on the grown
    * corpus — append preserves the twin gate, not just a recall floor.
    *
    * Replay idempotence is an O(1) LEDGER, not the ANN path's
    * distinct-id anti-join: each applied batch stamps an empty file
    * named by its xor fingerprint under `batches/`, so a replayed
    * micro-batch is recognized by one driver-side existence probe
    * instead of a posting-table scan that grows with the index (the
    * IngestCommit lesson: per-batch work must not scale with the
    * corpus). Identical-content batches collide on the ledger by
    * construction — and identical content means duplicate doc_ids in
    * the corpus, which the next full validation refuses anyway.
    *
    * Write order (LEDGER first, then data → meta) is what makes every
    * crash window heal loudly instead of serving silently wrong. The
    * dangerous window is a crash after SOME data landed: were the
    * ledger stamped last, the sink's replay would re-append and
    * double the postings while producing a self-consistent meta.
    * Ledger-first inverts it: a replay after ANY mid-append crash
    * no-ops on the ledger probe, so the batch's partial (or absent)
    * data is never doubled, meta.fp stays at its pre-batch value, and
    * the next ensure's full validation sees the corpus/fp mismatch
    * and rebuilds — a crashed append costs one rebuild, never a wrong
    * answer. The ledger survives rebuilds ([[build]] moves `batches/`
    * into the shadow before the swap), so a replay from before the
    * last rebuild no-ops too — the rebuild re-indexed the whole
    * corpus, those docs included.
    *
    * appendBatch deliberately does NOT stamp the validation token:
    * the token's zero-job fast path may only vouch for a state that
    * was VERIFIED against the corpus, and an append verifies only its
    * own delta — meta could already have diverged (e.g. a ledger
    * entry lost to an external delete let a replay double-append).
    * Stamping here would freeze that divergence behind the fast path
    * indefinitely; skipping means the next [[ensure]] pays ONE full
    * fingerprint validation (which re-stamps on success, or rebuilds
    * on any mismatch) — divergence is always detected at the next
    * serve, never served. */
  def appendBatch(spark: SparkSession, sfDir: String,
      batch: DataFrame): AppendInfo = {
    val dir = dirFor(spark, sfDir)
    StoreKernel.mutate(spark, dir, "append") {
    val m = meta(spark, dir).getOrElse(throw new IllegalStateException(
      s"no lexical index at $dir — ensure() before appendBatch()"))
    require(dialsOk(m),
      s"index at $dir was built under different dials/format " +
        s"(meta: v${m.version}, pfx=${m.pfx_parts}) — rebuild before " +
        "appending")
    // deletion contract: no re-add before compact folds the ghost
    // postings (see the deletion section)
    tombsOf(spark, dir).refuseReAdd(batch, dir,
      "compact() folds its tombstone")
    val (bn, bfp) = countAndFingerprint(batch)
    if (bn == 0) return AppendInfo(0, 0, replayed = false)
    val ledger = s"$dir/batches/${java.lang.Long.toHexString(bfp)}_$bn"
    val (fs, lp) = graft.Scratch.fs(spark, ledger)
    if (fs.exists(lp)) return AppendInfo(0, 0, replayed = true)
    // fence before the first visible write (the ledger entry)
    graft.sources.WriterLease.verify(spark, dir)
    // ledger BEFORE data — see the ordering contract above
    fs.mkdirs(lp.getParent)
    fs.create(lp, true).close()
    val tfB = graft.Materialize(
      Retrieval.termFreqs(batch).withColumn("pfx", pfxOf(col("token"))))
    val npB = tfB.count()
    if (npB > 0) {
      tfB.repartition(col("pfx")).write.mode(SaveMode.Append)
        .partitionBy("pfx").parquet(cur(spark, s"$dir/tf"))
      tfB.groupBy(col("pfx"), col("token")).agg(count(lit(1)).as("df"))
        .repartition(col("pfx")).write.mode(SaveMode.Append)
        .partitionBy("pfx").parquet(cur(spark, s"$dir/df"))
    }
    Retrieval.corpusStatsLong(batch).coalesce(1)
      .write.mode(SaveMode.Append).parquet(cur(spark, s"$dir/stats"))
    val m2 = m.copy(n = m.n + bn, fp = m.fp ^ bfp, np = m.np + npB)
    StoreKernel.writeMeta(spark, dir, m2)
    // NO token stamp — see the scaladoc; the next ensure validates
    // m2 against the live corpus before any zero-job serving
    AppendInfo(bn, npB, replayed = false)
  } }

  /** Consolidate append debris: one file per pfx dir again, df
    * partials merged back to one row per term, stats partials to one
    * row — CONTENT-PRESERVING per table (the read path sums partials,
    * and a merged partial sums to the same longs), so q74's answers
    * are bit-unchanged and a crash between the per-table swaps leaves
    * every table independently correct (the stale token just forces
    * one full validation). The `batches/` ledger is kept, here and
    * across rebuilds ([[build]] carries it into the new store so that
    * pre-rebuild replays keep no-opping): it grows by one empty file
    * per applied batch. @return (part files before, after) */
  def compact(spark: SparkSession, sfDir: String): (Int, Int) = {
    val dir = dirFor(spark, sfDir)
    // the token is re-stamped only when it vouched for the state before
    // (StoreKernel.preserving); "content-preserving" includes the
    // tombstone fold below: the folded tables serve byte-identically
    // to what the anti-join + negative partials served before it
    StoreKernel.mutate(spark, dir, "compact") {
    StoreKernel.preserving(spark, kernelStore(spark, sfDir, dir)) {
      val m = meta(spark, dir).getOrElse(return (0, 0))
      if (m.np == 0) return (0, 0)
      val tombs = tombsOf(spark, dir)
      val (tombN, tombXor) = (tombs.rows, tombs.xor)
      def files(): Int = {
        // current generations only: retired copies awaiting their TTL
        // are storage, not layout
        val (fs, p) = graft.Scratch.fs(spark, dir)
        graft.sources.Generations.walkCurrentFiles(fs, p).count { s =>
          val nm = s.getPath.getName
          nm.endsWith(".parquet") && !nm.startsWith("_") && !nm.startsWith(".")
        }
      }
      val before = files()
      def rewrite(sub: String, transform: DataFrame => DataFrame,
          partitioned: Boolean): Unit = {
        val path = s"$dir/$sub"
        // retained-generation commit (reader snapshot isolation): the
        // previous table generation stays at its planned paths until
        // the Generations TTL, so a mid-compaction BM25 scan completes
        val shadow = graft.sources.Generations.shadowFor(spark, path)
        val w = transform(readCur(spark, path))
        val writer =
          if (partitioned)
            w.repartition(col("pfx")).write.mode(SaveMode.Overwrite)
              .partitionBy("pfx")
          else w.coalesce(1).write.mode(SaveMode.Overwrite)
        writer.parquet(shadow)
        graft.sources.WriterLease.verify(spark, dir)
        graft.sources.Generations.commit(spark, path, shadow)
      }
      // tombstone FOLD rides the same rewrite (deletion lifecycle):
      // ghost postings drop out of tf, the negative df partials merge
      // to the survivor counts (zero-sum tokens vanish — they
      // contribute nothing to any query), stats partials merge, then
      // meta folds and the sidecar clears. Crash windows converge by
      // ensure-rebuild, and can never resurrect (the corpus rewrite
      // happened at deleteDocs time).
      val tombIds0 = Some(tombs).filterNot(_.isEmpty)
      // folded posting count, computed BEFORE any rewrite: a zero-row
      // partitioned write leaves an unreadable shell, so when every
      // surviving doc is blank the fold is SKIPPED (sidecar stays;
      // the anti-join + negative partials keep serving correct) —
      // the np==0 read guard can then never meet a shell it can't read
      val np2 = tombIds0.map(_.drop(readCur(spark, s"$dir/tf")).count())
      val tombIds = if (np2.contains(0L)) {
        System.err.println(s"[lexidx] tombstone fold skipped at $dir: " +
          "every surviving posting row would vanish (blank survivors)")
        None
      } else tombIds0
      rewrite("tf", d => tombIds.fold(d)(_.drop(d)), partitioned = true)
      // the zero-sum drop runs ONLY when the tombstone fold does: in
      // the skipped (blank-survivor) state every token can net to 0 —
      // filtering would then write a zero-row partitioned shell that
      // no later read (queryScores' df leg, the next compact) could
      // even open. Keeping net-zero ROWS is content-preserving (they
      // contribute nothing to any sum); when the fold runs, surviving
      // tf rows guarantee surviving nonzero df rows, so the drop is
      // safe there.
      rewrite("df", d => {
        val merged = d.groupBy(col("pfx"), col("token"))
          .agg(sum(col("df")).as("df"))
        if (tombIds.nonEmpty) merged.filter(col("df") =!= 0) else merged
      }, partitioned = true)
      rewrite("stats", _.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sum_dl")).as("sum_dl")), partitioned = false)
      if (tombN > 0 && tombIds.nonEmpty) {
        StoreKernel.writeMeta(spark, dir,
          m.copy(n = m.n - tombN, fp = m.fp ^ tombXor, np = np2.get))
        StoreKernel.clearTombstones(spark, dir)
      }
      (before, files())
    } }
  }

  /** q75: q73's hybrid RRF with BOTH legs served from persisted
    * indexes — the deployment shape of hybrid search (a standing
    * lexical index + a standing ANN index, per-query cost = pruned
    * posting dirs + nprobe cells; nothing rebuilds per call beyond
    * the stateless-contract ensures).
    *
    * The lexical leg is BIT-IDENTICAL to q73's (same persisted values
    * through the one scoring tree). The vector leg swaps q73's exact
    * cosine for the persisted IVF×PQ probe at the same query ids and
    * leg depth — approximate, so q75 as a whole is gated on fused
    * top-k OVERLAP against the exact q73 dump (Verify.hybridGate;
    * below-floor dumps are deleted → hard driver FAIL), not on a SQL
    * oracle. Rank-only fusion means leg error stays bounded: the
    * exact lexical contributions are unchanged, and a vector-leg rank
    * perturbation moves a doc's fused score by at most its own RRF
    * term. */
  def q75HybridRrfIdx(spark: SparkSession, sfDir: String): DataFrame = {
    val lexInfo = ensure(spark, sfDir)
    val docs = Tables.load(spark, sfDir, "documents")
    val qterms = docs
      .filter(col("doc_id") < Retrieval.hybridQueries)
      .select(col("doc_id").as("query_id"),
        explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("token"))
      .distinct()
    // np=0 → the ad-hoc scorer (free on a token-less corpus, same
    // empty leg) instead of reading part-file-less tables
    val lexScores =
      if (lexInfo.np == 0)
        Retrieval.bm25Scores(docs, qterms, excludeSelf = true)
      else queryScores(spark, lexInfo, qterms, excludeSelf = true)
    val lex = Retrieval.topkPerQuery(lexScores,
      col("score").cast("double"), col("doc_id"),
      Retrieval.hybridLegK, "id", "score", _.cast("long"))
    val vec = IndexStore.queryIvfPq(spark, sfDir,
        IndexStore.ensure(spark, sfDir),
        kk = Retrieval.hybridLegK, maxQuery = Retrieval.hybridQueries)
      .select(col("query_id"), col("rank").as("rnk"),
        col("neighbor_id").as("id"))
    Retrieval.rrfFuse(lex, vec)
  }
}
