package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LexIndex lifecycle: the q74/q72 twin identity, freshness
  * validation (fingerprint + dial + token fast path), and the
  * rebuild-on-change / serve-when-current contract — the lexical
  * mirror of IndexStoreSpec's serving guarantees. */
class LexIndexSpec extends SparkSpec {

  private def rows(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().map(_.toSeq).groupBy(identity)
      .map { case (r, g) => (r, g.length) }

  private def deleteDir(path: String): Unit = {
    val (fs, p) = graft.Scratch.fs(spark, path)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** A scratch corpus dir whose `documents.parquet` we control. */
  private def writeCorpus(df: DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("lexidx_corpus")
      .toString
    df.write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("q74 (persisted inverted index) is bit-identical to q72 " +
    "(ad-hoc scan)") {
    deleteDir(LexIndex.dirFor(spark, sfDir)) // force a fresh build
    assert(rows(LexIndex.q74Bm25TopKIdx(spark, sfDir)) ===
      rows(Retrieval.q72Bm25TopK(spark, sfDir)))
  }

  test("ensure: current index serves zero-job on the token path, " +
    "full validation after token loss, rebuild on corpus change") {
    val base = graft.sources.Tables.load(spark, sfDir, "documents")
    val corpus = writeCorpus(base.filter(col("doc_id") < 300))
    val idxDir = LexIndex.dirFor(spark, corpus)
    try {
      assert(LexIndex.ensure(spark, corpus).builtNow)
      var info: LexIndex.BuildInfo = null
      assert(jobsDuring { info = LexIndex.ensure(spark, corpus) } === 0)
      assert(!info.builtNow && info.n === 300)
      // token gone: the next ensure pays the fingerprint scan +
      // integrity probe, serves WITHOUT rebuilding, re-stamps
      deleteDir(s"$idxDir/vtoken")
      assert(jobsDuring { info = LexIndex.ensure(spark, corpus) } > 0)
      assert(!info.builtNow)
      assert(jobsDuring { LexIndex.ensure(spark, corpus) } === 0)
      // corpus grows: fingerprint mismatch → rebuild picks up the rows
      base.filter(col("doc_id") >= 300 && col("doc_id") < 320)
        .write.mode("append").parquet(s"$corpus/documents.parquet")
      val rebuilt = LexIndex.ensure(spark, corpus)
      assert(rebuilt.builtNow && rebuilt.n === 320)
    } finally {
      deleteDir(idxDir)
      deleteDir(corpus)
    }
  }

  test("ensure: a torn index (lost table dir) is rebuilt, never served") {
    val base = graft.sources.Tables.load(spark, sfDir, "documents")
    val corpus = writeCorpus(base.filter(col("doc_id") < 200))
    val idxDir = LexIndex.dirFor(spark, corpus)
    try {
      assert(LexIndex.ensure(spark, corpus).builtNow)
      // simulate a swap/compaction crash: stats dir vanishes; the
      // token digest changes with it, so the fast path cannot mask it
      deleteDir(s"$idxDir/stats")
      val again = LexIndex.ensure(spark, corpus)
      assert(again.builtNow, "a torn index was served")
      // and the rebuilt index actually answers
      val (fs, p) = graft.Scratch.fs(spark, s"$idxDir/stats")
      assert(fs.exists(p))
    } finally {
      deleteDir(idxDir)
      deleteDir(corpus)
    }
  }

  test("q75: index-served hybrid keeps q73's lexical contributions " +
    "exactly — fused overlap at the fixture sits in the measured band") {
    deleteDir(LexIndex.dirFor(spark, sfDir))
    deleteDir(IndexStore.dirFor(spark, sfDir))
    val got = LexIndex.q75HybridRrfIdx(spark, sfDir).collect()
    val exact = Retrieval.q73HybridRrf(spark, sfDir).collect()
    // shape invariants: dense ranks, bounded k, no self-hit
    got.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.sortBy(_.getInt(1)).map(_.getInt(1)).toSeq ===
        (1 to rows.length))
      assert(rows.length <= Retrieval.hybridK)
      rows.foreach(r => assert(r.getLong(2) !== q))
    }
    // fused overlap vs exact — the gate's metric, asserted at the
    // fixture with the measured characteristic's slack (0.85 measured)
    def pairs(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(2))).toSet
    val overlap = (pairs(got) intersect pairs(exact)).size.toDouble /
      pairs(exact).size
    assert(overlap >= graft.Verify.hybridFloor,
      f"fused overlap $overlap%.2f under the gate floor")
  }

  test("appendBatch: serves bit-identically to a rebuild on the grown " +
    "corpus, replays no-op via the ledger, and a ledger-stamped " +
    "crashed batch heals by one loud rebuild, never a double-append") {
    val base = graft.sources.Tables.load(spark, sfDir, "documents")
    val corpus = writeCorpus(base.filter(col("doc_id") < 300))
    val idxDir = LexIndex.dirFor(spark, corpus)
    try {
      assert(LexIndex.ensure(spark, corpus).builtNow)
      // grow the corpus, then index the same rows incrementally
      val batch = base.filter(col("doc_id") >= 300 && col("doc_id") < 340)
      batch.write.mode("append").parquet(s"$corpus/documents.parquet")
      val info = LexIndex.appendBatch(spark, corpus, batch)
      assert(info.docs === 40 && info.postings > 0 && !info.replayed)
      // the appended index is CURRENT (xor fp caught up with the
      // corpus): ensure serves without a rebuild
      val served = LexIndex.ensure(spark, corpus)
      assert(!served.builtNow && served.n === 340)
      // replay: recognized by the ledger, zero work
      val r = LexIndex.appendBatch(spark, corpus, batch)
      assert(r.replayed && r.docs === 0)
      // bit-identity under appends: q74 from the appended index equals
      // q74 from a from-scratch rebuild on the same grown corpus
      val appended = rows(LexIndex.q74Bm25TopKIdx(spark, corpus))
      deleteDir(idxDir)
      val rebuilt = rows(LexIndex.q74Bm25TopKIdx(spark, corpus))
      assert(appended === rebuilt)
      // crash window: an append that stamped its ledger and then died
      // before (or during) the data writes. Forge the post-crash
      // state — ledger entry present, nothing else — and replay: the
      // replay must NO-OP (never double partial data), and the next
      // ensure must see the corpus/fp mismatch and rebuild loudly
      val batch2 = base.filter(col("doc_id") >= 340 && col("doc_id") < 360)
      batch2.write.mode("append").parquet(s"$corpus/documents.parquet")
      val bmeta = batch2.agg(count(lit(1)),
        expr("bit_xor(xxhash64(doc_id, text))")).head()
      val forged = s"$idxDir/batches/" +
        s"${java.lang.Long.toHexString(bmeta.getLong(1))}_${bmeta.getLong(0)}"
      val (ffs, fp_) = graft.Scratch.fs(spark, forged)
      ffs.mkdirs(fp_.getParent); ffs.create(fp_, true).close()
      assert(LexIndex.appendBatch(spark, corpus, batch2).replayed,
        "a ledger-stamped crashed batch must not re-append")
      val healed = LexIndex.ensure(spark, corpus)
      assert(healed.builtNow && healed.n === 360)
      assert(rows(LexIndex.q74Bm25TopKIdx(spark, corpus)).nonEmpty)
    } finally {
      deleteDir(idxDir)
      deleteDir(corpus)
    }
  }

  test("appendBatch: the replay ledger survives a rebuild (pre-rebuild " +
    "batches still no-op), appendBatch stamps no token, and a lost " +
    "ledger entry's double-append is DETECTED by the next ensure — " +
    "never served") {
    val base = graft.sources.Tables.load(spark, sfDir, "documents")
    val corpus = writeCorpus(base.filter(col("doc_id") < 300))
    val idxDir = LexIndex.dirFor(spark, corpus)
    try {
      assert(LexIndex.ensure(spark, corpus).builtNow)
      val batch = base.filter(col("doc_id") >= 300 && col("doc_id") < 340)
      batch.write.mode("append").parquet(s"$corpus/documents.parquet")
      assert(!LexIndex.appendBatch(spark, corpus, batch).replayed)
      // appendBatch leaves NO token: the first ensure after an append
      // must pay a full validation (jobs > 0), and only ITS stamp
      // re-opens the zero-job path
      assert(jobsDuring { assert(!LexIndex.ensure(spark, corpus).builtNow) }
        > 0, "post-append ensure must validate, not trust a token")
      assert(jobsDuring { LexIndex.ensure(spark, corpus) } === 0)
      // grow the corpus WITHOUT indexing the growth: the next ensure
      // sees the fp mismatch and rebuilds — and the ledger survives it
      val growth = base.filter(col("doc_id") >= 340 && col("doc_id") < 360)
      growth.write.mode("append").parquet(s"$corpus/documents.parquet")
      assert(LexIndex.ensure(spark, corpus).builtNow)
      val (lfs, lp) = graft.Scratch.fs(spark, s"$idxDir/batches")
      assert(lfs.exists(lp), "rebuild must carry the ledger over")
      // a replay of the PRE-REBUILD batch no-ops (its docs are in the
      // corpus the rebuild just re-indexed; re-appending would double)
      val r = LexIndex.appendBatch(spark, corpus, batch)
      assert(r.replayed && r.docs === 0,
        "pre-rebuild replay must no-op via the surviving ledger")
      val want = rows(LexIndex.q74Bm25TopKIdx(spark, corpus))
      // forge ledger loss (external delete): the replay now
      // re-appends — and the divergence MUST be caught by the next
      // ensure's full validation instead of being served
      lfs.delete(lp, true)
      assert(!LexIndex.appendBatch(spark, corpus, batch).replayed,
        "with its ledger entry gone the replay re-applies — the state " +
          "this test proves is detected, not served")
      val healed = LexIndex.ensure(spark, corpus)
      assert(healed.builtNow && healed.n === 360,
        "ensure must see the doubled meta vs the corpus and rebuild")
      assert(rows(LexIndex.q74Bm25TopKIdx(spark, corpus)) === want)
    } finally {
      deleteDir(idxDir)
      deleteDir(corpus)
    }
  }

  test("compact: merges append partials content-preservingly — q74 " +
    "bit-unchanged, fewer part files, df back to one row per term") {
    val base = graft.sources.Tables.load(spark, sfDir, "documents")
    val corpus = writeCorpus(base.filter(col("doc_id") < 200))
    val idxDir = LexIndex.dirFor(spark, corpus)
    try {
      assert(LexIndex.ensure(spark, corpus).builtNow)
      Seq((200L, 260L), (260L, 300L)).foreach { case (lo, hi) =>
        val b = base.filter(col("doc_id") >= lo && col("doc_id") < hi)
        b.write.mode("append").parquet(s"$corpus/documents.parquet")
        assert(!LexIndex.appendBatch(spark, corpus, b).replayed)
      }
      val want = rows(LexIndex.q74Bm25TopKIdx(spark, corpus))
      val (before, after) = LexIndex.compact(spark, corpus)
      assert(after < before, s"no consolidation ($before -> $after)")
      assert(rows(LexIndex.q74Bm25TopKIdx(spark, corpus)) === want)
      // df partials merged: at most one row per term again
      val dups = spark.read.parquet(
          graft.sources.Generations.resolve(spark, s"$idxDir/df"))
        .groupBy(col("token")).count().filter(col("count") > 1)
      assert(dups.isEmpty, "df still carries unmerged partials")
      assert(spark.read.parquet(
        graft.sources.Generations.resolve(spark, s"$idxDir/stats"))
        .count() === 1)
      // the re-stamped token keeps the index serving without rebuild
      assert(!LexIndex.ensure(spark, corpus).builtNow)
    } finally {
      deleteDir(idxDir)
      deleteDir(corpus)
    }
  }

  test("a token-less corpus (all blank/null text) builds an empty " +
    "index and serves the empty result instead of reading " +
    "part-file-less tables") {
    import spark.implicits._
    val blank = Seq((0L, ""), (1L, "   "), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val corpus = writeCorpus(blank)
    try {
      val info = LexIndex.ensure(spark, corpus)
      assert(info.builtNow && info.np === 0 && info.n === 3)
      // a partitioned parquet dir with zero part files cannot even
      // infer a schema — the np=0 delegate must keep q74 off it
      assert(LexIndex.q74Bm25TopKIdx(spark, corpus).collect().isEmpty)
      assert(!LexIndex.ensure(spark, corpus).builtNow)
    } finally {
      deleteDir(LexIndex.dirFor(spark, corpus))
      deleteDir(corpus)
    }
  }

  test("build refuses a duplicate-keyed corpus loudly") {
    val base = graft.sources.Tables.load(spark, sfDir, "documents")
    val dup = base.filter(col("doc_id") < 10)
      .unionByName(base.filter(col("doc_id") < 5))
    val corpus = writeCorpus(dup)
    try {
      val e = intercept[IllegalArgumentException] {
        LexIndex.ensure(spark, corpus)
      }
      assert(e.getMessage.contains("duplicate doc_id"))
    } finally {
      deleteDir(LexIndex.dirFor(spark, corpus))
      deleteDir(corpus)
    }
  }

  test("request job budgets: appendBatch, deleteDocs and a policied " +
    "ensure that folds run a pinned number of Spark jobs") {
    val base = graft.sources.Tables.load(spark, sfDir, "documents")
    val corpus = writeCorpus(base.filter(col("doc_id") < 300))
    val idxDir = LexIndex.dirFor(spark, corpus)
    try {
      assert(LexIndex.ensure(spark, corpus).builtNow)
      val batch = base.filter(col("doc_id") >= 300 && col("doc_id") < 320)
      batch.write.mode("append").parquet(s"$corpus/documents.parquet")
      val appendJobs = jobsDuring { LexIndex.appendBatch(spark, corpus, batch) }
      assert(!LexIndex.ensure(spark, corpus).builtNow)
      val kills = base.filter(col("doc_id") >= 100 && col("doc_id") < 110)
        .select(col("doc_id"))
      val deleteJobs = jobsDuring { LexIndex.deleteDocs(spark, corpus, kills) }
      var info: LexIndex.BuildInfo = null
      val foldJobs = jobsDuring {
        info = LexIndex.ensure(spark, corpus, foldAtTombstones = 10L) }
      assert(!info.builtNow && info.n === 310)
      assert(graft.sources.StoreKernel.tombstoneFrame(spark, idxDir).isEmpty,
        "the policied ensure did not fold")
      assert((appendJobs, deleteJobs, foldJobs) === ((15, 21, 18)))
    } finally {
      deleteDir(idxDir)
      deleteDir(corpus)
    }
  }
}
