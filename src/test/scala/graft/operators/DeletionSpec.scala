package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{StoreKernel, Tables}

/** Deletion lifecycle (q79/q80): tombstone serving, ensure's folded
  * validation + crash-window heal, compaction fold, re-add refusal —
  * across both persisted stores. */
class DeletionSpec extends SparkSpec {
  import spark.implicits._

  private def deleteDir(path: String): Unit = {
    val (fs, p) = graft.Scratch.fs(spark, path)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Scratch corpus with BOTH tables copied from the fixture. */
  private def freshCorpus(): String = {
    val dir = java.nio.file.Files.createTempDirectory("del_corpus").toString
    Tables.load(spark, sfDir, "embeddings")
      .write.parquet(s"$dir/embeddings.parquet")
    Tables.load(spark, sfDir, "documents")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  // a kill-set small enough to stay inside the built nlist boundary
  // (500 → 470 vectors keeps nlistFor at the 16 floor), so the
  // NO-REBUILD tombstone-serving path is what these tests exercise
  private def killVecs(dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") % 17 === 3).select(col("vec_id"))

  private def vecIds(df: DataFrame): Set[Long] =
    df.select(col("vec_id")).as[Long].collect().toSet

  test("ANN delete: tombstones exclude killed ids from every serve, " +
    "the corpus is rewritten, ensure validates WITHOUT rebuild, and a " +
    "replay no-ops") {
    val dir = freshCorpus()
    val idxDir = IndexStore.dirFor(spark, dir)
    deleteDir(idxDir)
    IndexStore.ensure(spark, dir)
    val kills = vecIds(killVecs(dir))
    assert(kills.nonEmpty)
    val st = IndexStore.deleteBatch(spark, dir,
      kills.toSeq.toDF("vec_id"))
    assert(st.tombstoned == kills.size && st.removedFromCorpus == kills.size)
    // corpus rewritten
    assert((vecIds(Tables.load(spark, dir, "embeddings")) & kills).isEmpty)
    // ensure: validated, NOT rebuilt (same-nl delete), effective n
    val info = IndexStore.ensure(spark, dir)
    assert(!info.builtNow, "ensure rebuilt after a same-nl delete — " +
      "the tombstone-folded validation is broken")
    assert(info.n == 500 - kills.size)
    // ghost codes rows still present physically, but no serve leaks
    val codesIds = vecIds(
      IndexStore.withDeltaOf(spark, idxDir, "codes")(identity))
    assert((codesIds & kills) == kills, "expected pre-fold ghost rows")
    val served = IndexStore.queryIvfPq(spark, dir, info)
    assert(served.filter(col("neighbor_id").isin(kills.toSeq: _*))
      .isEmpty, "a deleted id was served as a neighbor")
    val dedupSurv = vecIds(IndexStore.queryEmbedDedup(spark, dir, info))
    assert((dedupSurv & kills).isEmpty)
    // replay: same kill-set is a pure no-op
    val st2 = IndexStore.deleteBatch(spark, dir, kills.toSeq.toDF("vec_id"))
    assert(st2.tombstoned == 0 && st2.removedFromCorpus == 0)
  }

  test("ANN delete: appendBatch refuses a tombstoned id; compaction " +
    "folds physically (meta, codes, sidecar) and serving is " +
    "bit-identical across the fold; re-add is legal after it") {
    val dir = freshCorpus()
    val idxDir = IndexStore.dirFor(spark, dir)
    deleteDir(idxDir)
    IndexStore.ensure(spark, dir)
    val kills = vecIds(killVecs(dir))
    val killedRows = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id").isin(kills.toSeq: _*))
      .select(col("vec_id"), col("embedding")).collect()
    IndexStore.deleteBatch(spark, dir, kills.toSeq.toDF("vec_id"))
    val info = IndexStore.ensure(spark, dir)
    // refusal: one tombstoned id in a batch is refused loudly
    val oneKilled = spark.createDataFrame(
      java.util.List.of(killedRows.head),
      Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding")).schema)
    val ex = intercept[IllegalStateException] {
      IndexStore.appendBatch(spark, idxDir, oneKilled)
    }
    assert(ex.getMessage.contains("tombstoned"))
    val before = IndexStore.queryIvfPq(spark, dir, info)
      .collect().map(_.toSeq).toSet
    // FOLD
    graft.sources.Maintenance.compactAnnIndex(spark, idxDir)
    assert(StoreKernel.tombstoneFrame(spark, idxDir).isEmpty,
      "sidecar must clear at the fold")
    val codesIds = vecIds(
      IndexStore.withDeltaOf(spark, idxDir, "codes")(identity))
    assert((codesIds & kills).isEmpty, "ghost rows survived the fold")
    assert(IndexStore.appendState(spark, idxDir).exists(_._2 ==
      500 - kills.size), "meta.n must fold")
    val info2 = IndexStore.ensure(spark, dir)
    assert(!info2.builtNow, "ensure rebuilt after the fold")
    val after = IndexStore.queryIvfPq(spark, dir, info2)
      .collect().map(_.toSeq).toSet
    assert(after == before, "serving changed across the physical fold")
    // re-add after the fold is legal and indexes the row again
    val st = IndexStore.appendBatch(spark, idxDir, oneKilled)
    assert(st.appended == 1)
  }

  test("ANN delete of a never-indexed short (63-element) embedding " +
    "folds nothing: ensure validates without a rebuild and the " +
    "compaction keeps meta.n") {
    val dir = java.nio.file.Files.createTempDirectory("del_short").toString
    val fixture = Tables.load(spark, sfDir, "embeddings")
    val short = fixture.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(100000L))
      .withColumn("embedding", slice(col("embedding"), 1, 63))
    fixture.unionByName(short).write.parquet(s"$dir/embeddings.parquet")
    val idxDir = IndexStore.dirFor(spark, dir)
    deleteDir(idxDir)
    try {
      assert(IndexStore.ensure(spark, dir).n == 500,
        "the short row must not be indexed")
      val st = IndexStore.deleteBatch(spark, dir, Seq(100000L).toDF("vec_id"))
      assert(st.tombstoned == 1 && st.removedFromCorpus == 1)
      val info = IndexStore.ensure(spark, dir)
      assert(!info.builtNow, "the tombstone of a never-fingerprinted " +
        "row folded into the identity and forced a rebuild")
      assert(info.n == 500)
      graft.sources.Maintenance.compactAnnIndex(spark, idxDir)
      assert(IndexStore.appendState(spark, idxDir).exists(_._2 == 500),
        "the compaction folded a never-counted row out of meta.n")
    } finally {
      deleteDir(idxDir)
      deleteDir(dir)
    }
  }

  test("foldAtTombstones policy: ensure folds the sidecar once at the " +
    "threshold, serving is bit-identical across the policy fold, and " +
    "the next policied ensure is a no-op") {
    val dir = freshCorpus()
    val idxDir = IndexStore.dirFor(spark, dir)
    deleteDir(idxDir)
    IndexStore.ensure(spark, dir)
    val kills = vecIds(killVecs(dir))
    IndexStore.deleteBatch(spark, dir, kills.toSeq.toDF("vec_id"))
    // below threshold: tombstones stay pending (serving anti-joins)
    val lax = IndexStore.RebuildPolicy(
      foldAtTombstones = kills.size + 1L)
    val infoLax = IndexStore.ensure(spark, dir, Some(lax))
    assert(!infoLax.builtNow)
    assert(StoreKernel.tombstoneFrame(spark, idxDir).nonEmpty,
      "a below-threshold sidecar must not fold")
    val before = IndexStore.queryIvfPq(spark, dir, infoLax)
      .collect().map(_.toSeq).toSet
    // at threshold: the fold fires inside ensure, no manual call
    val strict = IndexStore.RebuildPolicy(
      foldAtTombstones = kills.size.toLong)
    val info = IndexStore.ensure(spark, dir, Some(strict))
    assert(!info.builtNow, "the policy fold must compact, not rebuild")
    assert(StoreKernel.tombstoneFrame(spark, idxDir).isEmpty,
      "sidecar must clear at the policy fold")
    assert(IndexStore.appendState(spark, idxDir).exists(_._2 ==
      500 - kills.size), "meta.n must fold")
    val after = IndexStore.queryIvfPq(spark, dir, info)
      .collect().map(_.toSeq).toSet
    assert(after == before, "serving changed across the policy fold")
    // fired once: the sidecar is gone, a replayed policied ensure
    // must neither fold again nor rebuild
    val info2 = IndexStore.ensure(spark, dir, Some(strict))
    assert(!info2.builtNow && info2.n == 500 - kills.size)
  }

  test("lexical foldAtTombstones policy: ensure folds the sidecar at " +
    "the threshold, q74 serving is bit-identical across the fold, and " +
    "a replayed policied ensure no-ops") {
    val dir = freshCorpus()
    val lexDir = LexIndex.dirFor(spark, dir)
    deleteDir(lexDir)
    LexIndex.ensure(spark, dir)
    val kills = Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 17 === 3).select(col("doc_id"))
      .as[Long].collect().toSet
    assert(kills.nonEmpty)
    LexIndex.deleteDocs(spark, dir, kills.toSeq.toDF("doc_id"))
    // below threshold: pending tombstones keep serving via anti-join
    val infoLax = LexIndex.ensure(spark, dir,
      foldAtTombstones = kills.size + 1L)
    assert(!infoLax.builtNow && infoLax.n == 500 - kills.size)
    assert(StoreKernel.tombstoneFrame(spark, lexDir).nonEmpty,
      "a below-threshold sidecar must not fold")
    val before = LexIndex.q74Bm25TopKIdx(spark, dir)
      .collect().map(_.toSeq).toSet
    // at threshold: the fold fires inside ensure
    val info = LexIndex.ensure(spark, dir,
      foldAtTombstones = kills.size.toLong)
    assert(!info.builtNow && info.n == 500 - kills.size,
      "the policy fold must compact, not rebuild")
    assert(StoreKernel.tombstoneFrame(spark, lexDir).isEmpty,
      "sidecar must clear at the policy fold")
    val after = LexIndex.q74Bm25TopKIdx(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(after == before, "BM25 serving changed across the policy fold")
    // fired once: replay neither folds again nor rebuilds
    val info2 = LexIndex.ensure(spark, dir,
      foldAtTombstones = kills.size.toLong)
    assert(!info2.builtNow && info2.n == 500 - kills.size)
  }

  test("ANN crash window (tombstones stamped, corpus rewrite lost): " +
    "ensure completes the rewrite and validates without rebuild — " +
    "deleted rows never resurrect") {
    val dir = freshCorpus()
    val idxDir = IndexStore.dirFor(spark, dir)
    deleteDir(idxDir)
    IndexStore.ensure(spark, dir)
    val kills = vecIds(killVecs(dir))
    // forge the crash: stamp the tombstone file exactly as deleteBatch
    // would, but leave the corpus untouched
    val v = col("embedding").cast("array<double>")
    val nrm = sqrt(graft.functions.VectorFunctions.dotD(v, v))
    val homes = IndexStore.withDeltaOf(spark, idxDir, "codes")(
      _.filter(col("sub") === 0)).select(col("vec_id"), col("cell"))
    Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id").isin(kills.toSeq: _*))
      .select(col("vec_id"),
        xxhash64(col("vec_id"), col("embedding")).as("rowfp"),
        (nrm > 0 && nrm < Double.PositiveInfinity).as("valid"))
      .join(homes, Seq("vec_id"), "left")
      .repartition(1).write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(StoreKernel.tombDirOf(idxDir))
    // the window: corpus still carries the killed rows
    assert((vecIds(Tables.load(spark, dir, "embeddings")) & kills)
      == kills)
    val info = IndexStore.ensure(spark, dir)
    assert(!info.builtNow,
      "ensure rebuilt inside the delete crash window — the heal + " +
        "folded validation should have served")
    assert((vecIds(Tables.load(spark, dir, "embeddings")) & kills)
      .isEmpty, "ensure did not complete the crashed corpus rewrite")
    assert(IndexStore.queryIvfPq(spark, dir, info)
      .filter(col("neighbor_id").isin(kills.toSeq: _*)).isEmpty)
  }

  test("ANN compaction commits neither codes table when either shadow " +
    "write fails, and skips the fold when every indexed row is " +
    "tombstoned — serving stays exact and a rebuild converges") {
    // 40 indexable rows plus one zero-norm row: the zero-norm row is
    // never indexed, so deleting all 40 keeps the corpus rewrite legal
    // while tombstones cover every indexed row
    val dir = java.nio.file.Files.createTempDirectory("del_fold").toString
    val fixture = Tables.load(spark, sfDir, "embeddings")
    fixture.filter(col("vec_id") < 40)
      .unionByName(fixture.filter(col("vec_id") === 40).select(
        lit(1000000L).as("vec_id"),
        transform(col("embedding"), x => x * 0.0f).as("embedding"),
        col("label")))
      .write.parquet(s"$dir/embeddings.parquet")
    val idxDir = IndexStore.dirFor(spark, dir)
    try {
      assert(IndexStore.ensure(spark, dir).builtNow)
      def gens = Seq("codes", "rcodes").map(t =>
        graft.sources.Generations.resolve(spark, s"$idxDir/$t"))
      val gens0 = gens
      val firstKills = (0L until 20L).toSet
      IndexStore.deleteBatch(spark, dir, firstKills.toSeq.toDF("vec_id"))
      // a shadow write that fails, on the caller's table (codes) and on
      // the helper thread's (rcodes): a cell file that is not the
      // schema file is garbled for the one attempt, then restored
      for (t <- Seq("codes", "rcodes")) {
        val f = graft.sources.Maintenance.cellFiles(spark, s"$idxDir/$t")
          .map(_.getPath.toUri).sortBy(_.toString).last
        val p = java.nio.file.Paths.get(f)
        val bytes = java.nio.file.Files.readAllBytes(p)
        java.nio.file.Files.write(p, "not parquet".getBytes("UTF-8"))
        try intercept[Exception](
          graft.sources.Maintenance.compactAnnIndex(spark, idxDir))
        finally java.nio.file.Files.write(p, bytes)
        assert(gens == gens0, s"a failed $t write committed a table")
        assert(StoreKernel.tombstoneFrame(spark, idxDir).nonEmpty)
        assert(IndexStore.appendState(spark, idxDir).contains((0L, 40L)))
      }
      // every indexed row tombstoned: no generation, sidecar kept
      val rest = (20L until 40L).toSet
      IndexStore.deleteBatch(spark, dir, rest.toSeq.toDF("vec_id"))
      val (before, after) =
        graft.sources.Maintenance.compactAnnIndex(spark, idxDir)
      assert(before == after)
      assert(gens == gens0, "a zero-row rewrite committed a generation")
      assert(StoreKernel.tombstoneFrame(spark, idxDir).nonEmpty,
        "the sidecar must survive a skipped fold")
      assert(IndexStore.appendState(spark, idxDir).contains((0L, 40L)))
      val info = IndexStore.ensure(spark, dir)
      assert(!info.builtNow && info.n == 0)
      assert(IndexStore.queryIvfPq(spark, dir, info)
        .filter(col("neighbor_id").isin((firstKills ++ rest).toSeq: _*))
        .isEmpty, "a deleted id was served after the skipped fold")
      // the next rebuild converges physically: empty index, no sidecar,
      // and ensure validates it
      IndexStore.build(spark, dir, idxDir)
      assert(StoreKernel.tombstoneFrame(spark, idxDir).isEmpty)
      assert(IndexStore.appendState(spark, idxDir).contains((0L, 0L)))
      assert(!IndexStore.ensure(spark, dir).builtNow)
    } finally {
      deleteDir(idxDir)
      deleteDir(dir)
    }
  }

  test("streaming re-add of a tombstoned id converges: the sink folds " +
    "once and retries instead of crash-looping the replay") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val all = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    def slice(lo: Long, hi: Long): Seq[(Long, Array[Float])] =
      all.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .as[(Long, Array[Float])].collect().toSeq
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft_del_readd").toString + "/corpus"
    val idxDir = IndexStore.dirFor(spark, corpusDir)
    deleteDir(idxDir)
    val ms = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamOps.vectorIngestStream(
        ms.toDF().toDF("vec_id", "embedding"), corpusDir)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_del_readd_ckpt").toString)
      .start()
    try {
      ms.addData(slice(0, 300))
      q.processAllAvailable()
      // delete one id through the real lifecycle, then re-stream it:
      // the corpus anti-join admits it (the row left the corpus), and
      // appendBatch's tombstone refusal must be recovered by the FOLD,
      // not by an ensure that validates the refusing state
      IndexStore.deleteBatch(spark, corpusDir, Seq(7L).toDF("vec_id"))
      ms.addData(slice(7, 8))
      q.processAllAvailable()
      assert(q.exception.isEmpty,
        s"stream died on the tombstoned re-add: ${q.exception}")
      assert(StoreKernel.tombstoneFrame(spark, idxDir).isEmpty,
        "the recovery fold did not clear the tombstone")
      val served = IndexStore.queryIvfPq(spark, corpusDir,
        IndexStore.ensure(spark, corpusDir))
      // the re-added id is back in corpus + index (it may or may not
      // be a top-k neighbor; membership is what the contract promises)
      val codesIds = IndexStore
        .withDeltaOf(spark, idxDir, "codes")(_.filter(col("sub") === 0))
        .select("vec_id").as[Long].collect().toSet
      assert(codesIds.contains(7L), "re-added id missing from the index")
      assert(served.count() > 0)
    } finally q.stop()
  }

  test("docs-sink deletion composition: deleting a streamed doc via " +
    "deleteDocs frees its content — the dedup indexes' ghost rows are " +
    "invisible through the marker fallback, so a near-dup of deleted " +
    "content is re-admitted, and the lexical index stops serving it") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft_del_docs").toString + "/corpus"
    deleteDir(LexIndex.dirFor(spark, corpusDir))
    val textA = "the quick brown fox jumps over the lazy dog tonight"
    val textB = "colorless green ideas sleep furiously every single night"
    val ms = MemoryStream[(Long, String, String)]
    val q = graft.streaming.StreamOps.incrementalIngestStream(
        ms.toDF().toDF("doc_id", "text", "lang"), corpusDir)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_del_docs_ckpt").toString)
      .start()
    try {
      ms.addData(Seq((1L, textA, "en"), (2L, textB, "en")))
      q.processAllAvailable()
      // sanity: a near-dup of doc 1 is screened out while 1 stands
      ms.addData(Seq((3L, textA + " again", "en")))
      q.processAllAvailable()
      assert(docIds(spark.read.parquet(
        graft.sources.Generations.resolve(spark, corpusDir))) == Set(1L, 2L))
      // DELETE doc 1 through the real lifecycle (the docsPath resolver
      // lets deleteDocs operate on the streaming corpus layout): the
      // corpus rewrite invalidates the ingest marker's file-identity
      // subset check, so the sink falls back to the committed-doc
      // semi-join — the ghost __sh/__bands rows of doc 1 become
      // invisible BY DESIGN, not by a separate index delete
      LexIndex.deleteDocs(spark, corpusDir, Seq(1L).toDF("doc_id"))
      assert(docIds(spark.read.parquet(
        graft.sources.Generations.resolve(spark, corpusDir))) == Set(2L))
      // a near-dup of the DELETED content must now be admitted — a
      // phantom rejection here would mean deleted content still
      // suppresses future ingest forever
      ms.addData(Seq((4L, textA + " again", "en")))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
      assert(docIds(spark.read.parquet(
        graft.sources.Generations.resolve(spark, corpusDir))) == Set(2L, 4L),
        "deleted content phantom-rejected its re-admission")
      // and the lexical side serves the survivors + the re-admission,
      // never the deleted doc
      val info = LexIndex.ensure(spark, corpusDir)
      assert(!info.builtNow || info.n == 2,
        "lexical state inconsistent after delete + re-admit")
      val qterms = Seq((9L, "quick")).toDF("query_id", "token")
      val hits = LexIndex.queryScores(spark, info, qterms,
        excludeSelf = false).select(col("doc_id")).as[Long].collect().toSet
      assert(hits.contains(4L) && !hits.contains(1L),
        s"lexical serve leaked the deleted doc or missed the re-admit: $hits")
    } finally q.stop()
  }

  private def killDocs(dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 13 === 2).select(col("doc_id"))

  private def docIds(df: DataFrame): Set[Long] =
    df.select(col("doc_id")).as[Long].collect().toSet

  private def bm25Rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("lexical delete: post-delete q74 serve is BIT-IDENTICAL to an " +
    "index rebuilt on the survivors (exact subtraction), ensure " +
    "validates without rebuild, replay no-ops, compact folds, and a " +
    "tombstoned doc_id is refused until the fold") {
    val dir = freshCorpus()
    val lexDir = LexIndex.dirFor(spark, dir)
    deleteDir(lexDir)
    LexIndex.ensure(spark, dir)
    val kills = docIds(killDocs(dir))
    assert(kills.nonEmpty)
    val killedRows = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id").isin(kills.toSeq: _*)).collect()
    val st = LexIndex.deleteDocs(spark, dir, kills.toSeq.toDF("doc_id"))
    assert(st.tombstoned == kills.size && st.removedFromCorpus == kills.size)
    // survivor-twin corpus: a SECOND scratch dir holding only the
    // survivors, indexed fresh — the ground truth the deleted index
    // must match byte-for-byte
    val twinDir = java.nio.file.Files
      .createTempDirectory("del_lex_twin").toString
    Tables.load(spark, dir, "documents")
      .write.parquet(s"$twinDir/documents.parquet")
    deleteDir(LexIndex.dirFor(spark, twinDir))
    val got = bm25Rows(LexIndex.q74Bm25TopKIdx(spark, dir))
    val want = bm25Rows(LexIndex.q74Bm25TopKIdx(spark, twinDir))
    assert(got == want,
      "deleted-index BM25 diverged from the survivor rebuild")
    assert(!LexIndex.ensure(spark, dir).builtNow,
      "lexical ensure rebuilt after a clean delete")
    // replay no-op
    val st2 = LexIndex.deleteDocs(spark, dir, kills.toSeq.toDF("doc_id"))
    assert(st2.tombstoned == 0 && st2.removedFromCorpus == 0)
    // re-add refusal until the fold
    val oneKilled = spark.createDataFrame(
      java.util.List.of(killedRows.head),
      Tables.load(spark, sfDir, "documents").schema)
    val ex = intercept[IllegalStateException] {
      LexIndex.appendBatch(spark, dir, oneKilled)
    }
    assert(ex.getMessage.contains("tombstoned"))
    // FOLD: physical removal, sidecar cleared, serving unchanged
    LexIndex.compact(spark, dir)
    assert(StoreKernel.tombstoneFrame(spark, lexDir).isEmpty)
    assert(bm25Rows(LexIndex.q74Bm25TopKIdx(spark, dir)) == want,
      "serving changed across the lexical fold")
    // re-add now legal
    val ai = LexIndex.appendBatch(spark, dir, oneKilled)
    assert(ai.docs == 1 && !ai.replayed)
  }

  test("lexical crash window (tombstones stamped, negative partials " +
    "lost): ensure heals the corpus and REBUILDS loudly — the " +
    "stats-sum integrity leg sees the missing subtraction") {
    val dir = freshCorpus()
    val lexDir = LexIndex.dirFor(spark, dir)
    deleteDir(lexDir)
    LexIndex.ensure(spark, dir)
    val kills = docIds(killDocs(dir))
    // forge: tombstones only — no negative partials, corpus untouched
    Tables.load(spark, dir, "documents")
      .filter(col("doc_id").isin(kills.toSeq: _*))
      .select(col("doc_id"),
        xxhash64(col("doc_id"), col("text")).as("rowfp"))
      .repartition(1).write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$lexDir/tombstones")
    val info = LexIndex.ensure(spark, dir)
    assert(info.builtNow,
      "ensure served a state whose df/stats still count deleted docs")
    assert((docIds(Tables.load(spark, dir, "documents")) & kills)
      .isEmpty, "ensure did not complete the crashed corpus rewrite")
    // the rebuild cleared the sidecar and serves the survivors
    assert(StoreKernel.tombstoneFrame(spark, lexDir).isEmpty)
    assert(info.n == 500 - kills.size)
  }

  test("a retention delete whose corpus rewrite is refused by a held " +
    "corpus-dir writer lease (a concurrent ingest batch) stops in the " +
    "documented healable state, and the replay completes it") {
    import graft.sources.{LeaseHeldException, WriterLease}
    val dir = freshCorpus()
    val lexDir = LexIndex.dirFor(spark, dir)
    deleteDir(lexDir)
    LexIndex.ensure(spark, dir)
    val kills = docIds(killDocs(dir))
    assert(kills.nonEmpty)
    // forge a live foreign corpus-dir lease (an in-flight ingest
    // batch in another JVM) and shrink the bounded wait
    val oldW = System.getProperty("graft.lease.waitMs")
    System.setProperty("graft.lease.waitMs", "300")
    try {
      val (fs, p) =
        graft.Scratch.fs(spark, WriterLease.leasePathOf(dir))
      val out = fs.create(p, true)
      try out.write("graftlease|1|4|foreign-owner|ingest"
        .getBytes("UTF-8")) finally out.close()
      intercept[LeaseHeldException] {
        LexIndex.deleteDocs(spark, dir,
          Tables.load(spark, dir, "documents")
            .filter(col("doc_id").isin(kills.toSeq: _*))
            .select(col("doc_id")))
      }
      // the refusal point is the corpus rewrite: tombstones + negative
      // partials landed (the crash-equivalent state ensure can heal),
      // the corpus itself is untouched
      assert(StoreKernel.tombstoneFrame(spark, lexDir).nonEmpty,
        "refusal happened before the tombstone commit point")
      assert((docIds(Tables.load(spark, dir, "documents")) & kills)
        == kills, "corpus rewrite ran under a foreign corpus lease")
      fs.delete(p, false)
    } finally {
      if (oldW == null) System.clearProperty("graft.lease.waitMs")
      else System.setProperty("graft.lease.waitMs", oldW)
    }
    // replay with the lease gone: already-tombstoned ids are skipped,
    // the pending rewrite completes (the replay IS the heal)
    val st = LexIndex.deleteDocs(spark, dir,
      Tables.load(spark, dir, "documents")
        .filter(col("doc_id").isin(kills.toSeq: _*)).select(col("doc_id")))
    assert(st.tombstoned == 0 && st.removedFromCorpus == kills.size)
    assert((docIds(Tables.load(spark, dir, "documents")) & kills).isEmpty)
    val info = LexIndex.ensure(spark, dir)
    assert(!info.builtNow,
      "ensure rebuilt after a completed replayed delete")
    assert(info.n == 500 - kills.size)
  }

  test("lexical crash window (tombstones + negative partials landed, " +
    "corpus rewrite refused by a held corpus-dir lease): ensure " +
    "completes the rewrite and serves WITHOUT rebuild, bit-identical " +
    "to a survivor rebuild, and the next ensure runs zero jobs") {
    import graft.sources.{LeaseHeldException, WriterLease}
    val dir = freshCorpus()
    val lexDir = LexIndex.dirFor(spark, dir)
    deleteDir(lexDir)
    LexIndex.ensure(spark, dir)
    val kills = docIds(killDocs(dir))
    assert(kills.nonEmpty)
    // the same foreign corpus-dir lease as the replay test above: the
    // delete stops after its tombstones and negative partials
    val oldW = System.getProperty("graft.lease.waitMs")
    System.setProperty("graft.lease.waitMs", "300")
    try {
      val (fs, p) =
        graft.Scratch.fs(spark, WriterLease.leasePathOf(dir))
      val out = fs.create(p, true)
      try out.write("graftlease|1|4|foreign-owner|ingest"
        .getBytes("UTF-8")) finally out.close()
      intercept[LeaseHeldException] {
        LexIndex.deleteDocs(spark, dir, kills.toSeq.toDF("doc_id"))
      }
      assert(StoreKernel.tombstoneFrame(spark, lexDir).nonEmpty)
      assert((docIds(Tables.load(spark, dir, "documents")) & kills)
        == kills)
      fs.delete(p, false)
    } finally {
      if (oldW == null) System.clearProperty("graft.lease.waitMs")
      else System.setProperty("graft.lease.waitMs", oldW)
    }
    // no replay: ensure itself heals the corpus and validates
    val info = LexIndex.ensure(spark, dir)
    assert(!info.builtNow,
      "ensure rebuilt a crashed delete whose partials had landed")
    assert(info.n == 500 - kills.size)
    assert((docIds(Tables.load(spark, dir, "documents")) & kills)
      .isEmpty, "ensure did not complete the crashed corpus rewrite")
    assert(jobsDuring(LexIndex.ensure(spark, dir)) == 0,
      "the ensure after the heal missed the token fast path")
    val twinDir = java.nio.file.Files
      .createTempDirectory("del_lex_heal_twin").toString
    Tables.load(spark, dir, "documents")
      .write.parquet(s"$twinDir/documents.parquet")
    deleteDir(LexIndex.dirFor(spark, twinDir))
    assert(bm25Rows(LexIndex.q74Bm25TopKIdx(spark, dir)) ==
      bm25Rows(LexIndex.q74Bm25TopKIdx(spark, twinDir)),
      "healed-index BM25 diverged from the survivor rebuild")
  }

  test("q81 correction lifecycle: erase → fold → corrected " +
    "re-admission leaves the final corpus with every kill-bucket doc " +
    "in its corrected form, no pending tombstones, and index-served " +
    "BM25 bit-identical to the ad-hoc twin on that corpus; torn-stage " +
    "replays converge to the same bytes") {
    val root = graft.Scratch.stableDir(spark, "corrpipe", sfDir)
    val corpusDir = s"$root/c"
    deleteDir(root)
    deleteDir(LexIndex.dirFor(spark, corpusDir))
    val r1 = DeletePipeline.q81CorrectionLex(spark, sfDir).collect().toSeq
    assert(r1.nonEmpty)
    // the kill bucket is present, corrected, exactly once per id
    val docs = Tables.load(spark, corpusDir, "documents")
    val killed = docs.filter(DeletePipeline.kill(col("doc_id")))
    assert(killed.limit(1).count() == 1, "empty kill bucket — the " +
      "lifecycle exercised nothing")
    assert(killed.filter(!col("text")
      .startsWith(DeletePipeline.correctionPrefix)).isEmpty,
      "a kill-bucket doc survived uncorrected")
    assert(killed.groupBy(col("doc_id")).count()
      .filter(col("count") > 1).isEmpty,
      "a corrected doc was admitted twice")
    assert(docs.count() ==
      Tables.load(spark, sfDir, "documents").count())
    // physically folded: no tombstones pending after the sequence
    assert(StoreKernel.tombstoneFrame(spark,
      LexIndex.dirFor(spark, corpusDir)).isEmpty)
    assert(StoreKernel.tombstoneFrame(spark,
      IndexStore.dirFor(spark, corpusDir)).isEmpty)
    // the ANN leg's xor fingerprint composes EXACTLY across
    // erase → fold → corrected re-admission: ensure validates the
    // final index against the final corpus with NO rebuild
    val annInfo = IndexStore.ensure(spark, corpusDir)
    assert(!annInfo.builtNow, "ensure rebuilt after the correction " +
      "lifecycle — the fingerprint fold across erase/fold/re-add is " +
      "broken")
    assert(annInfo.n ==
      Tables.load(spark, sfDir, "embeddings").count())
    // index-served = ad-hoc exact twin, bit for bit (exact
    // subtraction + exact re-addition is the q81 oracle's premise)
    val adhoc = Retrieval.q72Bm25TopK(spark, corpusDir).collect().toSeq
    assert(r1 == adhoc, "index-served BM25 diverged from the ad-hoc " +
      "twin on the corrected corpus")
    // torn append-stage marker: the replay no-ops (corpus anti-join
    // empty, appendBatch ledger hit) and serves identical bytes
    deleteDir(s"$root/_corrected")
    val r2 = DeletePipeline.q81CorrectionLex(spark, sfDir).collect().toSeq
    assert(r2 == r1)
    // losing BOTH stage sentinels re-runs erase + re-admission over
    // the already-corrected corpus — wasteful by design, and must
    // still converge to the same bytes (the ledger-hit no-op on the
    // index side heals through ensure's fingerprint rebuild)
    deleteDir(s"$root/_deleted")
    deleteDir(s"$root/_corrected")
    val r3 = DeletePipeline.q81CorrectionLex(spark, sfDir).collect().toSeq
    assert(r3 == r1)
    val killed3 = Tables.load(spark, corpusDir, "documents")
      .filter(DeletePipeline.kill(col("doc_id")))
    assert(killed3.filter(col("text").startsWith(
      DeletePipeline.correctionPrefix + DeletePipeline.correctionPrefix))
      .isEmpty, "a second correction pass stacked the prefix twice")
  }
}
