package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{StoreKernel, Tables}

/** [[Retention.forget]]/[[Retention.forgetWhere]] — the user-facing
  * multi-store forget: predicate kill sets removed from both corpora
  * and excluded from serving, replay convergence, the deferred-fold
  * default vs foldNow, and the index-less plain-rewrite path (same
  * shadow+promote + corpus-lease discipline, VERDICT r15 #2). */
class RetentionSpec extends SparkSpec {
  import spark.implicits._

  private def deleteDir(path: String): Unit = {
    val (fs, p) = graft.Scratch.fs(spark, path)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def freshCorpus(): String = {
    val dir = java.nio.file.Files.createTempDirectory("ret_corpus").toString
    Tables.load(spark, sfDir, "documents")
      .write.parquet(s"$dir/documents.parquet")
    Tables.load(spark, sfDir, "embeddings")
      .write.parquet(s"$dir/embeddings.parquet")
    Seq(LexIndex.dirFor(spark, dir), IndexStore.dirFor(spark, dir))
      .foreach(deleteDir)
    dir
  }

  test("forgetWhere removes the predicate rows from both corpora and " +
    "both stores' serving, a replay no-ops, and foldNow on the replay " +
    "folds the pending tombstones physically") {
    val dir = freshCorpus()
    LexIndex.ensure(spark, dir)
    IndexStore.ensure(spark, dir)
    val docPred = col("doc_id") % 13 === 2
    val vecPred = col("vec_id") % 13 === 2
    val killDocs = Tables.load(spark, dir, "documents")
      .filter(docPred).select("doc_id").as[Long].collect().toSet
    val killVecs = Tables.load(spark, dir, "embeddings")
      .filter(vecPred).select("vec_id").as[Long].collect().toSet
    assert(killDocs.nonEmpty && killVecs.nonEmpty)

    val st = Retention.forgetWhere(spark, dir,
      Some(docPred), Some(vecPred))
    assert(st.docsTombstoned == killDocs.size &&
      st.docsRemovedFromCorpus == killDocs.size)
    assert(st.vecsTombstoned == killVecs.size &&
      st.vecsRemovedFromCorpus == killVecs.size)
    assert(!st.foldedLex && !st.foldedAnn)
    // corpora rewritten
    assert(Tables.load(spark, dir, "documents").filter(docPred).isEmpty)
    assert(Tables.load(spark, dir, "embeddings").filter(vecPred).isEmpty)
    // serving excludes from this instant (pre-fold: via tombstones)
    val lexInfo = LexIndex.ensure(spark, dir)
    assert(!lexInfo.builtNow && lexInfo.n == 500 - killDocs.size)
    val annInfo = IndexStore.ensure(spark, dir)
    assert(!annInfo.builtNow && annInfo.n == 500 - killVecs.size)
    val served = IndexStore.queryIvfPq(spark, dir, annInfo)
    assert(served
      .filter(col("neighbor_id").isin(killVecs.toSeq: _*)).isEmpty,
      "a forgotten vec_id was served as a neighbor")

    // replay: predicate over the rewritten corpus is empty — no-op
    val st2 = Retention.forgetWhere(spark, dir,
      Some(docPred), Some(vecPred))
    assert(st2.docsTombstoned == 0 && st2.vecsTombstoned == 0 &&
      st2.docsRemovedFromCorpus == 0 && st2.vecsRemovedFromCorpus == 0)

    // foldNow on a replay folds the PENDING tombstones from the first
    // call (the amortized-compaction shape: many forgets, one fold)
    val st3 = Retention.forgetWhere(spark, dir,
      Some(docPred), Some(vecPred), foldNow = true)
    assert(st3.foldedLex && st3.foldedAnn)
    assert(StoreKernel.tombstoneFrame(spark,
      LexIndex.dirFor(spark, dir)).isEmpty)
    assert(StoreKernel.tombstoneFrame(spark,
      IndexStore.dirFor(spark, dir)).isEmpty)
    // folded serving still excludes (now physically) and validates
    // with no rebuild
    val annInfo2 = IndexStore.ensure(spark, dir)
    assert(!annInfo2.builtNow && annInfo2.n == 500 - killVecs.size)
  }

  test("forget on a never-indexed corpus rewrites the table through " +
    "the shadow+promote + corpus-lease path: rows gone, replay " +
    "no-ops, a later ensure builds over the survivors") {
    val dir = freshCorpus()
    // no ensure — no stores exist
    val killDocs = Seq(3L, 7L, 11L)
    val killVecs = Seq(2L, 5L)
    val st = Retention.forget(spark, dir,
      docIds = Some(killDocs.toDF("doc_id")),
      vecIds = Some(killVecs.toDF("vec_id")),
      foldNow = true) // nothing derived to fold — must not throw
    assert(st.docsTombstoned == 0 && st.vecsTombstoned == 0,
      "an index-less side has no derived state to tombstone")
    assert(st.docsRemovedFromCorpus == killDocs.size &&
      st.vecsRemovedFromCorpus == killVecs.size)
    assert(!st.foldedLex && !st.foldedAnn)
    assert(Tables.load(spark, dir, "documents")
      .filter(col("doc_id").isin(killDocs: _*)).isEmpty)
    assert(Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id").isin(killVecs: _*)).isEmpty)
    // replay converges: the ids are gone, nothing rewrites
    val st2 = Retention.forget(spark, dir,
      docIds = Some(killDocs.toDF("doc_id")),
      vecIds = Some(killVecs.toDF("vec_id")))
    assert(st2.docsRemovedFromCorpus == 0 && st2.vecsRemovedFromCorpus == 0)
    // a later ensure builds over the survivors — no ghost state
    val lexInfo = LexIndex.ensure(spark, dir)
    assert(lexInfo.builtNow && lexInfo.n == 500 - killDocs.size)
    // and a no-op forget (nothing to forget) is legal without stores
    val st3 = Retention.forget(spark, dir)
    assert(st3 == Retention.ForgetStats(0, 0, 0, 0, false, false))
  }

  test("index-less forget serializes against a live corpus-lease " +
    "holder: a held foreign lease refuses it loudly after the bounded " +
    "wait, and the table is untouched") {
    import graft.sources.{LeaseHeldException, WriterLease}
    val dir = freshCorpus()
    val oldW = System.getProperty("graft.lease.waitMs")
    System.setProperty("graft.lease.waitMs", "300")
    try {
      // forge a live ingest batch's corpus lease from another process
      val (fs, p) = graft.Scratch.fs(spark, WriterLease.leasePathOf(dir))
      val out = fs.create(p, true)
      try out.write("graftlease|1|4|foreign-owner|ingest".getBytes("UTF-8"))
      finally out.close()
      val before = Tables.load(spark, dir, "documents").count()
      intercept[LeaseHeldException] {
        Retention.forget(spark, dir,
          docIds = Some(Seq(3L).toDF("doc_id")))
      }
      assert(Tables.load(spark, dir, "documents").count() == before,
        "a refused forget mutated the corpus")
      fs.delete(p, false)
      // with the lease free the same forget completes
      val st = Retention.forget(spark, dir,
        docIds = Some(Seq(3L).toDF("doc_id")))
      assert(st.docsRemovedFromCorpus == 1)
    } finally {
      if (oldW == null) System.clearProperty("graft.lease.waitMs")
      else System.setProperty("graft.lease.waitMs", oldW)
    }
  }
}
