package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Index-backed ingest screen (q76) + the veclists sidecar lifecycle.
  *
  * The operator's contract mirrors q71's: rejections are EXACT
  * (in-join cosine verify), so the only error is a missed corpus
  * partner — admitted ⊇ exact-admitted, with a floored rejected-id
  * recall. The sidecar's contract is the IndexStore/LexIndex
  * discipline: validate-or-rebuild against the index identity, append
  * at cost ∝ batch, replay no-ops, and every crash window heals by
  * rebuild — never by serving lists that are silently missing rows.
  */
class IngestScreenSpec extends SparkSpec {

  import spark.implicits._

  private def ids(df: DataFrame): Set[Long] =
    df.select("vec_id").as[Long].collect().toSet

  private def deleteDir(path: String): Unit = {
    val (fs, p) = graft.Scratch.fs(spark, path)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def writeCorpus(df: DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("annvl_corpus")
      .toString
    df.write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("q76 never rejects a batch vector the exact screen keeps, and " +
    "finds the floored share of the exact rejects") {
    deleteDir(IndexStore.dirFor(spark, sfDir))
    deleteDir(IngestScreen.listsDir(spark, sfDir))
    val batchIds = ids(graft.sources.Tables
      .load(spark, sfDir, "embeddings")
      .filter(IngestScreen.batchPred).select(col("vec_id")))
    val admitted = ids(IngestScreen.q76IngestScreen(spark, sfDir))
    val exactRejected = ids(IngestScreen.exactRejects(spark, sfDir))
    val annRejected = batchIds -- admitted
    assert(admitted.subsetOf(batchIds))
    assert((annRejected -- exactRejected).isEmpty,
      s"q76 rejected ${(annRejected -- exactRejected).size} vector(s) " +
        "the exact screen keeps — the verify stage is exact, so this " +
        "is a defect")
    val recall =
      if (exactRejected.isEmpty) 1.0
      else (exactRejected & annRejected).size.toDouble / exactRejected.size
    info(f"rejected-id recall $recall%.4f over ${exactRejected.size} " +
      "exact rejects")
    assert(recall >= graft.Verify.screenFloor,
      f"rejected-id recall $recall%.4f below ${graft.Verify.screenFloor}")
  }

  test("ensureLists builds once then validates, and an index append " +
    "the lists never saw heals by rebuild") {
    val base = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val corpus = writeCorpus(base.filter(col("vec_id") < 200))
    val idxDir = IndexStore.dirFor(spark, corpus)
    try {
      val info = IndexStore.ensure(spark, corpus)
      assert(IngestScreen.ensureLists(spark, corpus, info) > 0.0,
        "first ensureLists must build")
      assert(IngestScreen.ensureLists(spark, corpus, info) == 0.0,
        "second ensureLists must validate without building")
      // grow the INDEX and the corpus but not the lists — the crash
      // window the marker exists to catch (appendLists crashed or
      // never ran; the grown index validates against the grown corpus
      // with no rebuild, so nothing ELSE will notice). The stale
      // marker must read as a mismatch and rebuild.
      val batch = base.filter(col("vec_id") >= 200 && col("vec_id") < 250)
      IndexStore.appendBatch(spark, idxDir, batch)
      batch.write.mode("append").parquet(s"$corpus/embeddings.parquet")
      val grown = IndexStore.ensure(spark, corpus)
      assert(!grown.builtNow,
        "the appended index must validate against the grown corpus — " +
          "otherwise this test exercises a rebuild, not the lists marker")
      assert(IngestScreen.ensureLists(spark, corpus, grown) > 0.0,
        "lists behind the index must rebuild, not validate")
      assert(IngestScreen.ensureLists(spark, corpus, grown) == 0.0,
        "healed lists must validate")
    } finally {
      deleteDir(idxDir)
      deleteDir(IngestScreen.listsDir(spark, corpus))
      deleteDir(corpus)
    }
  }

  test("appendLists costs ∝ batch, replays as a no-op, and keeps the " +
    "marker in lockstep with the index meta") {
    val base = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val corpus = writeCorpus(base.filter(col("vec_id") < 200))
    val idxDir = IndexStore.dirFor(spark, corpus)
    try {
      val info = IndexStore.ensure(spark, corpus)
      IngestScreen.ensureLists(spark, corpus, info)
      val batch = base.filter(col("vec_id") >= 200 && col("vec_id") < 260)
      IndexStore.appendBatch(spark, idxDir, batch)
      assert(IngestScreen.appendLists(spark, corpus, batch) > 0L)
      // replay: every id already listed — no rows appended, marker
      // untouched
      assert(IngestScreen.appendLists(spark, corpus, batch) === 0L)
      // lockstep: after the paired appends the lists marker equals the
      // index meta, so ensureLists VALIDATES (no rebuild) once the
      // corpus append completes the trio
      batch.write.mode("append").parquet(s"$corpus/embeddings.parquet")
      assert(IngestScreen.ensureLists(spark, corpus,
          IndexStore.ensure(spark, corpus)) == 0.0,
        "append-maintained lists must validate against the grown index")
    } finally {
      deleteDir(idxDir)
      deleteDir(IngestScreen.listsDir(spark, corpus))
      deleteDir(corpus)
    }
  }

  test("a stranded pending sentinel forces a rebuild even under a " +
    "matching marker — ghost lists rows can never phantom-reject") {
    // the window: appendLists crashed mid-flight AND the batch never
    // replays (checkpoint loss) AND an index rebuild discarded the
    // crashed batch's index rows — marker and index meta then AGREE
    // while the lists data carry ghost rows. The sentinel is the only
    // witness; its presence must read as "rebuild".
    val base = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val corpus = writeCorpus(base.filter(col("vec_id") < 200))
    val idxDir = IndexStore.dirFor(spark, corpus)
    val vlDir = IngestScreen.listsDir(spark, corpus)
    try {
      val info = IndexStore.ensure(spark, corpus)
      IngestScreen.ensureLists(spark, corpus, info)
      val (fs, pending) = graft.Scratch.fs(spark, s"$vlDir/pending")
      fs.create(pending, true).close()
      assert(IngestScreen.ensureLists(spark, corpus, info) > 0.0,
        "a pending sentinel must force a rebuild despite the matching " +
          "marker")
      val (fs2, p2) = graft.Scratch.fs(spark, s"$vlDir/pending")
      assert(!fs2.exists(p2), "the rebuild's promote must clear the " +
        "sentinel with the rest of the old dir")
      assert(IngestScreen.ensureLists(spark, corpus, info) == 0.0)
    } finally {
      deleteDir(idxDir)
      deleteDir(vlDir)
      deleteDir(corpus)
    }
  }

  test("a same-identity index RETRAIN (policy rebuild over an " +
    "append-grown corpus) invalidates the lists marker") {
    // the blind spot: a rebuild over the grown corpus reproduces the
    // same (n, fp, nl, dials) while retraining the centroids — the
    // hash-least seed set shifts with the appended ids — so a marker
    // that pinned only those fields would validate lists bucketed
    // under DEAD cell geometry and the screen would silently lose
    // candidates forever. res_norm/appended_n in the marker close it.
    val base = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val corpus = writeCorpus(base.filter(col("vec_id") < 200))
    val idxDir = IndexStore.dirFor(spark, corpus)
    val vlDir = IngestScreen.listsDir(spark, corpus)
    try {
      val info = IndexStore.ensure(spark, corpus)
      IngestScreen.ensureLists(spark, corpus, info)
      val batch = base.filter(col("vec_id") >= 200 && col("vec_id") < 250)
      IndexStore.appendBatch(spark, idxDir, batch)
      IngestScreen.appendLists(spark, corpus, batch)
      batch.write.mode("append").parquet(s"$corpus/embeddings.parquet")
      val grown = IndexStore.ensure(spark, corpus)
      assert(!grown.builtNow)
      assert(IngestScreen.ensureLists(spark, corpus, grown) == 0.0,
        "lockstep appends must validate")
      // the policy retrain: same corpus identity, fresh artifacts
      val retrained = IndexStore.ensure(spark, corpus,
        Some(IndexStore.RebuildPolicy(appendFractionAt = 0.1)))
      assert(retrained.builtNow,
        "the append fraction (50/250) must trip the policy rebuild")
      assert(retrained.n === grown.n && retrained.nl === grown.nl,
        "the rebuild must reproduce the same (n, nl) for this forgery " +
          "to exercise the blind spot")
      assert(IngestScreen.ensureLists(spark, corpus, retrained) > 0.0,
        "lists under pre-retrain cell geometry must rebuild, not " +
          "validate")
      assert(IngestScreen.ensureLists(spark, corpus, retrained) == 0.0)
    } finally {
      deleteDir(idxDir)
      deleteDir(vlDir)
      deleteDir(corpus)
    }
  }

  test("lists policy compaction collapses append slivers content-" +
    "preservingly: same rows, marker still validates, screen identical") {
    import spark.implicits._
    val base = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val corpus = writeCorpus(base.filter(col("vec_id") < 200))
    val idxDir = IndexStore.dirFor(spark, corpus)
    val vlDir = IngestScreen.listsDir(spark, corpus)
    try {
      val info = IndexStore.ensure(spark, corpus)
      IngestScreen.ensureLists(spark, corpus, info)
      // land several append slivers
      (0 until 3).foreach { i =>
        val batch = base
          .filter(col("vec_id") >= 200 + i * 20 &&
            col("vec_id") < 220 + i * 20)
        IndexStore.appendBatch(spark, idxDir, batch)
        IngestScreen.appendLists(spark, corpus, batch)
        batch.write.mode("append").parquet(s"$corpus/embeddings.parquet")
      }
      val (fs, _) = graft.Scratch.fs(spark, vlDir)
      // current generation (compactVecLists commits retained gens)
      def listsCur(): String =
        graft.sources.Generations.resolve(spark, s"$vlDir/lists")
      def files(): Int = fs.globStatus(new org.apache.hadoop.fs.Path(
        s"${listsCur()}/cell=*/*.parquet")).length
      def rows(): Map[Long, (Double, Long)] =
        spark.read.parquet(listsCur())
          .select(col("vec_id"), col("nrm"),
            col("cell").cast("long"))
          .as[(Long, Double, Long)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
      val (beforeFiles, beforeRows) = (files(), rows())
      // threshold 2: the three slivers + build file trip it
      val grown = IndexStore.ensure(spark, corpus)
      assert(IngestScreen.ensureLists(spark, corpus, grown,
        compactAtFilesPerCell = 2) == 0.0)
      assert(files() < beforeFiles,
        s"compaction did not reduce files ($beforeFiles -> ${files()})")
      assert(rows() === beforeRows, "compaction moved or lost rows")
      assert(IngestScreen.ensureLists(spark, corpus, grown) == 0.0,
        "marker must still validate after a content-preserving rewrite")
    } finally {
      deleteDir(idxDir)
      deleteDir(vlDir)
      deleteDir(corpus)
    }
  }

  test("the streaming-shape screen (broadcast probes) matches the " +
    "gate-shape screen and partition-prunes the lists scan") {
    val info = IndexStore.ensure(spark, sfDir)
    IngestScreen.ensureLists(spark, sfDir, info)
    val e = Similarity.prepped(spark, sfDir).filter(Similarity.validNorm)
    val batch = e.filter(IngestScreen.batchPred).limit(20)
    val np = IngestScreen.screenNprobeFor(info.nl)
    val streamShape = IngestScreen.screenRejects(spark, sfDir, info,
      batch, np, iidFilter = !IngestScreen.batchPred,
      broadcastProbes = true)
    val gateShape = IngestScreen.screenRejects(spark, sfDir, info,
      batch, np, iidFilter = !IngestScreen.batchPred,
      broadcastProbes = false)
    streamShape.collect() // AQE: final plan exists only after execution
    val plan = streamShape.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      "broadcast-probe screen lost its dynamic partition pruning — " +
        "per-batch cost would scale with the corpus")
    assert(ids(streamShape) === ids(gateShape),
      "the two join shapes must reject identical id sets")
  }

  /** A 200-vector corpus with its index and lists built, then one
    * append sliver landed in the index, the lists and the corpus:
    * (corpus dir, the grown index's info, the appendLists job
    * count). */
  private def listsWithSliver(): (String, IndexStore.BuildInfo, Int) = {
    val base = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val corpus = writeCorpus(base.filter(col("vec_id") < 200))
    IngestScreen.ensureLists(spark, corpus, IndexStore.ensure(spark, corpus))
    val batch = base.filter(col("vec_id") >= 200 && col("vec_id") < 220)
    IndexStore.appendBatch(spark, IndexStore.dirFor(spark, corpus), batch)
    val appendJobs = jobsDuring {
      assert(IngestScreen.appendLists(spark, corpus, batch) === 20L) }
    batch.write.mode("append").parquet(s"$corpus/embeddings.parquet")
    (corpus, IndexStore.ensure(spark, corpus), appendJobs)
  }

  private def listsFiles(corpus: String): Int =
    graft.sources.Maintenance.cellFiles(spark,
      s"${IngestScreen.listsDir(spark, corpus)}/lists").size

  private def dropStores(corpus: String): Unit = {
    deleteDir(IndexStore.dirFor(spark, corpus))
    deleteDir(IngestScreen.listsDir(spark, corpus))
    deleteDir(corpus)
  }

  test("request job budgets: appendLists and a policied ensureLists " +
    "that compacts run a pinned number of Spark jobs") {
    val (corpus, grown, appendJobs) = listsWithSliver()
    try {
      val before = listsFiles(corpus)
      val compactJobs = jobsDuring {
        assert(IngestScreen.ensureLists(spark, corpus, grown,
          compactAtFilesPerCell = 2) == 0.0) }
      assert(listsFiles(corpus) < before, "the policy did not compact")
      assert((appendJobs, compactJobs) === ((13, 2)))
    } finally dropStores(corpus)
  }

  test("a policied ensureLists compacts after releasing the lists " +
    "monitor: a concurrent holder of the lease, then the monitor (the " +
    "compactVecLists order), never stalls it into LeaseHeldException") {
    import graft.sources.{StoreKernel, WriterLease}
    val (corpus, grown, _) = listsWithSliver()
    val vlDir = IngestScreen.listsDir(spark, corpus)
    val oldW = System.getProperty("graft.lease.waitMs")
    System.setProperty("graft.lease.waitMs", "2000")
    try {
      val before = listsFiles(corpus)
      val leased = new java.util.concurrent.CountDownLatch(1)
      val holder = new Thread(() => WriterLease.withWrite(spark, vlDir,
          "compact") {
        leased.countDown()
        Thread.sleep(500)
        StoreKernel.monitorFor(vlDir).synchronized(Thread.sleep(100))
      })
      holder.start()
      leased.await()
      assert(IngestScreen.ensureLists(spark, corpus, grown,
        compactAtFilesPerCell = 2) == 0.0)
      holder.join()
      assert(listsFiles(corpus) < before, "the policy did not compact")
    } finally {
      if (oldW == null) System.clearProperty("graft.lease.waitMs")
      else System.setProperty("graft.lease.waitMs", oldW)
      dropStores(corpus)
    }
  }
}
