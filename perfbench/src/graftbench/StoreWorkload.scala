package graftbench

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.IndexStore
import graft.sources.Generations

/** Reads beside writes on the persisted ANN store. The generated
  * embeddings are replicated [[replicas]] times with a seeded offset per
  * copy, the shape `scripts/make_sfbig.py` gives with divisor 2, and
  * built cold into the `IndexStore` index. Requests then run in rounds:
  * an append batch, a delete batch, two q69 serves. A serve is what a
  * stateless caller runs: `ensure` under [[policy]], then the persisted
  * IVF x PQ query, collected to the driver. The program decides when to
  * compact: once a delete batch leaves [[batchRows]] pending tombstones,
  * the policy compacts inside the next serve's `ensure` (after its full
  * validation), folding the tombstones and the round's append sliver.
  * The serve after it finds nothing changed and takes the fast path.
  *
  * Appends land before deletes and both batches have [[batchRows]]
  * rows, so the served corpus size stays inside one `nlistFor` step and
  * no serve retrains. Appended vectors are perturbed copies of live
  * corpus vectors, so they carry no drift that would make the policy
  * rebuild; the first of each batch is a near-copy of a query vector,
  * so a later serve must return it. */
final class StoreWorkload(spark: SparkSession, dataDir: String,
    work: String, seed: Long, ops: Ops) extends Workload {
  import StoreWorkload._
  import spark.implicits._

  private val corpus = s"$work/corpus"
  private val table = s"$corpus/embeddings.parquet"
  private val rnd = new scala.util.Random(seed)
  private var nextId = 10000000L
  private var rounds = 0
  private var live = IndexedSeq.empty[Long]
  private var vecOf = Map.empty[Long, Seq[Float]]
  private val killed = scala.collection.mutable.Set.empty[Long]
  private var buildS = 0.0
  private var queryVecs = IndexedSeq.empty[(Long, Seq[Float])]
  // (appended id, query id it near-copies)
  private var twins = Seq.empty[(Long, Long)]
  // deleted ids not yet folded by a compaction, summed over the serves
  // that found them
  private var pending = 0L
  private var pendingAtServe = 0L
  private var serves = 0L
  private var compactions = 0
  private var lastServed = Set.empty[(Long, Long)]
  private var maxFiles = 0L

  private def idxDir = IndexStore.dirFor(spark, corpus)

  def setup(): Unit = {
    val off = (1 + rnd.nextInt(1000)) * 1e-6
    val embs = spark.read.parquet(s"$dataDir/embeddings.parquet")
    embs.crossJoin(spark.range(replicas).select(col("id").as("r"))).select(
        (col("vec_id") + col("r") * replicaStride).as("vec_id"),
        transform(col("embedding"),
          x => x + (col("r") * lit(off)).cast("float")).as("embedding"),
        col("label"))
      .write.parquet(table)
    val t0 = Clock.nowMs()
    IndexStore.ensure(spark, corpus, Some(policy))
    buildS = (Clock.nowMs() - t0) / 1000
    val all = spark.read.parquet(table).select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    vecOf = all.toMap
    // query ids are never deleted, so every serve answers the same batch
    live = all.map(_._1).filter(_ >= graft.operators.Similarity.knnQueries)
      .toIndexedSeq
    queryVecs = all.filter(_._1 < graft.operators.Similarity.knnQueries)
      .toIndexedSeq
  }

  /** One q69 serve; returns the (query, neighbour) pairs it served. */
  private def serve(): Seq[(Long, Long)] = {
    val info = Trace.span("operators.IndexStore.ensure") {
      IndexStore.ensure(spark, corpus, Some(policy))
    }
    Trace.span("operators.IndexStore.query_exec", "query" -> "q69") {
      // building the plan (the call into the program), then running it
      val df = Trace.span("operators.build", "query" -> "q69") {
        IndexStore.queryIvfPq(spark, corpus, info)
      }
      Trace.span("operators.exec", "query" -> "q69")(pairs(df))
    }
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .as[(Long, Long)].collect().toSeq

  private def generation: String =
    Generations.resolve(spark, s"$idxDir/codes")

  /** Part files a reader of the index opens: the current generation of
    * both codes tables and their delta buffers. */
  private def indexFiles: Long = Seq("codes", "rcodes").map { t =>
    Disk.parquetFiles(Generations.resolve(spark, s"$idxDir/$t")) +
      Disk.parquetFiles(s"$idxDir/${t}_delta")
  }.sum

  private def serveRequest(): Unit = {
    val genBefore = generation
    maxFiles = math.max(maxFiles, indexFiles)
    pendingAtServe += pending
    var got = Seq.empty[(Long, Long)]
    ops.run("serve")({ got = serve(); got.size.toLong })
    if (generation != genBefore) {
      // the policy compacted inside this serve's ensure
      compactions += 1
      pending = 0
    }
    lastServed = got.toSet
    val bad = got.map(_._2).filter(killed)
    ops.check("store.no_deleted_served", bad.isEmpty,
      if (bad.isEmpty) "" else s"served deleted ids ${bad.take(5)}")
    serves += 1
  }

  private def appendBatch(ids: Seq[Long], vecs: Seq[Seq[Float]]): Long = {
    val vdf = ids.zip(vecs).map { case (i, v) => (i, v, 0) }
      .toDF("vec_id", "embedding", "label")
    Trace.span("operators.IndexStore.append") {
      vdf.write.mode(SaveMode.Append)
        .parquet(Generations.resolve(spark, table))
      IndexStore.appendBatch(spark, idxDir, vdf.select("vec_id", "embedding"))
    }
    ids.size.toLong
  }

  private def deleteBatch(kill: Seq[Long]): Long = {
    Trace.span("operators.IndexStore.delete") {
      IndexStore.deleteBatch(spark, corpus, kill.toDF("vec_id"))
    }
    kill.size.toLong
  }

  private def unit(v: Seq[Float]): Seq[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  private def perturb(v: Seq[Float], sd: Double): Seq[Float] =
    unit(v.map(x => x + (rnd.nextGaussian() * sd).toFloat))

  def unitSeconds: Double = 20

  def runUnits(n: Int): Unit = (1 to n).foreach { _ =>
    // inputs are drawn before the timed requests
    val ids = (0 until batchRows).map(_ => { nextId += 1; nextId })
    val (twinOf, twinVec) = queryVecs(rounds % queryVecs.size)
    val vecs = perturb(twinVec, 1e-4) +: Seq.fill(batchRows - 1)(
      perturb(vecOf(live(rnd.nextInt(live.size))), 0.05))
    val protect = (twins.map(_._1) :+ ids.head).toSet
    val kill = rnd.shuffle(live.filterNot(protect)).take(batchRows)

    ops.run("append")(appendBatch(ids, vecs))
    twins :+= (ids.head -> twinOf)
    live ++= ids
    vecOf ++= ids.zip(vecs)
    ops.run("delete")(deleteBatch(kill))
    killed ++= kill
    live = live.filterNot(kill.toSet)
    pending += kill.size
    // what the store serves before the policy compacts, read from the
    // meta without ensure (untimed)
    val before = Trace.span("bench.check") {
      pairs(IndexStore.queryIvfPq(spark, corpus,
        IndexStore.infoFromMeta(spark, corpus).get)).toSet
    }
    serveRequest()
    ops.check("store.compaction_preserves_serving",
      compactions == rounds + 1 && before == lastServed,
      s"${compactions - rounds} compactions this round, " +
        s"${(before diff lastServed).size} pairs changed")
    serveRequest()
    rounds += 1
  }

  def verify(): Unit = {
    // every appended near-copy of a query vector is served for it
    val miss = twins.filterNot { case (id, q) => lastServed((q, id)) }
    ops.check("store.appended_vecs_retrievable", miss.isEmpty,
      s"${miss.size} of ${twins.size} missing")
  }

  def facts: Map[String, Any] = Map("build_s" -> Map("IndexStore" -> buildS),
    "pending_tombstones_per_serve" ->
      (if (serves == 0) 0.0 else pendingAtServe.toDouble / serves),
    "compactions" -> compactions,
    "files" -> Map("IndexStore" -> maxFiles))
}

object StoreWorkload {
  val replicas = 2
  val replicaStride = 1000000L
  /** Rows per append and per delete batch: 1000 vectors sit in the
    * `nlistFor` step 943 to 1032, so a corpus that swings between 1000
    * and 1000 + 20 keeps its trained cell count. */
  val batchRows = 20
  /** The serving policy: fold pending tombstones once a delete batch's
    * worth has piled up; the other axes keep the program's defaults. */
  val policy = IndexStore.RebuildPolicy(foldAtTombstones = batchRows.toLong)
}
