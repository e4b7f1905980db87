package graft

/** One ingest-feeder PROCESS for the cross-JVM shard probe
  * ([[ShardProbeXjvm]]): a standalone main so two of these run as
  * genuinely separate driver JVMs against ONE sharded store root —
  * the deployment shape [[graft.operators.Sharded]]'s scaladoc
  * claims ("from K separate driver JVMs"). In that shape nothing
  * in-process arbitrates the feeders: the per-store in-JVM monitors
  * ([[graft.sources.StoreKernel.monitorFor]]) see only one feeder
  * each, so the file-based [[graft.sources.WriterLease]] and the
  * in-lease bootstrap-marker re-probe are the ONLY things standing
  * between two feeders and a lost first batch / torn append. The
  * in-JVM ShardProbe cannot exercise that; this main exists so the
  * probe can.
  *
  * Protocol (parent ↔ child over stdout + two barrier files):
  *   1. child builds its session, loads the source, prints
  *      `FEEDER_READY <f>`;
  *   2. parent creates `<root>/../_go1` once ALL feeders are ready;
  *      child feeds its BOOTSTRAP batch (i = 0, untimed — per-shard
  *      first-batch Overwrite + index build; two children racing
  *      this is the cross-JVM bootstrap race the in-lease re-probe
  *      exists for), prints `FEEDER_BOOTSTRAPPED <f>`;
  *   3. parent creates `_go2`; child feeds its timed batches and
  *      prints one `FEEDER_RESULT {json}` line.
  *
  * Id lanes are feeder-owned (`id ≡ feeder (mod maxFeeders)`, the
  * Kafka-partition discipline ShardProbe documents) so the
  * cross-feeder contract holds; batch content decorrelates via
  * [[StreamDrive.freshVec]] keyed by the GLOBAL batch index
  * `feeder·(nBatches+1)+i`, same as the in-JVM probe.
  *
  * args: root shards feeder maxFeeders nBatches batchSize srcDir */
object ShardFeeder {

  /** Deterministic batch for (feeder, i) — the parent recomputes the
    * id set from this same formula for its zero-loss check. */
  def batchIds(feeder: Int, i: Int, batchSize: Int,
      maxFeeders: Int): Seq[Long] =
    (0 until batchSize).map(j =>
      900000000L + (i.toLong * batchSize + j) * maxFeeders + feeder)

  private def awaitFile(path: java.nio.file.Path, what: String): Unit = {
    val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
    while (!java.nio.file.Files.exists(path)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"barrier $what never appeared " +
          s"at $path within 300 s — parent gone?")
      Thread.sleep(100)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 7,
      "args: root shards feeder maxFeeders nBatches batchSize srcDir")
    val Array(root, shardsS, feederS, maxFeedersS, nBatchesS,
      batchSizeS, srcDir) = args
    val (shards, feeder, maxFeeders, nBatches, batchSize) =
      (shardsS.toInt, feederS.toInt, maxFeedersS.toInt, nBatchesS.toInt,
        batchSizeS.toInt)
    val spark = GraftSession.local(s"graft-shardfeeder-$feeder")
    import spark.implicits._
    val src = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    StreamDrive.requireDecorrelated(maxFeeders * (nBatches + 1),
      src.head._2.length)
    def mkBatch(i: Int): Seq[(Long, Array[Float])] =
      batchIds(feeder, i, batchSize, maxFeeders).zipWithIndex.map {
        case (id, j) => (id, StreamDrive.freshVec(src(j % src.length)._2,
          feeder * (nBatches + 1) + i))
      }
    val barrierDir = java.nio.file.Paths.get(root).getParent
    println(s"FEEDER_READY $feeder"); Console.flush()
    awaitFile(barrierDir.resolve("_go1"), "_go1")
    // bootstrap batch — untimed (one-time Overwrite + index build);
    // with >1 feeder this is the cross-JVM bootstrap race itself
    operators.Sharded.ingestVecBatch(spark, root, shards,
      mkBatch(0).toDF("vec_id", "embedding"))
    println(s"FEEDER_BOOTSTRAPPED $feeder"); Console.flush()
    awaitFile(barrierDir.resolve("_go2"), "_go2")
    val batchSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.currentTimeMillis()
    (1 to nBatches).foreach { i =>
      val bt0 = System.nanoTime()
      operators.Sharded.ingestVecBatch(spark, root, shards,
        mkBatch(i).toDF("vec_id", "embedding"))
      batchSecs += (System.nanoTime() - bt0) / 1e9
    }
    val t1 = System.currentTimeMillis()
    println(s"""FEEDER_RESULT {"feeder":$feeder,"start_ms":$t0,""" +
      s""""end_ms":$t1,"rows":${nBatches.toLong * batchSize},""" +
      s""""batch_secs":[${batchSecs.map(Json.f3).mkString(",")}]}""")
    Console.flush()
    spark.stop()
  }
}
