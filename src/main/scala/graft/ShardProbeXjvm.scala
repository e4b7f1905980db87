package graft

import org.apache.spark.sql.functions._

/** CROSS-JVM concurrent-ingest probe for the sharded vector store —
  * the companion to [[ShardProbe]] that removes its one honesty
  * asterisk: ShardProbe's feeders are threads in ONE JVM, where the
  * per-store monitors ([[graft.sources.StoreKernel.monitorFor]])
  * arbitrate alongside the leases. Real deployments run one feeder
  * per driver process, where the monitors see one feeder each and the
  * ONLY arbiters are the file-based [[graft.sources.WriterLease]], the
  * in-lease bootstrap-marker re-probe ([[graft.streaming.StreamOps
  * .vecIngestBatch]]) and the `_shards`-marker rename race
  * ([[graft.operators.Sharded.ensureShards]]). This probe launches
  * real child JVMs ([[ShardFeeder]]) against one sharded root:
  *
  *   x1  ONE feeder process  — the per-JVM-resourced baseline
  *   x2  TWO feeder processes, same store root, concurrent — incl.
  *       the COLD-START bootstrap race (both children's first batch
  *       races the per-shard Overwrite; the in-lease re-probe must
  *       demote exactly one to the append path, per shard)
  *
  * Both phases get the SAME per-process CPU budget (SPARK_GRAFT_CPUS,
  * default 12 of the 32), so `ratio_x2_x1` reads as cross-process
  * scaling under equal per-feeder resources, not a core-count
  * artifact. After each phase the parent asserts, in its own session:
  *   - ZERO LOSS: the union corpus's id set == exactly the ids fed
  *     (recomputed from [[ShardFeeder.batchIds]] — nothing trusted
  *     from the children but their exit codes);
  *   - KEY-UNIQUENESS per shard (a lost bootstrap race that
  *     double-landed rows would show here);
  *   - ROUTING: every row sits in the shard `shardOf` maps it to;
  *   - SERVE: each shard's index `ensure()`s clean and the union
  *     top-k serves rows.
  *
  *   sbt "runMain graft.ShardProbeXjvm /root/testdata/sf0.1"
  */
object ShardProbeXjvm {

  /** Classpath for child JVMs: this (forked) JVM's own — correct by
    * construction whether the parent ran via `sbt runMain` (fork
    * copies every jar to a bg-jobs dir; deriving a jars DIRECTORY
    * from a loaded class breaks there — each copy sits alone in a
    * hashed subdir) or plain `java -cp`. */
  private def childClasspath(): String =
    System.getProperty("java.class.path")

  private final case class FeederOut(feeder: Int, startMs: Long,
    endMs: Long, rows: Long, batchSecs: Seq[Double])

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outPath = if (args.length > 1) args(1) else "XJVM_r18.json"
    val batchSize = if (args.length > 2) args(2).toInt else 4000
    val nBatches = 3
    val shards = operators.Sharded.defaultShards
    val cpusPerFeeder = sys.env.getOrElse("GRAFT_XJVM_CPUS", "12")
    val spark = GraftSession.local("graft-shardprobe-xjvm")
    import spark.implicits._

    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val cp = childClasspath()
    val moduleOpts = org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptions().trim.split("\\s+").toSeq

    /** Launch one feeder child; returns (process, result-future-ish
      * mutable holder). Stdout is drained on a thread: barrier lines
      * flip the flags, the result line lands in `out`, everything
      * else echoes to OUR stderr tagged by feeder. */
    final class Child(root: String, feeder: Int, maxFeeders: Int) {
      val ready = new java.util.concurrent.CountDownLatch(1)
      val bootstrapped = new java.util.concurrent.CountDownLatch(1)
      @volatile var result: Option[FeederOut] = None
      private val cmd: Seq[String] =
        Seq(javaBin) ++ moduleOpts ++ Seq("-cp", cp, "graft.ShardFeeder",
          root, shards.toString, feeder.toString, maxFeeders.toString,
          nBatches.toString, batchSize.toString, srcDir)
      private val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_CPUS", cpusPerFeeder)
      pb.redirectErrorStream(false)
      val proc: Process = pb.start()
      private def drain(in: java.io.InputStream, isOut: Boolean): Thread = {
        val t = new Thread(() => {
          val br = new java.io.BufferedReader(
            new java.io.InputStreamReader(in))
          var line = br.readLine()
          while (line != null) {
            if (isOut && line.startsWith("FEEDER_READY")) ready.countDown()
            else if (isOut && line.startsWith("FEEDER_BOOTSTRAPPED"))
              bootstrapped.countDown()
            else if (isOut && line.startsWith("FEEDER_RESULT ")) {
              val j = line.stripPrefix("FEEDER_RESULT ")
              // tiny fixed shape — parse by regex, no JSON dep
              def l(k: String) =
                raw""""$k":(-?\d+)""".r.findFirstMatchIn(j).get.group(1).toLong
              val bs = """"batch_secs":\[([^\]]*)\]""".r
                .findFirstMatchIn(j).get.group(1)
              result = Some(FeederOut(l("feeder").toInt, l("start_ms"),
                l("end_ms"), l("rows"),
                if (bs.isEmpty) Nil
                else bs.split(",").toSeq.map(_.toDouble)))
            } else System.err.println(s"[feeder-$feeder] $line")
            line = br.readLine()
          }
        }, s"xjvm-drain-$feeder-$isOut")
        t.setDaemon(true); t.start(); t
      }
      private val drains =
        Seq(drain(proc.getInputStream, isOut = true),
          drain(proc.getErrorStream, isOut = false))
      def await(): FeederOut = {
        if (!proc.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)) {
          proc.destroyForcibly()
          throw new IllegalStateException(s"feeder $feeder timed out")
        }
        drains.foreach(_.join(10000))
        require(proc.exitValue() == 0,
          s"feeder $feeder exited ${proc.exitValue()}")
        result.getOrElse(throw new IllegalStateException(
          s"feeder $feeder exited 0 without a FEEDER_RESULT line"))
      }
    }

    def await(l: java.util.concurrent.CountDownLatch, what: String): Unit =
      require(l.await(5, java.util.concurrent.TimeUnit.MINUTES),
        s"$what barrier not reached in 5 min")

    /** One phase: `feeders` child JVMs on a fresh root. Returns
      * (per-feeder outs, concurrent-window seconds). */
    def phase(label: String, feeders: Int): (Seq[FeederOut], Double) = {
      val base = java.nio.file.Files.createTempDirectory(s"xjvm_$label")
      val root = s"$base/s"
      try {
        val kids = (0 until feeders).map(new Child(root, _, feeders))
        kids.foreach(k => await(k.ready, s"$label ready"))
        java.nio.file.Files.createFile(base.resolve("_go1"))
        kids.foreach(k => await(k.bootstrapped, s"$label bootstrap"))
        java.nio.file.Files.createFile(base.resolve("_go2"))
        val outs = kids.map(_.await())
        val windowSec =
          (outs.map(_.endMs).max - outs.map(_.startMs).min) / 1000.0

        // ---- convergence: zero loss, unique keys, correct routing --
        val expected = (0 until feeders).flatMap(f =>
          (0 to nBatches).flatMap(i =>
            ShardFeeder.batchIds(f, i, batchSize, feeders))).toSet
        val got = operators.Sharded.vecCorpus(spark, root)
          .select("vec_id").as[Long].collect()
        val gotSet = got.toSet
        require(got.length == gotSet.size,
          s"$label: duplicate vec_id in the union corpus " +
            s"(${got.length} rows, ${gotSet.size} distinct)")
        val lost = expected -- gotSet
        val alien = gotSet -- expected
        require(lost.isEmpty && alien.isEmpty,
          s"$label: corpus diverged — ${lost.size} lost " +
            s"(e.g. ${lost.take(3).mkString(",")}), ${alien.size} alien")
        (0 until shards).foreach { i =>
          val sd = operators.Sharded.shardDir(root, i)
          val rows = spark.read.parquet(graft.sources.Generations
              .resolve(spark, s"$sd/embeddings.parquet"))
            .select(col("vec_id"),
              operators.Sharded.shardOf(shards).as("s"))
          val misrouted = rows.filter(col("s") =!= i).count()
          require(misrouted == 0, s"$label: $misrouted misrouted " +
            s"row(s) in shard $i")
          // per-shard validation: a duplicate-keyed corpus refuses here
          operators.IndexStore.ensure(spark, sd)
        }
        // serve smoke with EXPLICIT queries: the probe's id lanes sit
        // at 9e8+, outside knnTopK's gate-shaped query filter, so
        // re-key a few corpus vectors as the query batch
        val qdf = operators.Sharded.vecCorpus(spark, root)
          .select("embedding").as[Array[Float]].take(8)
          .zipWithIndex.map { case (e, i) => (i.toLong, e) }
          .toSeq.toDF("vec_id", "embedding")
        require(operators.Sharded.knnTopKWith(spark, root, qdf,
            kk = 5, maxQuery = 8).count() > 0,
          s"$label: union serve returned no rows")
        (outs, windowSec)
      } finally {
        val (fs, p) = Scratch.fs(spark, base.toString)
        if (fs.exists(p)) fs.delete(p, true)
      }
    }

    val (x1, x1Sec) = phase("x1", 1)
    val (x2, x2Sec) = phase("x2", 2)
    def rps(outs: Seq[FeederOut], sec: Double): Double =
      outs.map(_.rows).sum / sec
    val f3 = Json.f3 _
    def phaseJson(outs: Seq[FeederOut], sec: Double): String =
      s"""{"feeders":${outs.size},"rows":${outs.map(_.rows).sum},""" +
        s""""window_sec":${f3(sec)},"rows_per_sec":${f3(rps(outs, sec))},""" +
        s""""batch_secs":[${outs.flatMap(_.batchSecs).sorted
          .map(f3).mkString(",")}]}"""
    val json =
      s"""{"src":${Json.str(srcDir)},"shards":$shards,""" +
        s""""batch_size":$batchSize,"batches_per_feeder":$nBatches,""" +
        s""""cpus_per_feeder":$cpusPerFeeder,""" +
        s""""x1":${phaseJson(x1, x1Sec)},"x2":${phaseJson(x2, x2Sec)},""" +
        s""""ratio_x2_x1":${f3(rps(x2, x2Sec) / rps(x1, x1Sec))},""" +
        s""""checks":"zero-loss + per-shard key-uniqueness + routing """ +
        s"""+ per-shard ensure + union serve, incl. the cold-start """ +
        s"""cross-JVM bootstrap race (no pre-seeding; both children's """ +
        s"""first batches raced the per-shard Overwrite)"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), json)
    println(json)
    spark.stop()
  }
}
