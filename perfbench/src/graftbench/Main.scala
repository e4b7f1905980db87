package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed request of a workload. */
final case class Op(kind: String, start: Double, end: Double, ok: Boolean,
    traced: Boolean, rows: Long)

final case class Check(name: String, ok: Boolean, detail: String)

/** Closed-loop driver state shared by the workloads: the next request
  * starts when the previous one returns. */
final class Ops {
  val done = ArrayBuffer.empty[Op]
  val checks = ArrayBuffer.empty[Check]

  /** Time one request; `body` returns the rows it moved. A throw marks
    * the request failed and the loop goes on. */
  def run(kind: String)(body: => Long): Long = {
    Trace.request = done.size.toLong + 1
    val t0 = Clock.nowMs()
    val (ok, rows) =
      try (true, Trace.span("request", "kind" -> kind)(body))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $kind failed: $e")
        (false, 0L)
      }
    done += Op(kind, t0, Clock.nowMs(), ok, Trace.enabled, rows)
    rows
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
    checks += Check(name, ok, detail)
  }
}

trait Workload {
  /** Fresh targets, cold store builds and warm-up; not timed as requests. */
  def setup(): Unit
  /** Nominal wall time of one unit of work on four cores. */
  def unitSeconds: Double
  /** Run `n` whole units of requests (a load cycle, a store round). */
  def runUnits(n: Int): Unit
  /** Output checks after the loop (recorded through `ops.check`). */
  def verify(): Unit
  /** Workload facts the report needs besides requests and spans. */
  def facts: Map[String, Any]
}

object Main {
  private def arg(a: Array[String], k: String): String = {
    val i = a.indexOf(k)
    require(i >= 0 && i + 1 < a.length, s"missing $k")
    a(i + 1)
  }

  /** Largest heap in use right after a collection: every GC the JVM
    * makes reports its pools' usage after it. The run reads it over its
    * untraced window, with a forced collection at each end. */
  private object HeapPeak {
    @volatile var mb = 0.0
    private def record(bytes: Long): Unit = synchronized {
      mb = math.max(mb, bytes / 1048576.0)
    }
    def install(): Unit =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: Any) =>
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
                .GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo
                .from(n.getUserData
                  .asInstanceOf[javax.management.openmbean.CompositeData])
              record(info.getGcInfo.getMemoryUsageAfterGc.asScala.iterator
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }
                .sum)
            }, null, null)
        case _ =>
      }
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
    /** A forced full collection, as one more sample. */
    def sample(): Unit = {
      System.gc()
      record(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
  }

  def session(work: String, cpus: Int): SparkSession = {
    val s = graft.GraftSession.configure(SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        cpus * 16)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.layout.root", s"$work/layout")
      .config("spark.graft.scratch.dir", s"$work/scratch"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val data = arg(args, "--data")
    val work = arg(args, "--work")
    val out = arg(args, "--out")
    val cpus = arg(args, "--cpus").toInt

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    HeapPeak.install()
    val spark = session(work, cpus)
    val ops = new Ops
    val w: Workload = workload match {
      case "load" => new LoadWorkload(spark, data, work, seed, ops)
      case "store" => new StoreWorkload(spark, data, work, seed, ops)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    val recorder = new Recorder
    w.setup()
    // set-up time as a user sees it: from process start to the first
    // timed request
    val startupS = (Clock.nowMs() - jvmStart) / 1000

    // untraced window: the end-to-end numbers. The work per window is a
    // fixed number of units, so every run of a workload does the same
    // requests whatever the host's speed; a trace run measures each of
    // its windows for half the time
    val window = if (trace) seconds / 2 else seconds
    val units = math.max(1, math.round(window / w.unitSeconds).toInt)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    HeapPeak.sample()
    HeapPeak.mb = 0.0
    val cpu0 = os.getProcessCpuTime
    w.runUnits(units)
    val loopCpuS = (os.getProcessCpuTime - cpu0) / 1e9
    HeapPeak.sample()
    val heapPeakMb = HeapPeak.mb
    // traced window (trace runs only): same loop again with spans, the
    // job-group tags and the listener on
    var tracedLoop = (0.0, 0.0)
    if (trace) {
      spark.sparkContext.addSparkListener(recorder)
      Trace.sc = spark.sparkContext
      Trace.enabled = true
      val t1 = Clock.nowMs()
      w.runUnits(units)
      tracedLoop = (t1, Clock.nowMs())
      Trace.enabled = false
      org.apache.spark.sql.graftbench.Internals.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(recorder)
    }
    w.verify()

    val res = Map[String, Any](
      "workload" -> workload, "seed" -> seed,
      "startup_s" -> startupS, "loop_cpu_s" -> loopCpuS,
      "heap_peak_mb" -> heapPeakMb, "units" -> units,
      "traced_loop" -> Seq(tracedLoop._1, tracedLoop._2),
      "facts" -> w.facts,
      "ops" -> ops.done.map(o => Map("kind" -> o.kind, "start" -> o.start,
        "end" -> o.end, "ok" -> o.ok, "traced" -> o.traced,
        "rows" -> o.rows)),
      "checks" -> ops.checks.map(c =>
        Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "spans" -> Trace.spans.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
        "tags" -> s.tags, "start" -> s.start, "end" -> s.end)),
      "jobs" -> recorder.jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
        Map("id" -> j.id, "group" -> j.group, "exec" -> j.execId,
          "call_site" -> j.callSite, "start" -> j.start, "end" -> j.end,
          "tasks" -> j.tasks, "run_ms" -> j.runMs, "gc_ms" -> j.gcMs,
          "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill,
          "out_bytes" -> j.outBytes)),
      "plans" -> recorder.plans.asScala.toSeq.map(p => Map(
        "exec" -> p.execId, "group" -> p.group, "call_site" -> p.callSite,
        "start" -> p.start,
        "end" -> p.end, "exchanges" -> p.exchanges, "smj" -> p.smj,
        "sort_agg" -> p.sortAgg, "object_hash_agg" -> p.objectHashAgg,
        "hash_agg" -> p.hashAgg,
        "sort_fallback_tasks" -> p.sortFallbackTasks)))
    Files.writeString(Paths.get(out), Json.of(res))
    spark.stop()
  }
}

/** Sizes on local disk, for the space metrics. */
object Disk {
  private def files(dir: String): Seq[java.nio.file.Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).iterator().asScala.toList
      finally s.close()
    }
  }

  def bytes(dir: String): Long = files(dir).map(Files.size).sum

  def parquetFiles(dir: String): Long =
    files(dir).count(_.getFileName.toString.endsWith(".parquet")).toLong
}

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def of(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => of(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => of(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + of(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(of).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
