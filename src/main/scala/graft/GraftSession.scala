package graft

import org.apache.spark.sql.SparkSession

/** The one place session wiring lives, so no entry point can forget a
  * required conf (round-3's bench ran local[4] and was 4×-inflated;
  * an entry point without the ObjectHashAggregate threshold silently
  * sort-falls-back every typed-buffer aggregate — see
  * [[graft.operators.Dedup.minhashBands]]'s scaladoc).
  *
  * Two layers:
  *  - [[configure]]: the confs ANY deployment of this library needs
  *    (cluster spark-submit included) — extensions, aggregate
  *    threshold, UTC session time.
  *  - [[builder]]/[[local]]: the local[CPUS] harness shape the repo's
  *    mains (Bench / Verify / ScaleProbe) share.
  */
object GraftSession {

  /** Deployment-independent confs. Apply to any builder — including a
    * cluster spark-submit session — before `getOrCreate`. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    // typed-buffer aggregates (SimHashAgg, TopKAgg) group on
    // high-cardinality keys with SMALL fixed-size buffers; the default
    // 128-key ObjectHashAggregate threshold would silently
    // sort-fall-back every task
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      1 << 22)
    // reliable-mode Materialize writes checkpoint files per call;
    // iterative callers (connectedComponents materializes every round)
    // would otherwise accumulate unbounded checkpoint-dir storage over
    // a session — let the ContextCleaner delete them once the RDD is GC'd
    .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")

  /** Local-mode builder for the repo's mains: every core unless
    * SPARK_GRAFT_CPUS says otherwise (an unset env var must not
    * silently quarter the parallelism), shuffle partitions = cores.
    *
    * `initialPartitionNum`: AQE coalesces shuffle partitions DOWN
    * toward its advisory size but never splits them up, so a fixed
    * partition count is a scaling cliff — when the input grows past
    * partitions × in-memory-sort budget, every window/join sort starts
    * spilling and wall-clock goes superlinear. Measured on the 4×
    * replicated probe pair: the as-of join fitted e≈2.0 and
    * sessionization e≈1.8 at a fixed 64 partitions; starting exchanges
    * at 16× cores and letting AQE coalesce restored e<1 (q38 32→4.8 s,
    * q39 15→3.0 s on the same data). Cluster deployments should set
    * this to a few × total cores for the same reason — fine-grained
    * first, coalesce to ~64 MB partitions at runtime. */
  def builder(appName: String = "graft"): SparkSession.Builder = {
    val raw = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    // fail fast naming the knob (the GRAFT_VERIFY_PARALLEL pattern):
    // a malformed value would otherwise surface as a bare
    // NumberFormatException from deep inside the builder with no hint
    // of which env var was wrong
    val cpus =
      try { val n = raw.trim.toInt; require(n >= 1); n }
      catch { case _: NumberFormatException | _: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'")
      }
    configure(SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        cpus * 16)
      .config("spark.ui.enabled", "false"))
  }

  /** Build + quiet logs — what the mains actually call. */
  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
