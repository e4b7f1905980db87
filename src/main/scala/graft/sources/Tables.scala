package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver's test data layout
  * (`TESTDATA.md`: one parquet per table under each scale-factor dir).
  *
  * Reference equivalent: the reference loads test fixtures eagerly into a
  * dict (reference tests/__init__.py:24-36); here we stay lazy — a Spark
  * scan node with column pruning and predicate pushdown handled by
  * Catalyst, so at 100 TB only the needed columns/row-groups are read.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    // generation-resolved (identity for never-swapped tables): a
    // corpus table that retention/compaction has rewritten serves its
    // newest committed generation — see [[Generations]]. Its schema is
    // read from the footer Spark's inference would read, on the driver
    // (no Spark job — see StoreKernel.readTable)
    else StoreKernel.readTable(spark,
      Generations.resolve(spark, s"$sfDir/$name.parquet"))

  /** The events table carries a parquet TIMESTAMP(NANOS) column, which
    * Spark 4 rejects outright (PARQUET_TYPE_ILLEGAL). Read nanos as long
    * (legacy conf) and surface a proper TimestampType truncated to
    * microseconds. Some rows carry sub-microsecond digits, so the
    * truncation MUST be integer floor (`DIV 1000`) — `/ 1000` is double
    * division whose rounding disagrees with an oracle that truncates.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // session-scoped by DESIGN, not restored: the conf is consulted
    // both at schema inference (here) and again when the scan
    // executes, so a set-read-restore window would break the returned
    // (lazy) frame's own execution. The side effect is that later
    // TIMESTAMP(NANOS) parquet reads in this session surface long
    // nanos instead of failing PARQUET_TYPE_ILLEGAL — every such read
    // in this engine routes through this loader (which normalizes),
    // so the trade is deliberate and documented rather than hidden.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(spark.read.parquet(
      Generations.resolve(spark, s"$sfDir/events.parquet")))
  }

  /** STREAMING read of the same events table (file source): identical
    * nanos handling, explicit schema (readStream requires one) taken
    * from a batch footer read. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(path).schema
    // FileStreamSource requires a DIRECTORY; the testdata tables are
    // single parquet FILES, so stream the parent dir with a glob
    // pinned to this one table (a Spark-written events.parquet
    // directory streams directly).
    val (hfs, hp) = graft.Scratch.fs(spark, path)
    val isDir = hfs.getFileStatus(hp).isDirectory
    val src =
      if (isDir)
        spark.readStream.schema(schema).parquet(path)
      else
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sfDir)
    normalizeEventTs(src)
  }

  /** The nanos→µs surface shared by the batch and streaming readers. */
  private def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // some writers (e.g. DuckDB) emit timestamp[us] without the
        // UTC-adjusted flag; surface the same instant under the UTC
        // session timezone
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}
