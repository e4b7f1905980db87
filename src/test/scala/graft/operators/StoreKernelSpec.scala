package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{Generations, StoreKernel, Tables}

/** The persisted-store kernel ([[StoreKernel]]) under both indexed
  * stores: its store-table reader, its meta read's failure classes and
  * the on-disk token format (byte goldens, so a store stamped by an
  * earlier build keeps its zero-job fast path). */
class StoreKernelSpec extends SparkSpec {

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a meta read interrupted on an existing meta propagates the " +
    "interrupt instead of reading as an absent store (which rebuilds)") {
    val dir = tempDir("kernel_meta")
    StoreKernel.writeMeta(spark, dir, LexIndexMeta(1, 5L, 7L, 32, 9L))
    assert(StoreKernel.readMeta[LexIndexMeta](spark, dir, "test")
      .contains(LexIndexMeta(1, 5L, 7L, 32, 9L)))
    try {
      intercept[InterruptedException] {
        StoreKernel.readPromotedMeta(spark, s"$dir/meta", "test")(
          throw new InterruptedException("interrupted meta read"))
      }
    } finally Thread.interrupted()
    // a non-fatal read failure still reads as absent after the retries
    assert(StoreKernel.readPromotedMeta(spark, s"$dir/meta", "test")(
      throw new IllegalStateException("torn meta")).isEmpty)
  }

  test("readMeta reads an ANN, a lexical and a veclists meta with zero " +
    "jobs, returning the row of the Spark read") {
    val root = tempDir("kernel_meta_read")
    val vl = VecListsMeta(2, 3, 480L, -77L, 16, 10, 0.25, 12L)
    try {
      StoreKernel.writeMeta(spark, s"$root/ann", ann)
      StoreKernel.writeMeta(spark, s"$root/lex", lex)
      StoreKernel.writeMeta(spark, s"$root/vl", vl)
      var got: Seq[Option[Product]] = Nil
      assert(jobsDuring {
        got = Seq(
          StoreKernel.readMeta[AnnIndexMeta](spark, s"$root/ann", "test"),
          StoreKernel.readMeta[LexIndexMeta](spark, s"$root/lex", "test"),
          StoreKernel.readMeta[VecListsMeta](spark, s"$root/vl", "test"))
      } === 0, "a meta read ran a Spark job")
      import spark.implicits._
      def sparkRead[M <: Product : org.apache.spark.sql.Encoder](
          store: String): Option[Product] =
        Some(spark.read.parquet(s"$root/$store/meta").as[M].head())
      assert(got == Seq(sparkRead[AnnIndexMeta]("ann"),
        sparkRead[LexIndexMeta]("lex"), sparkRead[VecListsMeta]("vl")))
      assert(got == Seq(Some(ann), Some(lex), Some(vl)))
    } finally deleteDir(root)
  }

  // the token lines the stores wrote before the kernel, spelled out:
  // digest | meta fields in declaration order | tombN | tombXor
  private val ann = AnnIndexMeta(3, 500L, -8070450532247928832L, 16,
    0.1 + 0.2, 20L, 8, 16, 10, 8, 1.0e-7)
  private val annLine = "ab12|3|500|-8070450532247928832|16|" +
    "0.30000000000000004|20|8|16|10|8|1.0E-7|3|-1234567890123"
  private val lex = LexIndexMeta(1, 470L, 4611686018427387904L, 32, 9001L)
  private val lexLine =
    "cd34|1|470|4611686018427387904|32|9001|30|-77"

  test("token lines are byte-identical to the pre-kernel ANN and " +
    "lexical formats, and parse back through each store's parser") {
    assert(StoreKernel.tokenLine("ab12", ann, 3L, -1234567890123L) ==
      annLine)
    assert(StoreKernel.tokenLine("cd34", lex, 30L, -77L) == lexLine)
    val annStore = IndexStore.kernelStore(sfDir, tempDir("kernel_ann"))
    val lexStore = LexIndex.kernelStore(spark, sfDir, tempDir("kernel_lex"))
    StoreKernel.stamp(spark, annStore, ann, 3L, -1234567890123L)
    StoreKernel.stamp(spark, lexStore, lex, 30L, -77L)
    val annDigest = StoreKernel.digest(spark, annStore)
    val lexDigest = StoreKernel.digest(spark, lexStore)
    def onDisk(dir: String): String = new String(java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(dir, "vtoken")), "UTF-8")
    assert(onDisk(annStore.dir) == annDigest + annLine.stripPrefix("ab12"))
    assert(onDisk(lexStore.dir) == lexDigest + lexLine.stripPrefix("cd34"))
    assert(StoreKernel.readToken(spark, annStore) ==
      Some(StoreKernel.Token(annDigest, ann, 3L, -1234567890123L)))
    assert(StoreKernel.readToken(spark, lexStore) ==
      Some(StoreKernel.Token(lexDigest, lex, 30L, -77L)))
    // a line with one field too many or too few is no token
    java.nio.file.Files.write(java.nio.file.Paths.get(lexStore.dir,
      "vtoken"), "cd34|1|470|4611686018427387904|32|9001|5|30|-77"
      .getBytes("UTF-8"))
    assert(StoreKernel.readToken(spark, lexStore).isEmpty)
    java.nio.file.Files.write(java.nio.file.Paths.get(lexStore.dir,
      "vtoken"), "cd34|1|470|4611686018427387904|32|30|-77"
      .getBytes("UTF-8"))
    assert(StoreKernel.readToken(spark, lexStore).isEmpty)
  }

  private def deleteDir(path: String): Unit = {
    val (fs, p) = graft.Scratch.fs(spark, path)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("readStore plans every artifact of the ANN, lexical and veclists " +
    "stores with zero jobs, with the schema and rows of the plain read") {
    val corpus = tempDir("kernel_read")
    val all = Tables.load(spark, sfDir, "embeddings")
    all.filter(col("vec_id") < 450).write
      .parquet(s"$corpus/embeddings.parquet")
    Tables.load(spark, sfDir, "documents")
      .write.parquet(s"$corpus/documents.parquet")
    val ann = IndexStore.dirFor(spark, corpus)
    val lex = LexIndex.dirFor(spark, corpus)
    val vl = IngestScreen.listsDir(spark, corpus)
    try {
      val info = IndexStore.ensure(spark, corpus)
      IngestScreen.ensureLists(spark, corpus, info)
      val batch = all.filter(col("vec_id") >= 450 && col("vec_id") < 470)
      IndexStore.appendBatch(spark, ann, batch)
      IndexStore.deleteBatch(spark, corpus,
        all.filter(col("vec_id") % 17 === 3).select(col("vec_id")))
      LexIndex.ensure(spark, corpus)
      LexIndex.deleteDocs(spark, corpus, Tables.load(spark, corpus,
        "documents").filter(col("doc_id") % 13 === 5).select(col("doc_id")))
      def delta(t: String): Seq[String] =
        IndexStore.deltaFileNames(spark, ann, t).sorted
          .map(n => s"${IndexStore.deltaDirOf(ann, t)}/$n")
      val kinds: Seq[(String, Seq[String])] = Seq(
        "ann meta" -> Seq(s"$ann/meta"),
        "centroids" -> Seq(s"$ann/centroids"),
        "codebook" -> Seq(s"$ann/codebook"),
        "rcodebook" -> Seq(s"$ann/rcodebook"),
        "codes" -> Seq(Generations.resolve(spark, s"$ann/codes")),
        "rcodes" -> Seq(Generations.resolve(spark, s"$ann/rcodes")),
        "codes delta" -> delta("codes"),
        "rcodes delta" -> delta("rcodes"),
        "ann tombstones" -> Seq(StoreKernel.tombDirOf(ann)),
        "lex meta" -> Seq(s"$lex/meta"),
        "tf" -> Seq(Generations.resolve(spark, s"$lex/tf")),
        "df" -> Seq(Generations.resolve(spark, s"$lex/df")),
        "stats" -> Seq(Generations.resolve(spark, s"$lex/stats")),
        "lex tombstones" -> Seq(StoreKernel.tombDirOf(lex)),
        "veclists meta" -> Seq(s"$vl/meta"),
        "lists" -> Seq(Generations.resolve(spark, s"$vl/lists")))
      assert(delta("codes").nonEmpty && delta("rcodes").nonEmpty)
      var frames: Seq[DataFrame] = Nil
      assert(jobsDuring {
        frames = kinds.map { case (_, paths) =>
          StoreKernel.readStore(spark, paths: _*) }
      } === 0, "building a store-table frame ran a Spark job")
      kinds.zip(frames).foreach { case ((kind, paths), got) =>
        val want = spark.read.parquet(paths: _*)
        // the whole schema, so the inferred type of a partition column
        // (`cell`, `pfx`) is compared too
        assert(got.schema === want.schema, s"$kind schema")
        val rows = sortedRows(got)
        assert(rows.nonEmpty && rows === sortedRows(want), s"$kind rows")
      }
    } finally {
      Seq(ann, lex, vl, corpus).foreach(deleteDir)
    }
  }

  test("readStore fails like the plain read where there is no data " +
    "file: an absent path, a _SUCCESS-only dir, hidden debris only") {
    val root = tempDir("kernel_read_empty")
    val marker = s"$root/marker"
    val debris = s"$root/debris"
    val (fs, _) = graft.Scratch.fs(spark, root)
    fs.create(new org.apache.hadoop.fs.Path(s"$marker/_SUCCESS")).close()
    fs.create(new org.apache.hadoop.fs.Path(s"$debris/_SUCCESS")).close()
    // a crashed rewrite's hidden shadow holding a READABLE parquet file
    // (copied bare, without checksum siblings, so it sorts first): the
    // reader must skip it exactly as Spark's listing does
    spark.range(3).coalesce(1).write.parquet(s"$root/src")
    val part = graft.Scratch.walkFiles(fs, new org.apache.hadoop.fs.Path(
      s"$root/src")).map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val shadow = java.nio.file.Paths.get(debris, ".gen_tmp_1")
    java.nio.file.Files.createDirectories(shadow)
    java.nio.file.Files.copy(java.nio.file.Paths.get(part.toUri),
      shadow.resolve("part-0.parquet"))
    try {
      Seq(s"$root/absent", marker, debris).foreach { p =>
        val want = intercept[Exception](spark.read.parquet(p))
        val got = intercept[Exception](StoreKernel.readStore(spark, p))
        assert(got.getClass === want.getClass, p)
        assert(got.getMessage === want.getMessage, p)
      }
    } finally deleteDir(root)
  }

  test("the tombstone sidecar read on the driver gives the Spark " +
    "aggregate's fold terms and distinct keys with zero jobs, over 200 " +
    "batch files with invalid, null-valid and null-rowfp rows") {
    val dir = tempDir("kernel_tombs")
    // 1000 rows in 200 files (one per delete batch, as deleteBatch
    // appends them), keys repeating across files, every null class
    spark.range(1000).select(
        when(col("id") % 97 === 0, lit(null)).otherwise(col("id") % 400)
          .as("vec_id"),
        when(col("id") % 11 === 0, lit(null))
          .otherwise(xxhash64(col("id"))).as("rowfp"),
        when(col("id") % 13 === 0, lit(null))
          .otherwise(col("id") % 5 =!= 0).as("valid"),
        (col("id") % 16).cast("int").as("cell"))
      .repartition(200).write.parquet(StoreKernel.tombDirOf(dir))
    try {
      val sidecar = spark.read.parquet(StoreKernel.tombDirOf(dir))
      assert(sidecar.inputFiles.length === 200)
      def sparkAgg(valid: Column): (Long, Long, Long) = {
        val r = sidecar.agg(count(lit(1)), count(when(valid, lit(1))),
          bit_xor(when(valid, col("rowfp")))).head()
        (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
      }
      import spark.implicits._
      val keys = sidecar.select(col("vec_id")).distinct()
        .filter(col("vec_id").isNotNull).as[Long].collect().toSet
      var ann, lex: StoreKernel.Tombs = null
      assert(jobsDuring {
        ann = StoreKernel.tombs(spark, dir, "vec_id", Some("valid"))
      } === 0, "the sidecar read ran a Spark job")
      val t0 = System.nanoTime()
      assert(jobsDuring {
        lex = StoreKernel.tombs(spark, dir, "vec_id", None)
      } === 0)
      // jobsDuring settles for 0.5 s after its body
      info(f"driver read: ${((System.nanoTime() - t0) / 1e6 - 500) / 200}%.2f" +
        " ms per sidecar file")
      assert((ann.rows, ann.validN, ann.xor) === sparkAgg(col("valid")))
      assert((lex.rows, lex.validN, lex.xor) === sparkAgg(lit(true)))
      assert(ann.validN < ann.rows && ann.xor != lex.xor)
      assert(ann.ids.toSet === keys && ann.ids.size === keys.size)
      // the key predicates are the anti- and semi-join, nulls included
      val probe = spark.range(-5, 450).select(
        when(col("id") < 0, lit(null)).otherwise(col("id")).as("vec_id"))
      val keyFrame = sidecar.select(col("vec_id"))
      assert(sortedRows(ann.drop(probe)) ===
        sortedRows(probe.join(keyFrame, Seq("vec_id"), "left_anti")))
      assert(sortedRows(ann.pending(probe)) ===
        sortedRows(probe.join(keyFrame, Seq("vec_id"), "left_semi")))
      // no sidecar: empty, and every frame passes through
      val none = StoreKernel.tombs(spark, tempDir("kernel_no_tombs"),
        "vec_id", Some("valid"))
      assert(none.isEmpty && none.ids.isEmpty && (none.drop(probe) eq probe))
    } finally deleteDir(dir)
  }

  test("readTable takes a user table's schema from the footer Spark's " +
    "inference reads, with zero jobs, and falls back to the plain read " +
    "for a summary file or schema merging") {
    val root = tempDir("kernel_user_read")
    val (fs, _) = graft.Scratch.fs(spark, root)
    def path(p: String) = new org.apache.hadoop.fs.Path(p)
    def firstPart(dir: String) = graft.Scratch.walkFiles(fs, path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .minBy(_.toString)
    // a directory table, a partitioned one and two schemas to merge
    val emb = Tables.load(spark, sfDir, "embeddings")
    emb.repartition(3).write.parquet(s"$root/dir")
    emb.withColumn("k", col("vec_id") % 2).write.partitionBy("k")
      .parquet(s"$root/parts")
    spark.range(5).write.parquet(s"$root/merge/a=1")
    spark.range(5).withColumn("extra", lit("x"))
      .write.parquet(s"$root/merge/a=2")
    // a summary whose schema is not the data files' (Spark reads it)
    emb.limit(3).withColumn("only_in_summary", lit(1.5))
      .coalesce(1).write.parquet(s"$root/other")
    spark.range(5).coalesce(1).write.parquet(s"$root/summ")
    fs.copyToLocalFile(firstPart(s"$root/other"),
      path(s"$root/summ/_common_metadata"))
    try {
      // the testdata layout: one parquet FILE per table
      val plainCases = Tables.all.filterNot(_ == "events")
        .map(t => s"$sfDir/$t.parquet") ++
        Seq(s"$root/dir", s"$root/parts")
      var frames: Seq[DataFrame] = Nil
      assert(jobsDuring {
        frames = plainCases.map(StoreKernel.readTable(spark, _))
      } === 0, "building a user-table frame ran a Spark job")
      plainCases.zip(frames).foreach { case (p, got) =>
        assert(got.schema === spark.read.parquet(p).schema, p)
      }
      assert(sortedRows(frames.last) ===
        sortedRows(spark.read.parquet(s"$root/parts")))
      val summ = StoreKernel.readTable(spark, s"$root/summ")
      assert(summ.schema === spark.read.parquet(s"$root/summ").schema)
      assert(summ.schema.fieldNames.contains("only_in_summary"))
      spark.conf.set("spark.sql.parquet.mergeSchema", "true")
      try {
        val merged = spark.read.parquet(s"$root/merge").schema
        assert(merged.fieldNames.contains("extra"))
        assert(StoreKernel.readTable(spark, s"$root/merge").schema === merged)
      } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
      assert(StoreKernel.readTable(spark, s"$root/merge").schema ===
        spark.read.parquet(s"$root/merge").schema)
    } finally deleteDir(root)
  }
}
