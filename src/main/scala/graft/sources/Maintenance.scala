package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Table maintenance: small-file compaction. Long-running append
  * pipelines accumulate part files until scan planning and footer reads
  * dominate; compaction rewrites the directory to ~`targetRowsPerFile`
  * rows per file through a shadow directory + recoverable swap (same
  * pattern as the upsert sink — a crash at any instant leaves a
  * complete copy of the table on disk, live or at `<path>__old`).
  */
object Maintenance {

  /** Hive partition column chain under `root` (outermost first), read
    * off the `key=val` directory names; empty for a flat table. One
    * path chain suffices — a valid hive layout nests uniformly. */
  private def partitionCols(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[String] = {
    def step(dir: Path): List[String] = {
      val sub = fs.listStatus(dir).find { s =>
        s.isDirectory && s.getPath.getName.contains("=") &&
          !s.getPath.getName.startsWith(".")
      }
      sub match {
        case Some(s) =>
          s.getPath.getName.takeWhile(_ != '=') :: step(s.getPath)
        case None => Nil
      }
    }
    step(root)
  }

  /** @return (files before, files after) */
  def compact(spark: SparkSession, path: String,
      targetRowsPerFile: Long): (Int, Int) = {
    // writer lease over the SAME key the streaming sinks use for
    // their corpus appends: a table under a corpus dir
    // (`<dir>/<table>.parquet`) leases the dir; a bare table dir (the
    // docs-sink corpus layout) leases itself — so compacting a live
    // corpus table serializes against in-flight ingest batches
    // instead of silently deleting a just-landed append with the
    // swapped-away dir. Standing tables nobody appends to pay one
    // uncontended acquire.
    val stripped = path.stripSuffix("/")
    val leaseDir =
      if (stripped.endsWith(".parquet"))
        new Path(stripped).getParent.toString
      // the streaming dedup sidecars (`<corpus>__sh`/`__bands`) are
      // written by the docs sink UNDER THE CORPUS LEASE — compacting
      // one must take that same key, or this rewrite could retire the
      // generation a mid-span batch is appending into (review r17;
      // compactIngestIndexes already leases the corpus dir)
      else if (stripped.endsWith("__sh")) stripped.stripSuffix("__sh")
      else if (stripped.endsWith("__bands"))
        stripped.stripSuffix("__bands")
      else path
    // 0/negative would otherwise shatter the rewrite (ceil(n/0) →
    // Int.MaxValue shuffle partitions) or silently collapse every
    // partition to one file — refuse at entry with the actionable why
    require(targetRowsPerFile > 0,
      s"compact: targetRowsPerFile must be positive (got " +
        s"$targetRowsPerFile)")
    WriterLease.withWrite(spark, leaseDir, "compact") {
    val (fs, root) = graft.Scratch.fs(spark, path)
    // ONE recursive current-generation listing serves the bucket
    // probe and the before count (a full tree walk is the dominant
    // metadata cost on object stores — the quiesced-under-lease tree
    // cannot change between the two uses); partitioned layouts report
    // honestly (a top-level glob reads a hive table as "0 files") and
    // retired generations don't count
    def currentParquet() =
      Generations.walkCurrentFiles(fs, root).filter { s =>
        val nm = s.getPath.getName
        s.isFile && nm.endsWith(".parquet") && !nm.startsWith("_") &&
          !nm.startsWith(".")
      }
    val filesNow = currentParquet()
    def parquetFiles(): Int = currentParquet().size
    // refuse a BUCKETED table's directory (e.g. graft.operators
    // .Layout's catalog tables): bucket membership is encoded in the
    // part-file NAMES (`..._00003.c000...` — underscore + bucket id),
    // and the catalog scan maps file→bucket by that name. A compaction
    // rewrite emits unbucketed names under a catalog entry that still
    // claims bucketing, so every later scan dies with "invalid bucket
    // file" — or silently mis-joins under the ignore conf. Fail NOW
    // with the actionable reason; bucketed tables are compacted by
    // re-running their Layout writer (repartition(buckets, key) +
    // bucketBy), which preserves the name encoding.
    val bucketPattern = java.util.regex.Pattern.compile("_\\d{5}\\.c\\d{3}")
    filesNow.collectFirst {
      case s if bucketPattern.matcher(s.getPath.getName).find() =>
        s.getPath.getName
    }.foreach { nm =>
      throw new IllegalArgumentException(
        s"compact: $path holds bucketed part files (e.g. $nm) — " +
          "rewriting would break the catalog's bucket-to-file name " +
          "mapping; compact a bucketed table by re-running its " +
          "bucketed writer instead")
    }
    val before = filesNow.size
    // read + partition-detect the CURRENT generation; the rewrite
    // commits as the next one (retained-generation swap — in-flight
    // scans keep their planned files, see [[Generations]])
    val current = Generations.resolve(spark, path)
    val parts = partitionCols(fs, new Path(current))
    val df = spark.read.parquet(current)
    val shadow = new Path(Generations.shadowFor(spark, path))
    if (parts.nonEmpty) {
      // PRESERVE the hive layout: rewriting a partitioned table flat
      // would silently demote partition directories to data columns
      // and permanently lose planning-time pruning (q58's property).
      // HONESTY: partition VALUES round-trip through Spark's
      // partition-type inference, so a foreign layout with string
      // values that LOOK numeric ("id=007") re-emits canonicalized
      // dirs ("id=7") — content-preserving for every layout this
      // engine writes (typed values), not byte-preserving for such
      // foreign dir names; compact a string-partitioned foreign
      // layout with inference disabled session-wide if dir names are
      // load-bearing.
      // targetRowsPerFile is honored WITHIN each partition dir: a
      // partition whose row count exceeds it is salted into
      // ceil(rows/target) write groups (≈ that many files in its dir —
      // hash collisions between groups in one task can merge a few,
      // never split), so one hot partition no longer collapses to one
      // oversized file while small partitions still get exactly one.
      import org.apache.spark.sql.functions._
      require(!df.columns.exists(_.startsWith("__compact_")),
        "compact reserves the __compact_* column-name prefix")
      val pcols = parts.map(col)
      // materialized: consumed twice (the totalFiles agg below and
      // the broadcast build side of the quota join) — unmaterialized,
      // the full-table groupBy scan would execute once per consumer,
      // doubling the dominant read of exactly the large tables
      // compaction targets
      val counts = graft.Materialize(df.groupBy(pcols: _*)
        .agg(count(lit(1)).as("__compact_cnt"))
        .withColumn("__compact_nf", greatest(lit(1),
          ceil(col("__compact_cnt") / targetRowsPerFile)).cast("int"))
        .drop("__compact_cnt"))
      // live partition count is small by definition of a sane layout —
      // broadcast the per-partition file quota back onto the rows.
      // NULL-SAFE join keys, not a plain equi-join: a hive layout
      // stores null partition values (__HIVE_DEFAULT_PARTITION__), and
      // an equi-join never matches null = null — those partitions'
      // rows would silently VANISH from the compacted table
      val quotas = broadcast(parts.foldLeft(counts) { (d, p) =>
        d.withColumnRenamed(p, s"__compact_k_$p")
      })
      val joinCond = parts.map(p => col(p) <=> col(s"__compact_k_$p"))
        .reduce(_ && _)
      val salted = df.join(quotas, joinCond)
        .drop(parts.map(p => s"__compact_k_$p"): _*)
        .withColumn("__compact_salt",
          (rand(42) * col("__compact_nf")).cast("int"))
        .drop("__compact_nf")
      // one shuffle task per (partition value, salt) group modulo hash
      // collisions: size the target partition count to the total file
      // quota so collisions stay rare
      // nullable read: a partitioned layout with partition dirs but
      // ZERO rows gives an empty `counts`, so sum() is NULL — a bare
      // getLong would NPE on a layout this repo's writers never
      // produce but a foreign writer legitimately can (dirs present,
      // every data file zero-row). And a zero-row partitioned rewrite
      // would write NO part files at all (partitionBy emits a dir per
      // present value only), swapping in an unreadable shell — so an
      // empty table skips the rewrite entirely: there is nothing to
      // compact, the existing (footer-only) layout stays as is.
      val totalFiles = Option(counts
        .agg(sum(col("__compact_nf"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L).toInt
      if (totalFiles == 0) return (before, before)
      salted
        .repartition(math.max(1, totalFiles),
          (pcols :+ col("__compact_salt")): _*)
        .drop("__compact_salt")
        .write.mode(SaveMode.Overwrite)
        .partitionBy(parts: _*).parquet(shadow.toString)
    } else {
      val n = df.count()
      val files = math.max(1, math.ceil(n.toDouble / targetRowsPerFile).toInt)
      df.repartition(files).write.mode(SaveMode.Overwrite)
        .parquet(shadow.toString)
    }
    // fence at the COMMIT point like every sibling compaction here: a
    // compactor stalled past TTL whose lease was taken over must not
    // commit a pre-takeover shadow over a table the new owner has
    // since appended to — that would silently retire the committed
    // rows with the old generation
    WriterLease.verify(spark, leaseDir)
    Generations.commit(spark, path, shadow.toString)
    (before, parquetFiles())
    }
  }

  /** Restore the incremental-ingest dedup indexes (`<corpusDir>__sh`,
    * `<corpusDir>__bands` — [[graft.streaming.StreamOps
    * .incrementalIngestStream]]'s state) to exact lockstep with the
    * committed corpus. The streaming sink tolerates index debris by
    * construction — crash-replay leaves ORPHANED rows (doc in the
    * index, never committed) and DUPLICATE rows (re-appended on
    * replay), both made harmless at read time by the sink's
    * committed-doc_ids visibility filter and the candidate join's
    * distinct. But debris still costs scan IO forever; a standing
    * pipeline runs this periodically (alongside [[compact]], which
    * handles the small-files axis) to stop unbounded growth.
    *
    * Both directions of drift are repaired: debris is dropped, and —
    * because the indexes are pure functions of corpus text — a
    * committed doc whose index rows are MISSING has them rebuilt from
    * the corpus, so one run reconverges the state no matter how it
    * was damaged.
    *
    * Concurrency contract: the corpus-dir WRITER LEASE arbitrates —
    * this whole rewrite holds it, and the docs sink holds the same
    * lease around its index-writes→corpus→marker span, so a
    * concurrent batch now WAITS (the sink's patient wait, then a loud
    * recoverable batch failure) instead of silently landing an append
    * in a swapped-away dir. Each index still rewrites through a
    * shadow dir + recoverable swap, so a mid-compaction CRASH leaves
    * a complete copy live or at `__old`, and even a torn state (one
    * index compacted, the other not) stays correct under the sink's
    * visibility filter; the missing-row rebuild on the next run
    * remains the backstop for any loss a lease-less legacy writer
    * could still cause.
    *
    * @return (sh, bands) net rows removed — before minus after, so
    *         rebuilds of missing rows can make a component negative */
  def compactIngestIndexes(spark: SparkSession, corpusDir: String)
      : (Long, Long) = WriterLease.withWrite(spark, corpusDir,
        "idxcompact") {
    import graft.operators.Dedup
    val corpus = spark.read
      .parquet(Generations.resolve(spark, corpusDir))
      .select("doc_id", "text")
    val committed = corpus.select("doc_id")
    def rewrite(dir: String, clean: DataFrame => DataFrame,
        rebuild: DataFrame => DataFrame,
        write: (DataFrame, String) => Unit,
        schema: org.apache.spark.sql.types.StructType): Long = {
      // a corpus of all-sub-3-token docs never writes index files (the
      // sink skips empty frames) — a missing/file-less dir reads as
      // zero rows here, and the rebuild below re-derives whatever the
      // corpus deserves
      val df =
        if (graft.streaming.IngestCommit.listing(spark, dir).isEmpty)
          graft.streaming.IngestCommit.readFiles(spark, dir, Nil, schema)
        else StoreKernel.readStore(spark, Generations.resolve(spark, dir))
      val before = df.count()
      val kept = clean(df.join(committed, Seq("doc_id"), "left_semi"))
      val lost = corpus.join(df.select("doc_id"), Seq("doc_id"), "left_anti")
      val full = kept.unionByName(rebuild(lost))
      if (full.isEmpty) {
        // the corpus deserves NO index rows (all docs sub-3-token):
        // the lockstep rewrite of an empty index is an ABSENT dir —
        // the same invariant as the sink's skip-empty-writes, and the
        // shape every reader guards — never a zero-row partitionBy
        // shadow, which writes no part files and would commit an
        // unreadable shell. The whole-dir delete is the ONE swap here
        // that cannot retain a generation (absence is the committed
        // state); a scan racing this empty-index edge fails and
        // retries — bounded by the edge being an all-blank corpus.
        // FENCED like every visible write here (review r17): a
        // compactor stalled past TTL and taken over must not wipe the
        // index rows the new owner's sink has since committed
        WriterLease.verify(spark, corpusDir)
        val (fs, target) = graft.Scratch.fs(spark, dir)
        if (fs.exists(target)) fs.delete(target, true)
        before
      } else {
        val shadow = Generations.shadowFor(spark, dir)
        write(full, shadow)
        // count the written shadow, not the plan — one pass over the
        // data
        val after = StoreKernel.readStore(spark, shadow).count()
        WriterLease.verify(spark, corpusDir)
        // retained-generation commit: readers that planned splits on
        // the previous index files keep them until the TTL
        Generations.commit(spark, dir, shadow)
        before - after
      }
    }
    // one shingle-set row per doc; band rows are deterministic
    // (doc_id, band, sig) triples, so exact distinct dedupes replays.
    // (Docs under 3 tokens legitimately have no index rows —
    // shingleIndex filters them — so their rebuild is a no-op and
    // they are never counted as drift.)
    // The shingle index is rewritten in the pfx-partitioned layout the
    // streaming sink's exact-verify pruning needs (Dedup.withShPfx) —
    // which also upgrades a flat pre-layout dir in place. The select
    // drops a pfx column read back from an already-partitioned dir so
    // clean/rebuild see the logical (doc_id, sh) schema either way.
    val shDropped = rewrite(corpusDir + "__sh",
      df => df.select("doc_id", "sh").dropDuplicates("doc_id"),
      Dedup.shingleIndex,
      (df, out) => Dedup.withShPfx(df)
        .repartition(org.apache.spark.sql.functions.col("pfx"))
        .write.mode(SaveMode.Overwrite).partitionBy("pfx").parquet(out),
      graft.streaming.IngestCommit.shSchema(false))
    val bandsDropped = rewrite(corpusDir + "__bands", _.distinct(),
      d => Dedup.minhashBands(Dedup.shingleIndex(d)),
      (df, out) => df.write.mode(SaveMode.Overwrite).parquet(out),
      graft.streaming.IngestCommit.bandsSchema)
    // both dirs were just rebuilt lockstep from the corpus — every row
    // is committed, so the fresh listings ARE the commit marker (the
    // old marker's file entries died with the swap; without a re-stamp
    // every later batch would pay the fallback semi-join).
    // Listings BEFORE the re-fence (review r17): the fence exists so a
    // compactor taken over after its swaps cannot stamp a marker that
    // vouches for a new owner's uncommitted in-flight files — which
    // requires the listing WALKS to complete before the verify, or a
    // takeover landing during the walks (seconds on an object store)
    // would slip its files into an already-fenced stamp. The stamp
    // itself stays OUTSIDE IngestCommit.write's swallow-all
    // (StreamOps' marker discipline): a fenced write aborts loudly.
    val marker = graft.streaming.IngestCommit.Marker(
      graft.streaming.IngestCommit.listing(spark, corpusDir + "__sh"),
      graft.streaming.IngestCommit.listing(spark, corpusDir + "__bands"),
      graft.streaming.IngestCommit.listing(spark, corpusDir))
    WriterLease.verify(spark, corpusDir)
    graft.streaming.IngestCommit.write(spark, corpusDir, marker)
    (shDropped, bandsDropped)
  }

  /** Current-generation cell files (`cell=<v>/<part>.parquet`) of the
    * cell-partitioned table at `dir` (retired generations idle out
    * their TTL); empty when the table is absent. */
  private[graft] def cellFiles(spark: SparkSession, dir: String)
      : Seq[FileStatus] = {
    val cur = Generations.resolve(spark, dir)
    val (fs, _) = graft.Scratch.fs(spark, cur)
    Option(fs.globStatus(new Path(cur + "/cell=*/*.parquet")))
      .fold(Seq.empty[FileStatus])(_.toSeq)
  }

  /** Write `df` as a `cell`-partitioned table at `out` with ONE file per
    * cell (the codes and lists layout the probed-cell read path opens
    * nprobe files of), spread over min(`cells`, defaultParallelism)
    * tasks: an explicit-count `repartition(n, cell)` still sends each
    * cell's rows to one task, and AQE never coalesces an explicit-count
    * exchange — a bare `repartition(cell)` coalesces to ONE task that
    * writes every cell file in turn. Returns whether any cell file
    * landed: a partitioned write of zero rows emits no schema-bearing
    * file, and the listing says so without the count job a
    * `df.isEmpty` guard costs. The caller decides what a file-less `out`
    * means (a compaction must not commit it; an n=0 build's empty table
    * is legitimate). */
  private[graft] def writeCells(spark: SparkSession, df: DataFrame,
      out: String, cells: Int): Boolean = {
    val n = math.max(1,
      math.min(cells, spark.sparkContext.defaultParallelism))
    df.repartition(n, col("cell")).write.mode(SaveMode.Overwrite)
      .partitionBy("cell").parquet(out)
    val (fs, _) = graft.Scratch.fs(spark, out)
    Option(fs.globStatus(new Path(out + "/cell=*/*.parquet")))
      .exists(_.nonEmpty)
  }

  private def distinctCells(files: Seq[FileStatus]): Int =
    files.map(_.getPath.getParent).distinct.size

  /** Delete a shadow that must not commit (a file-less rewrite). */
  private def dropShadow(spark: SparkSession, shadow: String): Unit = {
    val (fs, sp) = graft.Scratch.fs(spark, shadow)
    fs.delete(sp, true)
  }

  /** Compact the persisted ANN index's cell-partitioned codes tables
    * ([[graft.operators.IndexStore]] at `indexDir`): fold each table's
    * delta buffer (one file per append batch) and any per-cell slivers
    * back into ONE file per cell (the build-time layout), dropping the
    * tombstoned ids on the way, then fold the tombstone sidecar into
    * meta. Each table is rewritten into a shadow and committed as its
    * next retained generation ([[Generations.commit]]), so in-flight
    * scans keep the files they planned.
    *
    * Content is untouched apart from the tombstoned rows — rows, schema
    * and `cell=` directory names are exactly what build/append wrote —
    * so q69/q70 results are bit-identical pre/post.
    *
    * Write-then-commit: both shadows are written (side by side — the
    * `rcodes` one on a second driver thread, [[graft.operators
    * .Similarity.overlapped]], under its own job group, so a failed
    * `codes` write cancels it) before either commits. A failed or
    * zero-row write commits neither table; the commits then run on the
    * caller thread in a fixed order — fence, `codes`; fence, `rcodes`;
    * the meta fold last. The helper thread only reads and writes its
    * shadow: it never enters [[WriterLease.withWrite]] or the store
    * monitor, which are reentrant per THREAD only (the helper would
    * wait on its own caller), and [[WriterLease.verify]] fences only
    * the lease-holding thread.
    *
    * Concurrency contract: [[StoreKernel.mutate]] (the store's writer
    * lease, then its monitor), so same-store readers and appends
    * serialize against the rewrite and other stores' maintenance
    * proceeds. A crash between the two commits leaves `codes` folded
    * and `rcodes` not (both complete and readable); the integrity
    * probe's count leg sees the difference when tombstones were
    * dropped and the next ensure rebuilds, so the index self-heals
    * instead of serving a torn pair. A crash between the commits and the meta fold converges the
    * same way (see [[graft.operators.IndexStore.foldTombstonesIntoMeta]]).
    *
    * @return (part files before, part files after) across both tables */
  def compactAnnIndex(spark: SparkSession, indexDir: String): (Int, Int) =
    compactAnnIndex(spark, indexDir, None)

  /** [[compactAnnIndex]] whose id drop and meta fold take `tombs`, the
    * tombstone sidecar, from a caller that read it under the writer
    * lease it still holds (deletes take the same lease, so the sidecar
    * cannot change in between); None reads it here. */
  private[graft] def compactAnnIndex(spark: SparkSession, indexDir: String,
      tombs: Option[StoreKernel.Tombs]): (Int, Int) =
    StoreKernel.mutate(spark, indexDir, "compact") {
      import graft.operators.{IndexStore, Similarity}
      // deletion fold rides the same rewrite: tombstoned ids (ghost
      // rows excluded by every reader since their deleteBatch) are
      // dropped from both tables here, then meta folds the sidecar's
      // (count, xor) and the sidecar clears — the physical half of
      // the deletion lifecycle (see IndexStore's deletion section)
      val dropIds = tombs.getOrElse(IndexStore.tombsOf(spark, indexDir))
      final class Table(val name: String) {
        val dir = s"$indexDir/$name"
        // ONE delta listing (reaping TTL-expired absorbed files — this
        // path holds the lease) serves the before-count and the fold
        // sentinel; delta files count as part files, folding them away
        // IS this compaction's contract (see IndexStore's delta doc)
        val absorbed = IndexStore.absorbedDelta(spark, indexDir, name)
        val deltaNames =
          IndexStore.deltaFileNames(spark, indexDir, name, reap = true)
        val base = cellFiles(spark, dir)
        def before: Int = base.size + deltaNames.size
        /** This table minus the tombstoned ids, written to a fresh
          * shadow (fold sentinel stamped in): Some(shadow), or None when
          * no row survives — the shadow is then deleted. */
        def rewrite(): Option[String] = {
          val df0 = IndexStore.withDeltaOf(spark, indexDir, name)(identity)
          val df = dropIds.drop(df0)
          val shadow = Generations.shadowFor(spark, dir)
          if (!writeCells(spark, df, shadow, distinctCells(base))) {
            dropShadow(spark, shadow)
            None
          } else {
            // fold sentinel INTO the shadow, BEFORE the commit: once the
            // shadow is the live generation its base owns the delta
            // rows, and the sentinel excludes the absorbed files from
            // every delta read until their TTL reap (see IndexStore's
            // delta doc). Carried forward: the PREVIOUS generation's
            // absorbed entries whose files are still on disk (not yet
            // reaped) must stay excluded under the new generation too;
            // fully-reaped entries are pruned here. A crash at any point
            // leaves either the old generation live (this sentinel
            // unborn — delta still served) or the new one (delta
            // excluded) — never doubled rows.
            val (dfs, ddp) = graft.Scratch.fs(spark,
              IndexStore.deltaDirOf(indexDir, name))
            val now = System.currentTimeMillis()
            val carried =
              absorbed.filter { case (n, _) =>
                dfs.exists(new Path(ddp, n)) } ++
              deltaNames.map(_ -> now).toMap
            if (carried.nonEmpty) IndexStore.stampFold(spark, shadow, carried)
            Some(shadow)
          }
        }
      }
      val codes = new Table("codes")
      val rcodes = new Table("rcodes")
      val before = codes.before + rcodes.before
      val rcodesT = Similarity.overlapped(rcodes.rewrite())
      val codesShadow = rcodesT.guarded(codes.rewrite())
      val rcodesShadow = rcodesT()
      (codesShadow, rcodesShadow) match {
        case (Some(cs), Some(rs)) =>
          // fence at each COMMIT point: a compactor stalled past the
          // lease TTL and taken over must not commit pre-takeover
          // shadows over the new owner's appends
          WriterLease.verify(spark, indexDir)
          Generations.commit(spark, codes.dir, cs)
          WriterLease.verify(spark, indexDir)
          Generations.commit(spark, rcodes.dir, rs)
          // AFTER both commits: meta folds the sidecar and the sidecar
          // clears
          if (!dropIds.isEmpty)
            IndexStore.foldTombstonesIntoMeta(spark, indexDir, Some(dropIds))
          (before,
            Seq(codes, rcodes).map(t => cellFiles(spark, t.dir).size).sum)
        case (cs, rs) =>
          // zero-row guard (the sibling compactions' standing rule): a
          // file-less shadow committed as the live generation would make
          // every later codes read throw. Reachable when tombstones
          // cover every indexed row while an invalid-norm row keeps the
          // corpus-table rewrite legal. Commit neither table and keep
          // the sidecar (clearing it while the ghost rows are still on
          // disk would let every reader serve them): the tombstone
          // anti-join keeps serving exact and the next rebuild converges
          // physically.
          (cs ++ rs).foreach(dropShadow(spark, _))
          System.err.println(s"[annidx] fold skipped at $indexDir: every " +
            "row is tombstoned — a zero-row rewrite would commit an " +
            "unreadable generation; the tombstone anti-join keeps " +
            "serving exact until a rebuild")
          (before, before)
      }
    }

  /** Reap EXPIRED retired generations across every store of a corpus —
    * the standing-maintenance form of the GC that otherwise rides each
    * store's NEXT rewrite ([[Generations.gc]] fires at commit time, so
    * a store that stops being rewritten would keep its last retired
    * generation indefinitely; a compliance deployment also calls this
    * after the TTL to make physical erasure provable rather than
    * eventual — see [[graft.operators.Retention]]'s erasure-latency
    * note). Each store's sweep runs under ITS writer lease (the
    * Generations writer contract); stores/tables that do not exist
    * contribute nothing. Deletes only state older than
    * `spark.graft.gen.ttlMs` — never the live generation. Returns
    * entries deleted. */
  def gcGenerations(spark: SparkSession, corpusDir: String): Int = {
    import graft.operators.{IndexStore, IngestScreen, LexIndex}
    def sweep(leaseDir: String, tables: Seq[String]): Int = {
      val live = tables.filter { t =>
        val (fs, p) = graft.Scratch.fs(spark, t)
        fs.exists(p)
      }
      if (live.isEmpty) 0
      else WriterLease.withWrite(spark, leaseDir, "gen-gc") {
        live.map(Generations.gc(spark, _)).sum
      }
    }
    // the ANN store's sweep also reaps TTL-expired ABSORBED delta
    // files (part of the same retired state: their rows live in the
    // folded base, the files persist for in-flight readers — an idle
    // store would otherwise keep a forgotten row's codes until its
    // next delta read, defeating the provable-erasure recipe;
    // deltaFileNames reaps as a side effect). ONE lease hold covers
    // the reap and the generation GC — two back-to-back acquisitions
    // would pay an extra create-exclusive round-trip and let another
    // writer interleave for no benefit.
    val idxDir = IndexStore.dirFor(spark, corpusDir)
    val idxDeleted = {
      val (ifs, ip) = graft.Scratch.fs(spark, idxDir)
      if (!ifs.exists(ip)) 0
      else WriterLease.withWrite(spark, idxDir, "gen-gc") {
        Seq("codes", "rcodes")
          .foreach(t =>
            IndexStore.deltaFileNames(spark, idxDir, t, reap = true))
        Seq("codes", "rcodes").map(t => s"$idxDir/$t")
          .filter { t =>
            val (fs, p) = graft.Scratch.fs(spark, t)
            fs.exists(p)
          }
          .map(Generations.gc(spark, _)).sum
      }
    }
    // corpus tables + the streaming dedup indexes share the corpus
    // lease (the same key their writers hold); each persisted store's
    // tables ride its own lease
    idxDeleted +
      sweep(corpusDir, Seq(
        s"$corpusDir/documents.parquet", s"$corpusDir/embeddings.parquet",
        corpusDir, s"${corpusDir}__sh", s"${corpusDir}__bands")) +
      sweep(LexIndex.dirFor(spark, corpusDir),
        Seq("tf", "df", "stats").map(t =>
          s"${LexIndex.dirFor(spark, corpusDir)}/$t")) +
      sweep(IngestScreen.listsDir(spark, corpusDir),
        Seq(s"${IngestScreen.listsDir(spark, corpusDir)}/lists"))
  }

  /** Small-file compaction for the veclists sidecar
    * ([[graft.operators.IngestScreen]]): every appendLists lands a
    * part-file sliver into each touched `cell=` partition — exactly
    * where the DPP-pruned screen read opens files. Content-preserving
    * rewrite to one file per cell ([[writeCells]]); the identity marker
    * (fp/n vs the index meta) is untouched because no ROW moved. Same
    * [[StoreKernel.mutate]] contract as [[compactAnnIndex]]. Returns
    * (files before, files after) for the `lists` table. */
  def compactVecLists(spark: SparkSession, listsDir: String): (Int, Int) =
    StoreKernel.mutate(spark, listsDir, "compact") {
      val dir = s"$listsDir/lists"
      val files = cellFiles(spark, dir)
      val before = files.size
      // zero-FILE guard FIRST, before constructing the read (review
      // r17): rebuildLists at n=0 legitimately writes a marker-only
      // store with NO lists table, and an eager spark.read.parquet of
      // that path throws before any later guard could run — a public
      // maintenance entry must no-op on engine-written states, not
      // crash on them
      if (before == 0) (before, before)
      else {
        val df = StoreKernel.readStore(spark, Generations.resolve(spark, dir))
        val shadow = Generations.shadowFor(spark, dir)
        // zero-row guard (same class as compact's totalFiles==0 skip and
        // compactIngestIndexes' full.isEmpty branch): a file-less
        // shadow swapped in would leave a footer-less dir every later
        // read throws on. Unreachable from the ensureLists policy path
        // (it only fires past a files-per-cell threshold), but this is
        // a public maintenance entry callable on foreign-written
        // layouts.
        if (!writeCells(spark, df, shadow, distinctCells(files))) {
          dropShadow(spark, shadow)
          (before, before)
        } else {
          WriterLease.verify(spark, listsDir)
          // retained-generation commit (reader snapshot isolation)
          Generations.commit(spark, dir, shadow)
          (before, cellFiles(spark, dir).size)
        }
      }
    }
}
