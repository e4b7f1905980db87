package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.max

import graft.checks.Validations
import graft.checks.Validations.Method
import graft.operators.Upsert

/** Parquet sink — the reference's pure-storage path (SURVEY.md §3.3,
  * O11/O15/O16/O17).
  *
  * Two layouts:
  *
  *  - **directory (default)**: `<base>/<schema>/<table>.parquet` as a
  *    directory of part files — the distributed-native layout (readers
  *    glob the directory, writers scale out).
  *  - **single-file** (`Config.singleFile = true`): byte-compatible
  *    with the reference's blob layout (export.py:354-360) —
  *    create/upsert produce ONE object `<schema>/<table>.parquet`,
  *    append lands `<schema>/<table>/<table>_<millis>.parquet` per
  *    call. This funnels the write through one task (`coalesce(1)`),
  *    which is the point: it exists so a reference-era consumer can
  *    read the output unchanged, not for 100 TB tables. Incompatible
  *    with `partitionBy`.
  *
  * Methods:
  *  - **create**: overwrite;
  *  - **append**: land additional part files (the reference's
  *    timestamp-suffixed per-call file becomes Spark's unique part
  *    files — same contract: never rewrites existing data);
  *  - **upsert**: read existing, apply [[Upsert.upsert]]'s semantics
  *    (the reference's two-branch combine_first/row-replace), write to
  *    a shadow directory, then swap via [[swapInto]] — the live
  *    directory is never an input and an output of the same job, and a
  *    crash mid-swap always leaves a complete copy on disk. The input
  *    is probed once ([[Validations.probe]]: emptiness, key
  *    uniqueness, the row/cell dispatch). On the directory layouts the
  *    live table's schema comes from a footer read on the driver, and
  *    the existing table's keys are checked in full only when its
  *    `_graft_unique_keys` marker does not vouch for its current files
  *    (see [[keysVouched]]): every committed upsert stamps it inside
  *    the writer lease, and any other write to the table outdates it.
  *    The single-file layout has no marker and always checks.
  */
object ParquetSink {

  /** @param partitionBy hive-style partition columns — at 100 TB a
    *   date/tenant partition layout is what makes downstream scans
    *   prune whole directories (PartitionFilters in the plan).
    * @param singleFile reference-compatible single-object layout; see
    *   class doc. */
  final case class Config(
      base: String,
      table: String,
      schema: String,
      method: Method,
      idField: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil,
      singleFile: Boolean = false)

  def tablePath(cfg: Config): String =
    s"${cfg.base}/${cfg.schema}/${cfg.table}.parquet"

  /** Writer-lease key for a table path — ONE rule shared with
    * [[Maintenance.compact]] (a `<dir>/<table>.parquet` table leases
    * the dir, a bare table dir leases itself), so this sink's
    * append/upsert and a concurrent maintenance compaction of the
    * same table serialize instead of racing a generation commit. */
  private def leaseDirOf(path: String): String =
    if (path.stripSuffix("/").endsWith(".parquet"))
      new Path(path.stripSuffix("/")).getParent.toString
    else path

  /** Replace directory `path` with `shadow`, leaving a complete copy on
    * disk at every instant: the live dir is renamed aside first, so a
    * crash between steps strands either the old data (recoverable at
    * `<path>__old`) or finds the swap already complete — never a
    * missing table. NOT atomic for concurrent readers (HDFS-like
    * stores have no multi-op transactions); the unreadable window is
    * two renames, versus delete-then-rewrite's full write duration. */
  private[graft] def swapInto(fs: FileSystem, shadow: Path, path: Path): Unit = {
    val old = new Path(path.toString + "__old")
    if (fs.exists(old)) fs.delete(old, true)
    // both renames checked: a false return (IO error, concurrent
    // recreation of the target) would otherwise leave the STALE table
    // live — or, on LocalFileSystem, move the shadow INSIDE the still-
    // present live dir — with no signal, and the next
    // validate-and-rebuild consumer would silently paper over the
    // failed write (the same silent-false mode [[promote]] guards)
    if (!fs.rename(path, old))
      throw new java.io.IOException(
        s"swapInto: rename $path -> $old returned false; live table " +
          "untouched, shadow left in place")
    if (!fs.rename(shadow, path)) {
      val restored = fs.rename(old, path)
      throw new java.io.IOException(
        s"swapInto: rename $shadow -> $path returned false; previous " +
          (if (restored) "table restored" else s"table stranded at $old"))
    }
    // best-effort (same rationale as writeSingleFile's deleteOldOrWarn):
    // stranded __old only costs storage and the next swap's pre-delete
    // clears it loudly — but say so NOW, with the path
    if (!fs.delete(old, true))
      System.err.println(s"[parquet-sink] could not delete $old after " +
        "swap; stranded debris until the next swap clears it")
  }

  /** Promote `shadow` to `live` whether or not a live copy exists yet:
    * swap when it does, plain rename when it does not. The first-write
    * path cannot go through [[swapInto]] — LocalFileSystem's rename of
    * a MISSING source throws via its copy fallback instead of
    * returning false, and a rename into a missing PARENT silently
    * returns false (no exception, no data) — so it makes the parent
    * and renames directly. One definition for every shadow-promoting
    * writer (index store meta + dirs today), so the two rename caveats
    * live in one place. */
  private[graft] def promote(fs: FileSystem, shadow: Path, live: Path): Unit =
    if (fs.exists(live)) swapInto(fs, shadow, live)
    else {
      fs.mkdirs(live.getParent)
      // a false return (e.g. live created between the exists check and
      // the rename) would otherwise strand the shadow with NO live copy
      // and no signal — the next ensure would silently rebuild over an
      // invisible failure. Fail loudly instead; the shadow stays on
      // disk for inspection.
      if (!fs.rename(shadow, live))
        throw new java.io.IOException(
          s"promote: rename $shadow -> $live returned false " +
            "(live created concurrently?); shadow left in place")
    }

  /** Strictly-increasing per-JVM millis stamp for the single-file
    * append layout: two appends inside the same millisecond would
    * otherwise produce the SAME `<table>_<millis>.parquet` name and
    * the second would replace the first — silent loss under the
    * "append never rewrites existing data" contract. Cross-JVM
    * collisions are refused loudly by [[writeSingleFile]]'s
    * no-overwrite mode instead. */
  private val lastAppendStamp = new java.util.concurrent.atomic.AtomicLong(0L)
  private[sources] def appendStamp(): Long = lastAppendStamp.updateAndGet(
    prev => math.max(prev + 1, System.currentTimeMillis()))

  /** Write `df` as ONE parquet object at `dest` (a file path, not a
    * directory): single-task shadow write, then move the part file into
    * place. Overwrite of an existing object is the reference's blob
    * semantics (upload_blob overwrite=True); `overwrite = false` (the
    * append layout) refuses an existing destination instead — append
    * must never replace data, so a name collision is an error, not an
    * overwrite. */
  private def writeSingleFile(df: DataFrame, dest: Path,
      overwrite: Boolean = true): Unit = {
    val spark = df.sparkSession
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dest.getParent, "." + dest.getName + "__tmp")
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val part = fs.globStatus(new Path(tmp, "part-*.parquet"))(0).getPath
    fs.mkdirs(dest.getParent)
    if (fs.exists(dest)) {
      if (!overwrite)
        throw new java.io.IOException(
          s"writeSingleFile: $dest already exists and overwrite=false " +
            "(append collision — e.g. a concurrent writer landed the " +
            "same stamp); staged file kept, nothing replaced")
      // rename ASIDE, never delete-then-rename: a crash between a
      // delete and the rename would leave NO live object at dest (the
      // only copy hiding in the dot-prefixed tmp dir) — the same
      // complete-copy-at-every-instant discipline as [[swapInto]],
      // applied to the one-file layout
      val old = new Path(dest.getParent, dest.getName + "__old")
      // both __old cleanups are best-effort for CORRECTNESS (a
      // stranded __old only costs storage; the renames above it are
      // the checked, load-bearing steps) but a silent false here hides
      // the debris until a LATER overwrite's rename-aside fails on the
      // squatting path — warn with the exact path so the operator sees
      // it now, not one failure later
      def deleteOldOrWarn(when: String): Unit =
        if (fs.exists(old) && !fs.delete(old, false))
          System.err.println(s"[parquet-sink] could not delete $old " +
            s"($when); stranded debris will block the next overwrite " +
            "of this object until removed")
      deleteOldOrWarn("pre-existing debris before rename-aside")
      if (!fs.rename(dest, old))
        throw new java.io.IOException(
          s"writeSingleFile: rename $dest -> $old returned false; " +
            "live object untouched, staged file kept")
      if (!fs.rename(part, dest)) {
        val restored = fs.rename(old, dest)
        throw new java.io.IOException(
          s"writeSingleFile: rename $part -> $dest returned false; " +
            (if (restored) "previous object restored"
             else s"previous object stranded at $old"))
      }
      deleteOldOrWarn("cleanup after successful replace")
    } else {
      // checked like swapInto/promote: an unchecked false here would
      // delete the tmp dir holding the ONLY copy of the data right
      // after a silently failed move — loud failure keeps the part
      // file on disk for recovery instead
      if (!fs.rename(part, dest))
        throw new java.io.IOException(
          s"writeSingleFile: rename $part -> $dest returned false " +
            "(destination created concurrently?); staged file kept")
    }
    fs.delete(tmp, true)
  }

  def write(df: DataFrame, cfg: Config): Boolean = {
    Validations.requireUniqueColumnNames(df)
    Validations.requireIdField(cfg.method, cfg.idField)
    require(!(cfg.singleFile && cfg.partitionBy.nonEmpty),
      "singleFile layout cannot carry hive partition directories")
    if (cfg.method == Method.Upsert) return upsert(df, cfg)
    if (Validations.isEmpty(df)) return false
    val spark = df.sparkSession
    val path = tablePath(cfg)
    cfg.method match {
      case Method.Create if cfg.singleFile =>
        writeSingleFile(df, new Path(path))
      case Method.Create =>
        writer(df, cfg, SaveMode.Overwrite).parquet(path)
      case Method.Append if cfg.singleFile =>
        // reference append layout: schema/table/table_<stamp>.parquet
        writeSingleFile(df, new Path(
          s"${cfg.base}/${cfg.schema}/${cfg.table}/${cfg.table}_${appendStamp()}.parquet"),
          overwrite = false)
      case _ => // Method.Append (an upsert returned above)
        // generation-resolved INSIDE the table's writer lease (the
        // Generations appender contract — same lease key Maintenance
        // .compact uses, so a concurrent compaction serializes): a
        // lock-free resolve could land rows in a generation the racing
        // compact just retired — invisible to resolving readers and
        // physically reaped at the TTL. Identity (and one uncontended
        // acquire) for a never-compacted table.
        WriterLease.withWrite(spark, leaseDirOf(path), "append") {
          writer(df, cfg, SaveMode.Append).parquet(
            Generations.resolve(spark, path))
        }
    }
    true
  }

  private def writer(d: DataFrame, cfg: Config, mode: SaveMode) = {
    val w = d.write.mode(mode)
    if (cfg.partitionBy.nonEmpty) w.partitionBy(cfg.partitionBy: _*) else w
  }

  /** Keyed upsert. One probe of `df` ([[Validations.probe]]) answers
    * emptiness, key uniqueness and the row/cell dispatch
    * ([[Upsert.dispatch]]); on the directory layouts the live table's
    * schema comes from its footer on the driver
    * ([[StoreKernel.readTable]]), and the whole-table key check is
    * skipped when the table's uniqueness marker ([[keysVouched]])
    * still vouches for it. */
  private def upsert(df: DataFrame, cfg: Config): Boolean = {
    val keys = cfg.idField
    // a null key never matches in the merge's joins, so a null-keyed
    // delta row can sit beside an old null-keyed row: two rows of one
    // key group by the uniqueness check's grouping. Such a result is
    // not stamped as key-unique
    val probe = Validations.probe(df, keys,
      Seq(max(keys.map(k => Validations.qcol(k).isNull).reduce(_ || _))
        .as("nullKey")))
    if (probe.isEmpty) return false
    probe.requireUniqueKeys(keys)
    val spark = df.sparkSession
    val path = tablePath(cfg)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def merged(old: DataFrame) = Upsert.dispatch(df, old, keys, probe.anyMissing)
    if (!fs.exists(new Path(path))) {
      if (cfg.singleFile) writeSingleFile(df, new Path(path))
      else writer(df, cfg, SaveMode.Overwrite).parquet(path)
    } else if (!cfg.singleFile) {
      // read-merge-commit under the SAME lease as append: the read of
      // the live generation and the commit of the next one must not
      // straddle a concurrent compaction
      WriterLease.withWrite(spark, leaseDirOf(path), "upsert") {
        val live = Generations.resolve(spark, path)
        val old = StoreKernel.readTable(spark, live)
        if (!keysVouched(fs, new Path(live), keys))
          requireUniqueLive(old, path, keys)
        if (Generations.hasGens(spark, path)) {
          // the table is already generational (a maintenance
          // compaction migrated it): keep the retained-generation
          // discipline — a bare swapInto here would read stale
          // generation-0 rows and DELETE the live generation with
          // the root it renames aside
          val shadow = Generations.shadowFor(spark, path)
          writer(merged(old), cfg, SaveMode.Overwrite).parquet(shadow)
          Generations.commit(spark, path, shadow)
        } else {
          // reference-compatible layout: the legacy recoverable swap
          // (old copy deleted, not retained — the documented blob
          // overwrite semantics of this sink)
          val shadow = new Path(path + "__swap")
          writer(merged(old), cfg, SaveMode.Overwrite).parquet(shadow.toString)
          swapInto(fs, shadow, new Path(path))
        }
        // the committed data dir is a fresh one (the swapped-in shadow,
        // or the new generation), so it holds no marker until this
        // stamp: a crash before it leaves the next upsert to check
        beforeStamp(path)
        if (probe.extra("nullKey") == false)
          stampKeys(fs, new Path(Generations.resolve(spark, path)), keys)
      }
    } else {
      // single-file (blob) layout: one OBJECT, no generations, no
      // marker — the reference's single-writer blob semantics, with
      // the old side checked in full on every upsert
      val old = spark.read.parquet(path)
      requireUniqueLive(old, path, keys)
      // writeSingleFile stages into a tmp dir first, so the read
      // of `path` completes before the one-file replace
      writeSingleFile(merged(old), new Path(path))
    }
    true
  }

  /** The OLD side must be key-unique too (the reference checks only
    * the new frame, utils.py:87-89 at export.py:412 — but a prior
    * append can land duplicate keys on disk, and the full-outer join
    * would then silently emit one output row PER old copy, multiplying
    * rows in a sink whose contract is unique keys). One column-pruned
    * key scan. */
  private def requireUniqueLive(old: DataFrame, path: String,
      keys: Seq[String]): Unit =
    try Validations.requireUniqueKeys(old, keys)
    catch { case e: graft.checks.UpsertError =>
      throw graft.checks.UpsertError(
        s"existing table at $path violates key uniqueness — a " +
          "prior append landed duplicate keys; deduplicate " +
          s"before upserting (${e.getMessage})")
    }

  // --- key-uniqueness marker -------------------------------------------------

  /** Hidden file in a directory table's live data dir (the table root,
    * or its newest generation) vouching that the data files listed
    * there hold no two rows with equal keys. Spark and pyarrow readers
    * skip `_` names. */
  private[sources] val KeysMarker = "_graft_unique_keys"

  /** Test seam: runs between an upsert's commit and its marker stamp,
    * given the table path. */
  @volatile private[sources] var beforeStamp: String => Unit = _ => ()

  /** The marker's content for `dir` now: the key columns, then a
    * SHA-256 over the listing of every file a reader of `dir` reads
    * (relative path, length, mtime — [[StoreKernel.digest]]'s trust
    * class: any Spark write lands new part-file names, any rewrite new
    * lengths or mtimes). */
  private def keysLine(fs: FileSystem, dir: Path, keys: Seq[String]): String = {
    def walk(p: Path, rel: String): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (org.apache.spark.sql.execution.datasources.parquet
            .GraftFooterSchema.hidden(name)) Nil
        else if (st.isDirectory) walk(st.getPath, s"$rel$name/")
        else Seq(s"$rel$name|${st.getLen}|${st.getModificationTime}")
      }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    walk(dir, "").sorted.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
    val enc = keys.map(java.net.URLEncoder.encode(_, "UTF-8")).mkString(",")
    s"keys=$enc\nfiles=${md.digest().map("%02x".format(_)).mkString}\n"
  }

  /** Does `dir`'s marker vouch for its current files under `keys`? Any
    * append, create, compaction, foreign file or replaced file since
    * the stamp changes the listing, and then it does not. */
  private[sources] def keysVouched(fs: FileSystem, dir: Path,
      keys: Seq[String]): Boolean =
    try {
      val marker = new Path(dir, KeysMarker)
      fs.getFileStatus(dir).isDirectory && fs.exists(marker) &&
        new String(graft.Scratch.readSmallFile(fs, marker), "UTF-8") ==
          keysLine(fs, dir, keys)
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Stamp `dir`'s marker for its current files. Best-effort: a failed
    * or torn stamp only brings the full check back on the next upsert.
    * Caller holds the table's writer lease, so no other writer of the
    * table lands files between the commit and this listing. */
  private def stampKeys(fs: FileSystem, dir: Path, keys: Seq[String]): Unit =
    try {
      val out = fs.create(new Path(dir, KeysMarker), true)
      try out.write(keysLine(fs, dir, keys).getBytes("UTF-8"))
      finally out.close()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[parquet-sink] could not stamp $KeysMarker in " +
        s"$dir (${e.getMessage}); the next upsert re-checks its keys")
    }
}
