package graft.sources

import scala.reflect.runtime.universe.TypeTag
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SaveMode,
  SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Similarity

/** A store meta row the validate-or-build lifecycle can check corpus
  * identity against: the indexable row count and xor fingerprint the
  * store's artifacts were derived from. */
trait StoreMeta extends Product {
  def n: Long
  def fp: Long
}

/** A store append's refusal of a batch that re-adds a TOMBSTONED
  * (deleted, not yet folded) key ([[StoreKernel.Tombs.refuseReAdd]]).
  * Its prescribed recovery differs from every other refusal — the FOLD
  * (a compaction), not an ensure() that would validate the refusing
  * state and hand a retry the same refusal forever — so the streaming
  * sinks dispatch on this TYPE; a message-substring dispatch broke
  * silently on any rewording. Extends IllegalStateException so
  * existing catch clauses keep working. */
final class TombstonedReAddException(msg: String)
  extends IllegalStateException(msg)

/** The one lifecycle under the persisted stores — the ANN
  * [[graft.operators.IndexStore]], the lexical [[graft.operators
  * .LexIndex]] and the veclists [[graft.operators.IngestScreen]] —
  * next to [[WriterLease]] (who may write) and [[Generations]] (which
  * table copy readers see). A store passes in only what differs
  * ([[Store]], the checks, `serve` and `build` of [[ensure]], the
  * capture and hook of [[delete]], the probes and compaction of
  * [[compactWhenDue]]); the kernel owns the monitor, the lock order of
  * every mutation ([[mutate]]), the meta promote, the validation
  * token, the tombstone sidecar and its re-add guard, the
  * crashed-delete heal, the delete skeleton, the policy compaction and
  * the validate-or-build skeleton. The veclists store uses the
  * monitor, the meta, [[mutate]] and [[compactWhenDue]]. The token
  * line, meta schemas and sidecar layout are persisted formats:
  * changing one makes every deployed store revalidate or rebuild (the
  * token bytes are pinned by StoreKernelSpec). */
object StoreKernel {

  /** One store's facts for a token, heal or [[ensure]] call: where it
    * lives, the corpus table it indexes (and the corpus dir whose
    * writer lease guards that table), the corpus key its tombstones
    * carry, the boolean sidecar column selecting the tombstones that
    * fold into the identity (None: every one), the dial line the
    * digest folds in, and the parser of the meta fields of its token.
    * `tag` prefixes every stderr line the kernel prints for it. */
  final case class Store[M <: StoreMeta](tag: String, dir: String,
      corpusDir: String, corpus: String, key: String, valid: Option[String],
      dials: String, parse: IndexedSeq[String] => M)

  /** A parsed token: the digest it was stamped under, the meta copy and
    * the tombstone fold terms live at validation time. */
  final case class Token[M](digest: String, meta: M, tombN: Long,
      tombXor: Long)

  // --- monitors --------------------------------------------------------------

  /** PER-STORE in-JVM monitor (VERDICT r17 #1): store-level
    * serve/mutate serialization rides a monitor keyed by the store dir,
    * so two threads of one JVM maintaining DIFFERENT stores (the
    * sharded ingest's K shard bodies, the streaming sinks' several
    * stores) never serialize each other — the cross-JVM arbiter is the
    * per-store [[WriterLease]]; this aligns the in-JVM one with it.
    * Same-store callers get mutual exclusion (one canonical monitor
    * object per dir string, trailing-slash-normalized — all callers
    * obtain dirs from the stores' `dirFor`/`listsDir`, so the strings
    * agree). The `IndexStore` OBJECT monitor remains in use as a
    * deliberate GLOBAL mutex for scratch-pipeline seeding
    * (q78/q79–q82), which is cross-store by nature. */
  def monitorFor(dir: String): Object =
    storeMonitors.computeIfAbsent(dir.stripSuffix("/"), _ => new Object)

  private val storeMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `body`, a mutation of the store at `dir`, holding the store's
    * writer lease and then its monitor — the one lock order of every
    * store mutation (append, delete, compaction). The lease comes
    * first, so a foreign holder's bounded wait never blocks this JVM's
    * readers, which take the monitor alone ([[ensure]]); the per-store
    * monitor lets mutations of different stores (the sharded ingest's K
    * shard bodies) run at once. Both are reentrant per thread. A thread
    * holding the monitor must never wait for the lease: a concurrent
    * mutator holds the lease and waits for the monitor, and the pair
    * stalls until the lease wait throws — so a policy compaction runs
    * after the monitor is released ([[compactWhenDue]]). */
  def mutate[T](spark: SparkSession, dir: String, op: String)(body: => T): T =
    WriterLease.withWrite(spark, dir, op)(monitorFor(dir).synchronized(body))

  /** A policy compaction, run after [[ensure]] released the store
    * monitor: `due`, a cheap probe (false skips the lease entirely on
    * the quiet path); the writer lease; `recheck`, a re-probe from
    * driver-side reads only (a racing policied ensure may have just
    * compacted — the rewrite must not run twice), whose answer
    * `compact` gets; then `compact`, which takes the monitor through
    * [[mutate]] (re-entering the lease) and, in a store with a token,
    * re-stamps it when it vouched for the state before ([[preserving]]).
    * Refuses a caller holding the store monitor: it would take the
    * monitor before the lease. Returns the compaction's result, None
    * when it did not run. */
  def compactWhenDue[P, R](spark: SparkSession, dir: String)(due: => Boolean)(
      recheck: => Option[P])(compact: P => R): Option[R] = {
    require(!Thread.holdsLock(monitorFor(dir)),
      s"a policy compaction of $dir must not run while holding the " +
        "store's monitor — lease-then-monitor is the required order")
    if (!due) None
    else WriterLease.withWrite(spark, dir, "policy-compact")(recheck.map(compact))
  }

  // --- store-table reads -----------------------------------------------------

  /** `paths` read as parquet under the schema of one footer read on the
    * driver: the data file Spark's own inference opens (the first by
    * path of the leaf files under `paths`, hidden `_`/`.` names
    * skipped), converted by Spark's own footer conversion
    * ([[GraftFooterSchema]]). Same schema and rows as
    * `spark.read.parquet(paths: _*)` — partition columns (`cell`,
    * `pfx`) are still inferred from the paths — but building the frame
    * launches no Spark job, where the plain read runs a one-task job
    * per table just to read that footer. For the tables the stores
    * write themselves, all files of one table under one schema (meta,
    * tombstones, trained tables, codes, lists, postings): user tables
    * go through [[readTable]]. No data file (an absent path, a dir
    * holding only `_SUCCESS` or hidden debris) or an unreadable footer:
    * the plain read, which fails exactly as it always did. */
  def readStore(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, dataFiles(leafFiles(spark, paths)))
      .fold(spark.read.parquet(paths: _*))(spark.read.schema(_).parquet(paths: _*))

  /** The row count of the store table files under `paths` (directories
    * or single files), summed from each data file's footer on the
    * driver: what `readStore(spark, paths: _*).count()` returns, without
    * a Spark job. An absent path counts 0. */
  def rowCount(spark: SparkSession, paths: String*): Long =
    dataFiles(leafFiles(spark, paths)).map(GraftFooterSchema.rowCount(spark, _)).sum

  /** A user table (a corpus, the documents) at `path` — a single
    * parquet file or a directory — read as `spark.read.parquet(path)`
    * reads it. Spark's inference (schema merging off) converts one
    * footer: a `_common_metadata` or `_metadata` summary file when the
    * table has one, else the first data file by path. In that last
    * case, and only there, the same footer is read on the driver
    * ([[readStore]]'s route), so building the frame runs no Spark job.
    * The plain read (with its one-task inference job) stays for a table
    * with a summary file, for schema merging on (the session conf
    * `spark.sql.parquet.mergeSchema`; this reader takes no read
    * options), and for a data column that is also a partition column of
    * the path (Spark then types it from the path). */
  def readTable(spark: SparkSession, path: String): DataFrame = {
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean)
      return spark.read.parquet(path)
    val leaves = leafFiles(spark, Seq(path))
    val (fs, root) = graft.Scratch.fs(spark, path)
    val base = fs.makeQualified(root).toString
    val partCols = leaves.flatMap(_.getPath.getParent.toString
        .stripPrefix(base).split('/').filter(_.contains('=')))
      .map(_.takeWhile(_ != '=').toLowerCase).toSet
    footerSchema(spark, if (leaves.exists(summary)) Nil else dataFiles(leaves))
      .filterNot(_.fieldNames.exists(f => partCols(f.toLowerCase)))
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The schema of the first of `files`' footers, None without a file
    * or with an unreadable footer. */
  private def footerSchema(spark: SparkSession,
      files: Seq[FileStatus]): Option[StructType] =
    files.headOption.flatMap { f =>
      try GraftFooterSchema.read(spark, f)
      catch { case NonFatal(_) => None }
    }

  /** Parquet summary files: listed by Spark, never data files. */
  private def summary(st: FileStatus): Boolean =
    Set("_common_metadata", "_metadata")(st.getPath.getName)

  /** The leaf files of Spark's file index under `paths` by path
    * (hidden names skipped, parquet summary files kept). */
  private def leafFiles(spark: SparkSession,
      paths: Seq[String]): Seq[FileStatus] = {
    def leaves(fs: FileSystem, p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq
        .filterNot(st => GraftFooterSchema.hidden(st.getPath.getName))
        .flatMap(st => if (st.isDirectory) leaves(fs, st.getPath) else Seq(st))
    paths.flatMap { path =>
      val (fs, p) = graft.Scratch.fs(spark, path)
      try leaves(fs, p) catch { case _: java.io.FileNotFoundException => Nil }
    }.sortBy(_.getPath.toString)
  }

  /** The data files among `leaves`. The first is the file Spark's
    * parquet inference reads the schema of when no summary file
    * exists (its `ParquetUtils.splitFiles` choice). */
  private def dataFiles(leaves: Seq[FileStatus]): Seq[FileStatus] =
    leaves.filterNot(summary)

  // --- identity --------------------------------------------------------------

  /** (row count, xor of `xxhash64(key, content)`) of `rows` in one
    * scan: order-independent, overflow-free under ANSI and
    * incrementally maintainable (fp_new = fp_old ⊕ fp_batch). `key`
    * keys the store, so `rows` holding a key twice is refused loudly
    * with `refusal(extra rows)`: identical duplicates xor-cancel out of
    * the fingerprint, which alone cannot see them. */
  def keyedFingerprint(rows: DataFrame, key: String, content: String)(
      refusal: Long => String): (Long, Long) = {
    val r = rows.agg(count(lit(1)),
        expr(s"bit_xor(xxhash64($key, $content))"), countDistinct(col(key)))
      .head()
    require(r.getLong(2) == r.getLong(0), refusal(r.getLong(0) - r.getLong(2)))
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  // --- meta ------------------------------------------------------------------

  /** Does `dir` hold a store? Existence probe of its meta only
    * (driver-side, no Spark job — the streaming sinks ask once per
    * micro-batch): an UNREADABLE meta answers true here and then fails
    * the store's append loudly, which the sinks' rebuild-once fallback
    * converts into one ensure — the recovery a false here would have
    * triggered, without a per-batch parquet read on the healthy path. */
  def hasMeta(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = graft.Scratch.fs(spark, s"$dir/meta")
    fs.exists(p)
  }

  /** `<dir>/meta` as an `M` row, None when the store is absent (see
    * [[readPromotedMeta]]). Read on the driver, no Spark job: the
    * schema of the meta file's footer, its rows by Spark's own parquet
    * reader ([[GraftFooterSchema.rows]]), decoded by `M`'s encoder
    * resolved against that schema by name — the row
    * `readStore(..).as[M].head()` returns. No data file or no row is a
    * non-fatal read failure, as the Spark read's was. */
  def readMeta[M <: Product : TypeTag](spark: SparkSession, dir: String,
      tag: String): Option[M] =
    readPromotedMeta(spark, s"$dir/meta", tag) {
      val path = s"$dir/meta"
      val files = dataFiles(leafFiles(spark, Seq(path)))
      val schema = files.headOption.flatMap(GraftFooterSchema.read(spark, _))
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no parquet data file under $path"))
      val decode = ExpressionEncoder[M]()
        .resolveAndBind(DataTypeUtils.toAttributes(schema))
        .createDeserializer()
      GraftFooterSchema.rows(spark, files, schema)
        .nextOption().map(decode)
        .getOrElse(throw new NoSuchElementException(s"no row in $path"))
    }

  /** Read a tiny promoted-meta table with a BOUNDED retry over the
    * promote's two-rename window: a read landing between "live renamed
    * aside" and "shadow renamed in" sees a missing/partial dir for a
    * few ms — concluding "absent" there would trigger a FULL rebuild of
    * a healthy store. Genuine absence (no dir, no in-flight promote
    * debris) returns None on the first attempt. Only non-fatal read
    * errors count as "unreadable": an interrupt or a VM error
    * propagates, because None here means "rebuild the store". */
  private[graft] def readPromotedMeta[T](spark: SparkSession,
      metaPath: String, tag: String)(read: => T): Option[T] = {
    var left = 3
    while (true) {
      val (fs, p) = graft.Scratch.fs(spark, metaPath)
      val midPromote = fs.exists(new Path(metaPath + "__shadow")) ||
        fs.exists(new Path(metaPath + "__old"))
      if (!fs.exists(p)) {
        if (!midPromote || left == 0) return None
      } else {
        try return Some(read)
        catch { case NonFatal(e) =>
          if (left == 0) {
            System.err.println(s"[$tag] unreadable meta at $metaPath: " +
              s"${e.getMessage}; treating store as absent")
            return None
          }
        }
      }
      left -= 1
      Thread.sleep(100)
    }
    None
  }

  /** Shadow-write + promote of `<dir>/meta` (see [[ParquetSink.promote]]
    * for the first-write rename caveats). */
  def writeMeta[M <: Product : TypeTag](spark: SparkSession, dir: String,
      m: M): Unit = {
    val shadow = s"$dir/meta__shadow"
    spark.createDataset(Seq(m))(Encoders.product[M]).toDF()
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(shadow)
    val (fs, sp) = graft.Scratch.fs(spark, shadow)
    // fence at the COMMIT point: the shadow write above is invisible;
    // this promote is what makes the new meta the store's truth (a
    // no-op when this JVM holds no lease on `dir` — shadow-dir calls
    // during build, heal paths, specs)
    WriterLease.verify(spark, dir)
    ParquetSink.promote(fs, sp, new Path(s"$dir/meta"))
  }

  // --- validation token ------------------------------------------------------

  private val tokenName = "vtoken"

  /** Digest of the on-disk state a full validation vouched for: `s`'s
    * corpus table's and store dir's recursive file listings (path,
    * length, mtime — sorted, so iteration order is irrelevant) plus the
    * store's dial line. Any file created, removed, resized or
    * re-stamped under either root — a corpus append, an append sliver,
    * a compaction, a doctored meta — changes the digest, so a token
    * matching the CURRENT digest proves nothing observable moved since
    * the last full validation and the O(corpus) fingerprint scan +
    * integrity probe can be skipped. The window this cannot see — an
    * in-place rewrite that preserves every path, length AND mtime —
    * requires deliberately forged filesystem state, the same trust
    * class as editing `meta` itself; any ordinary writer (Spark, the
    * ingest sinks, a shell `cp`) lands new part-file names or new
    * mtimes. CAVEAT for stores with coarse mtime granularity (~1 s on
    * some object stores): a same-length in-place overwrite completed
    * within one mtime tick of the original write is indistinguishable
    * from "unchanged" for the BULK tables — for the `meta` table, the
    * semantic core (dials, counters, corpus fingerprint), the digest
    * additionally folds in the FULL FILE CONTENT (meta is one row,
    * ~1 KB — one driver-side read per ensure, still no Spark job), so a
    * same-length same-tick meta rewrite can never slip under the token.
    * If the remaining bulk-file trust class is too weak for a
    * deployment, disable the token (delete `vtoken`; every ensure then
    * re-validates in full) or front the store with one that reports
    * sub-second mtimes. Driver-side metadata listing only: no Spark
    * job, no data read beyond the ~1 KB meta files. */
  def digest(spark: SparkSession, s: Store[_ <: StoreMeta]): String = {
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(root: String, contentRoot: Option[String]): Unit = {
      val (fs, p) = graft.Scratch.fs(spark, root)
      if (!fs.exists(p)) { entries += s"ABSENT:$root"; return }
      val contentPrefix = contentRoot
        .map(cr => fs.makeQualified(new Path(cr)).toString + "/")
      // Generations.walkCurrentFiles (plain listStatus recursion), NOT
      // fs.listFiles: the located-status iterator resolves block
      // locations per file at ~7 ms each on LocalFileSystem — 0.55 s
      // for a 74-file index, when the whole point of the token path is
      // to be cheap. Generation-aware so that RETIRED generations (and
      // their TTL GC) are digest-invisible — the digest vouches for
      // current content, and a retention GC must never invalidate a
      // token over state no reader serves. (Absorbed-but-retained
      // delta files DO count until reaped — their reap forces one
      // conservative revalidation, same class as stranded __shadow
      // debris.) The token itself must not feed its own digest
      // (writing it would invalidate it); everything else under the
      // store dir — meta, tables, even stranded __old/__shadow debris —
      // counts, conservatively forcing a full validation when present.
      Generations.walkCurrentFiles(fs, p).foreach { s =>
        if (!s.getPath.getName.startsWith(tokenName)) {
          val line = s"${s.getPath}|${s.getLen}|${s.getModificationTime}"
          // the 64 KiB bound keeps a pathological foreign file under
          // meta/ from turning the cheap path into a bulk read; an
          // oversized file still digests by listing entry, and a meta
          // REPLACED by an oversized one changes length/name anyway
          val content =
            if (s.getLen <= 65536 &&
                contentPrefix.exists(s.getPath.toString.startsWith(_)))
              try {
                val h = java.security.MessageDigest.getInstance("SHA-256")
                h.update(graft.Scratch.readSmallFile(fs, s.getPath))
                "|" + h.digest().map("%02x".format(_)).mkString
              } catch { case NonFatal(e) =>
                // an unreadable meta file (swapped away mid-walk by a
                // concurrent compaction, foreign permissions) must act
                // like any other foreign state: a digest the token can
                // never match, forcing the conservative full
                // validation — never an ensure() that throws where the
                // listing-only digest would have fallen back
                s"|UNREADABLE:${e.getClass.getName}:${System.nanoTime()}"
              }
            else ""
          entries += line + content
        }
      }
    }
    walk(s.corpus, None)
    walk(s.dir, Some(s"${s.dir}/meta"))
    entries += s.dials
    val md = java.security.MessageDigest.getInstance("SHA-256")
    entries.sorted.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Token line = `digest | meta fields in declaration order | tombN |
    * tombXor`. The token carries the digest AND a copy of the meta row:
    * the digest covers the meta file's own listing entry, so the
    * embedded copy is exactly as fresh as the digest match itself — and
    * the zero-job fast path never launches the parquet read of `meta`
    * (a Spark job) just to re-check dials it already vouched for.
    * Doubles round-trip through `toString`/`toDouble` exactly. The
    * tombstone fold terms are those live at validation time: the
    * digest covers the sidecar files, so a matching digest vouches for
    * the stored (tombN, tombXor) without any Spark job — the fast path
    * stays zero-job under pending deletions. */
  private[graft] def tokenLine(digest: String, m: Product, tombN: Long,
      tombXor: Long): String =
    (digest +: m.productIterator.map(_.toString).toSeq :+ tombN :+ tombXor)
      .mkString("|")

  /** Stamp `s`'s token for the state a full validation (or a build,
    * which is one) just vouched for. */
  def stamp(spark: SparkSession, s: Store[_ <: StoreMeta], m: StoreMeta,
      tombN: Long, tombXor: Long): Unit =
    writeToken(spark, s, tokenLine(digest(spark, s), m, tombN, tombXor))

  /** Run `rewrite`, a content-preserving rewrite of `s` under its
    * writer lease (a compaction, which may also fold tombstones into
    * meta), and re-stamp the token after it only if the token vouched
    * for the state before it: a rewrite may extend a voucher, never
    * create one (an append stamps no token, and compacting unvalidated
    * appends must not skip their validation). Driver-side reads only. */
  def preserving[M <: StoreMeta : TypeTag, T](spark: SparkSession,
      s: Store[M])(rewrite: => T): T = {
    val vouched = readMeta[M](spark, s.dir, s.tag).exists { m =>
      val t = tombs(spark, s)
      readToken(spark, s).exists(k => k.digest == digest(spark, s) &&
        k.meta == m && k.tombN == t.validN && k.tombXor == t.xor)
    }
    val r = rewrite
    // re-read: the rewrite may have folded tombstones into meta, or
    // (a skipped fold) left them in place
    if (vouched) readMeta[M](spark, s.dir, s.tag).foreach { m =>
      val t = tombs(spark, s)
      stamp(spark, s, m, t.validN, t.xor)
    }
    r
  }

  /** Best-effort: a failed, torn or garbled token write degrades to a
    * full validation on the next ensure (digest or parse mismatch),
    * never to serving stale state — so unlike meta there is no
    * shadow/swap ceremony. */
  private def writeToken(spark: SparkSession, s: Store[_ <: StoreMeta],
      line: String): Unit =
    try {
      val (fs, p) = graft.Scratch.fs(spark, s"${s.dir}/$tokenName")
      val out = fs.create(p, true)
      try out.write(line.getBytes("UTF-8")) finally out.close()
    } catch { case NonFatal(e) =>
      System.err.println(s"[${s.tag}] token write failed at ${s.dir} " +
        s"(${e.getMessage}); next ensure will re-validate in full")
    }

  /** `s`'s token, None when absent or unparseable (a wrong field count
    * included — the meta copy's arity must match the line's). */
  def readToken[M <: StoreMeta](spark: SparkSession,
      s: Store[M]): Option[Token[M]] = {
    val (fs, p) = graft.Scratch.fs(spark, s"${s.dir}/$tokenName")
    if (!fs.exists(p)) return None
    val line =
      // shared EOF-draining read (graft.Scratch.readSmallFile): a
      // truncated one-read() line would fail the parse below and
      // silently disable the fast path
      try new String(graft.Scratch.readSmallFile(fs, p), "UTF-8").trim
      catch { case NonFatal(_) => "" }
    val parts = line.split('|')
    try {
      val m = s.parse(parts.slice(1, parts.length - 2).toIndexedSeq)
      if (m.productArity != parts.length - 3) None
      else Some(Token(parts(0), m, parts(parts.length - 2).toLong,
        parts.last.toLong))
    } catch { case NonFatal(_) => None }
  }

  // --- tombstone sidecar -----------------------------------------------------

  private[graft] def tombDirOf(dir: String): String = s"$dir/tombstones"

  /** Tombstone rows as a Spark frame, None when the sidecar is absent
    * or holds no data files (driver-side probe). The lifecycle itself
    * reads the sidecar with [[tombs]]. */
  def tombstoneFrame(spark: SparkSession, dir: String): Option[DataFrame] = {
    val root = tombDirOf(dir)
    val (fs, p) = graft.Scratch.fs(spark, root)
    if (!fs.exists(p)) return None
    val hasData = fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    if (!hasData) None else Some(readStore(spark, root))
  }

  /** A store's tombstone sidecar as read on the driver by [[tombs]]:
    * its rows, its valid rows and the xor of their non-null rowfps —
    * the fold terms of every tombstone-aware validation (the corpus
    * reads meta.n minus the valid rows and meta.fp xor their rowfps) —
    * and the distinct non-null tombstoned keys. The keys are held on
    * the driver and applied as a predicate on `key` ([[hit]], [[drop]],
    * [[pending]]): no consumer joins the sidecar or re-`distinct`s it
    * through a shuffle. The sidecar is bounded by the fold cadence, the
    * same memory bound the broadcast anti-join of the sidecar had (a
    * broadcast is collected on the driver too); the predicate travels
    * with each task of the plans that apply it. */
  final case class Tombs(rows: Long, validN: Long, xor: Long, key: String,
      ids: Seq[Any]) {
    def isEmpty: Boolean = rows == 0

    /** Is a row's `key` tombstoned? A null key is not — as in a join. */
    def hit: Column =
      if (ids.isEmpty) lit(false) else col(key).isin(ids: _*)

    /** `d` minus its tombstoned rows: `d` left-anti-joined on `key`. */
    def drop(d: DataFrame): DataFrame =
      if (ids.isEmpty) d else d.filter(col(key).isNull || !hit)

    /** `d`'s tombstoned rows: `d` left-semi-joined on `key`. */
    def pending(d: DataFrame): DataFrame = d.filter(hit)

    /** Refuse an append `batch` that re-adds a tombstoned key: the
      * deleted row's ghost store rows stay until a fold, so the re-add
      * would double-key it and [[drop]] would then hide BOTH copies.
      * `fold` says what makes a re-add legal. Driver-side on an empty
      * sidecar (the healthy path); one batch-sized probe otherwise. */
    def refuseReAdd(batch: DataFrame, dir: String, fold: String): Unit =
      if (!isEmpty && pending(batch.select(col(key))).limit(1).count() > 0)
        throw new TombstonedReAddException(
          s"batch re-adds tombstoned (deleted) $key(s) at $dir — " +
            s"re-adding a deleted id is legal only after $fold")
  }

  /** The sidecar under `dir` read on the driver, no Spark job: the
    * footer schema of its first data file ([[readStore]]'s), then the
    * `key`, `rowfp` and `valid` columns of every data file by Spark's
    * own parquet reader ([[GraftFooterSchema.rows]], one reader for all
    * files). `valid`: the boolean column selecting the tombstones of
    * rows the identity ever counted (the ANN store's: invalid-norm rows
    * were never fingerprinted); None counts every row. The aggregates
    * equal `count(1)`, `count(when(valid, 1))` and `bit_xor(when(valid,
    * rowfp))` over the sidecar. No sidecar or no data file: empty. */
  def tombs(spark: SparkSession, dir: String, key: String,
      valid: Option[String]): Tombs = {
    val files = dataFiles(leafFiles(spark, Seq(tombDirOf(dir))))
    val schema = files.headOption.flatMap(GraftFooterSchema.read(spark, _))
    val empty = Tombs(0L, 0L, 0L, key, Nil)
    schema.fold(empty) { sc =>
      val read = StructType((key +: "rowfp" +: valid.toSeq)
        .map(f => sc(f).copy(nullable = true)))
      val toKey = CatalystTypeConverters.createToScalaConverter(read(0).dataType)
      var rows, validN, xor = 0L
      val ids = scala.collection.mutable.LinkedHashSet.empty[Any]
      GraftFooterSchema.rows(spark, files, read).foreach { r =>
        rows += 1
        if (!r.isNullAt(0)) ids += toKey(r.get(0, read(0).dataType))
        if (valid.isEmpty || (!r.isNullAt(2) && r.getBoolean(2))) {
          validN += 1
          if (!r.isNullAt(1)) xor ^= r.getLong(1)
        }
      }
      Tombs(rows, validN, xor, key, ids.toSeq)
    }
  }

  /** `s`'s sidecar ([[tombs]] under its key and valid column). */
  def tombs(spark: SparkSession, s: Store[_ <: StoreMeta]): Tombs =
    tombs(spark, s.dir, s.key, s.valid)

  def clearTombstones(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = graft.Scratch.fs(spark, tombDirOf(dir))
    if (fs.exists(p)) fs.delete(p, true)
  }

  // --- corpus rewrite --------------------------------------------------------

  private def readCorpus(spark: SparkSession, table: String): DataFrame =
    readTable(spark, Generations.resolve(spark, table))

  /** Rewrite `table` to `drop(table)` — the table minus the rows a
    * delete removes — through a retained-generation commit:
    * crash-atomic (a crash leaves either the old or the new table
    * complete, never a half-rewrite). Refuses to EMPTY the table: a
    * zero-row parquet write emits no schema-bearing part files and
    * every later read of the corpus would throw — deleting an entire
    * corpus is "remove the table and its index", not a delete batch. */
  def rewriteTableMinus(spark: SparkSession, table: String,
      drop: DataFrame => DataFrame): Unit = {
    val survivors = drop(readCorpus(spark, table))
    require(!survivors.isEmpty,
      s"delete batch would remove EVERY row of $table — deleting a " +
        "whole corpus is table+index removal, not a delete batch")
    // retained-generation commit (VERDICT r16 #1): the previous table
    // copy stays byte-identical at its old paths until the TTL, so a
    // scan that planned its splits before this forget completes
    // correctly; new readers resolve to the survivors
    val shadow = Generations.shadowFor(spark, table)
    survivors.write.parquet(shadow)
    Generations.commit(spark, table, shadow)
  }

  /** Drop EVERY tombstoned id still in `s`'s corpus — a delete batch's
    * and any crashed predecessor's, `t` being the sidecar read after
    * the batch's tombstones landed — probing the `corpus` frame the
    * caller read. A delete gets the pending row count back;
    * [[ensure]]'s crashed-delete `heal` only probes for emptiness (1
    * when rows were pending, else 0). The rewrite holds the CORPUS-DIR
    * writer lease, which the streaming sinks hold around their corpus
    * appends, so the swap never discards a file an in-flight append
    * just landed (a delete holds index → corpus; the sinks never hold
    * both). A heal can wait out the bounded lease window and fail
    * LOUDLY to a reader — acceptable for a state only a crashed writer
    * leaves; the retry heals. Inside the lease the store lease is
    * RE-verified (a takeover makes this writer stale) and the pending
    * set RE-probed on a fresh read (a racing delete or replay may have
    * removed the ids — no O(corpus) no-op swap that churns every
    * token). */
  def dropTombstoned(spark: SparkSession, s: Store[_ <: StoreMeta],
      corpus: DataFrame, t: Tombs, heal: Boolean): Long =
    if (t.isEmpty) 0L
    else {
      val pendingN =
        if (!heal) t.pending(corpus).count()
        else if (t.pending(corpus).isEmpty) 0L
        else 1L
      if (pendingN > 0) {
        if (heal) System.err.println(s"[${s.tag}] completing a crashed " +
          s"delete's corpus rewrite at ${s.corpusDir}")
        WriterLease.withWrite(spark, s.corpusDir,
            if (heal) "delete-heal" else "corpus-rewrite") {
          WriterLease.verify(spark, s.dir)
          val still = t.pending(readCorpus(spark, s.corpus))
          if (if (heal) !still.isEmpty else still.limit(1).count() > 0)
            rewriteTableMinus(spark, s.corpus, t.drop)
        }
      }
      pendingN
    }

  /** Delete the rows `kills` names (a frame with `s.key`) from `s`'s
    * corpus and store, under [[mutate]] — replay-idempotent, and every
    * crash window converges (see the stores' deletion sections):
    *  1. the store must exist (`refusal` says what to run first);
    *  2. the distinct kill keys are semi-joined to the corpus, minus
    *     the keys already tombstoned: this batch's victims;
    *  3. `capture` of the victims is materialized once and counted;
    *  4. the fence, then the capture's `tombCols` are appended to the
    *     sidecar — the commit point: every serve excludes the keys
    *     from this instant;
    *  5. `hook` of the capture runs (the lexical negative partials);
    *  6. the corpus drops every tombstoned key on a fresh sidecar read
    *     ([[dropTombstoned]]) — this batch's and any crashed
    *     predecessor's, so the replay is the heal.
    * @return (tombstones written, corpus rows removed) */
  def delete[M <: StoreMeta : TypeTag](spark: SparkSession, s: Store[M],
      kills: DataFrame, refusal: String, tombCols: Seq[String])(
      capture: DataFrame => DataFrame, hook: DataFrame => Unit = _ => ())
      : (Long, Long) =
    mutate(spark, s.dir, "delete") {
      require(readMeta[M](spark, s.dir, s.tag).nonEmpty, s"$refusal " +
        "(deletion is index maintenance; an index-less corpus is a " +
        "plain filter)")
      val corpus = readCorpus(spark, s.corpus)
      val present = corpus.join(
        kills.select(col(s.key)).distinct().hint("broadcast"),
        Seq(s.key), "left_semi")
      val cap = graft.Materialize(capture(tombs(spark, s).drop(present)))
      val n = cap.count()
      WriterLease.verify(spark, s.dir)
      if (n > 0) {
        cap.select(tombCols.map(col): _*).repartition(1).write
          .mode(SaveMode.Append).parquet(tombDirOf(s.dir))
        hook(cap)
      }
      (n, dropTombstoned(spark, s, corpus, tombs(spark, s), heal = false))
    }

  // --- build promote ---------------------------------------------------------

  /** A per-attempt-unique shadow dir for a full build of `dir`: two
    * builders (different JVMs share no lock) must never interleave
    * their parquet output inside one shadow — each writes a complete
    * candidate, last promote wins. Crashed attempts strand their
    * shadow, so stale ones are swept first (quiesced-maintenance
    * contract: nothing else is mid-build; a swept CONCURRENT builder
    * fails loudly at write/promote, never corrupts the live store). */
  def buildShadow(spark: SparkSession, dir: String): String = {
    val (fs, _) = graft.Scratch.fs(spark, dir)
    val stale = fs.globStatus(new Path(s"${dir}__shadow_*"))
    if (stale != null) stale.foreach(st => fs.delete(st.getPath, true))
    s"${dir}__shadow_${java.util.UUID.randomUUID().toString.take(8)}"
  }

  /** Make a build's `shadow` (tables written) the live store `s`: meta
    * `m` into the shadow, the commit-point fence, the two-rename
    * promote, then clear the tombstones — the build derived from the
    * already-rewritten corpus, so every one is moot, and a survivor
    * would fold a stale xor into the new meta's expectation, wedging
    * ensure into a rebuild loop (the promote swapped the old sidecar
    * away; this clears a racing stamp). The build IS a full
    * validation, so the token is stamped and the fast path starts
    * warm. */
  def promoteBuild[M <: StoreMeta : TypeTag](spark: SparkSession,
      s: Store[M], shadow: String, m: M): Unit = {
    writeMeta(spark, shadow, m)
    val (fs, sp) = graft.Scratch.fs(spark, shadow)
    WriterLease.verify(spark, s.dir)
    ParquetSink.promote(fs, sp, new Path(s.dir))
    clearTombstones(spark, s.dir)
    stamp(spark, s, m, 0L, 0L)
  }

  // --- validate-or-build -----------------------------------------------------

  /** Serve-ready store, serialized on the store's monitor:
    *  1. a token whose digest matches the CURRENT listings serves with
    *     zero Spark jobs after `fastOk` (the in-memory checks — dials,
    *     geometry, policy — on the token's meta and fold terms);
    *  2. else read meta (absent → build) and heal FIRST: finish a
    *     crashed delete's corpus rewrite ([[dropTombstoned]]) before
    *     any validation or rebuild reads the corpus — the only
    *     direction that can never resurrect deleted rows. The heal
    *     probes the same corpus frame the fingerprint scans; the
    *     corpus is read again only when the heal found rows to drop
    *     (then it, or a racing delete, rewrote the corpus);
    *  3. `identity` scans the corpus for (n, fp): current when `fastOk`
    *     holds, the corpus reads meta MINUS the valid tombstones and
    *     `intact` (the store's probe of what the fingerprint cannot
    *     see — it reads store tables only, and runs beside the heal and
    *     the scan when `fastOk` holds) passes → re-stamp and serve; else
    *     build with the scanned identity. `serve` gets the meta and the
    *     pending tombN. */
  def ensure[M <: StoreMeta : TypeTag, I](spark: SparkSession,
      s: Store[M])(fastOk: (M, Long) => Boolean,
      identity: DataFrame => (Long, Long), intact: (M, Long) => Boolean,
      serve: (M, Long) => I, build: Option[(Long, Long)] => I): I =
    monitorFor(s.dir).synchronized {
      val d = digest(spark, s)
      readToken(spark, s) match {
        case Some(t) if t.digest == d && fastOk(t.meta, t.tombN) =>
          serve(t.meta, t.tombN)
        case _ =>
          readMeta[M](spark, s.dir, s.tag) match {
            case None => build(None)
            case Some(m) =>
              // the sidecar read on the driver, once: its fold terms and
              // the keys the heal probes
              val t = tombs(spark, s)
              val tombN = t.validN
              def healAndScan(): (Long, Long) = {
                val corpus = readCorpus(spark, s.corpus)
                val healed = dropTombstoned(spark, s, corpus, t, heal = true) > 0
                identity(if (healed) readCorpus(spark, s.corpus) else corpus)
              }
              // `intact` reads only store tables, which neither the heal
              // (a corpus rewrite) nor the scan touches: it runs beside
              // them on a second driver thread, and only when the
              // in-memory checks pass (otherwise the store rebuilds
              // whatever it says)
              val ok = fastOk(m, tombN)
              val intactT =
                if (ok) Some(Similarity.overlapped(intact(m, tombN)))
                else None
              val (n, fp) =
                intactT.fold(healAndScan())(_.guarded(healAndScan()))
              val isIntact = intactT.exists(_())
              if (ok && m.n - tombN == n && (m.fp ^ t.xor) == fp &&
                  isIntact) {
                // validation scans only READ — but the heal above may
                // have rewritten the corpus, so re-digest when
                // tombstones are present (rare path; the digest is
                // driver-side listing work)
                writeToken(spark, s, tokenLine(
                  if (t.isEmpty) d else digest(spark, s), m, tombN, t.xor))
                serve(m, tombN)
              } else build(Some((n, fp)))
          }
      }
    }
}
