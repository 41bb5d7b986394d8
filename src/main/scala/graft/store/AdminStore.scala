package graft.store

import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
import java.time.Instant
import java.util.UUID

import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetInputFormat, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}

/** Flat admin-table rows (DTO layer). Mirrors admin_orm.py:34-93: five
  * relational tables — batches, jobs, job_test_results, batch_log, job_log —
  * with FK columns instead of nesting; nesting is reconstructed with joins
  * when a BatchStatus is materialized (the reference does the same through
  * ORM relationships, admin_orm.py:105-129). */
final case class BatchRow(
    id: String, name: String, execution_millis: Option[Long],
    execution_error_occurred: Option[Boolean],
    execution_error_message: Option[String],
    running: Boolean, ts: Instant)

final case class JobRow(
    id: String, batch_id: String, job_name: String,
    execution_millis: Option[Long], execution_error_occurred: Option[Boolean],
    execution_error_message: Option[String], running: Boolean,
    skipped: Boolean, skipped_reason: Option[String], ts: Instant)

final case class JobTestRow(
    id: String, job_id: String, test_name: String, test_passed: Boolean,
    test_failure_message: Option[String], ts: Instant)

final case class LogRow(
    id: String, parent_id: String, log_level: String, message: String,
    ts: Instant)

/** Admin bookkeeping store over parquet tables under `root`, run on the
  * driver — where the reference runs its admin SQL (SQLAlchemy sessions on
  * the orchestrating process). Admin rows are driver bookkeeping, so no
  * read or write here launches a Spark job in the steady state.
  *
  * Reads: each instance keeps every table's rows in memory together with
  * a stamp of the table directory — the sorted (file name, length, mtime)
  * of its visible files. Every read takes one `listStatus` under the
  * root's ioLock; when the listing differs from the stamp the rows are
  * reloaded with one parquet read. That single check covers every way a
  * table changes under an instance: another in-JVM instance or a later
  * writer process, a crash restore (see `restoreIfCrashed`), a hand-over
  * after `forceUnlock`, a generation written by another program. Mid-batch
  * re-reads therefore observe every prior write — the read-after-write
  * discipline the reference gets from its RDBMS (batch_runner.py:338-340).
  * The repository queries of [[AdminStoreApi]] run over these rows as
  * plain Scala; `batches`/`jobs`/... expose them as local Datasets.
  *
  * Writes: a write encodes its rows into one parquet file in memory,
  * through Spark's own `ParquetWriteSupport`, configured once per table by
  * `ParquetFileFormat.prepareWrite` (the schema, encodings, codec and
  * footer a DataFrame write would produce; no `_SUCCESS` marker). The
  * bytes land under a hidden `_tmp.` name and are renamed to `part-…`:
  * on a local root through `java.nio` (one write and an atomic move, so
  * no Hadoop local `create`, which forks a `chmod` per file and per
  * `.crc` sidecar), on any other filesystem through `fs.create` and
  * `fs.rename`. New local files carry no `.crc` sidecar; their parquet
  * page CRCs take its place, because the store's reads verify them
  * (older files keep their `.crc`, which Hadoop still checks). Parquet
  * has no MERGE, so upsert and retention filter the in-memory rows and
  * rewrite the table through `swapWrite` (temp dir, old generation set
  * aside, rename). An append that would leave more than `MaxFiles`
  * visible files rewrites the table as one file the same way, so a
  * table's file count stays bounded. After its own write the instance
  * records the new stamp and rows itself, so it never reads back what it
  * just wrote. Rows are passed once through the encoder's serializer and
  * deserializer before they are kept, so memory holds exactly what a disk
  * read returns (an Instant truncated to micros).
  *
  * Scale note: admin tables grow with runs × jobs, not with data volume —
  * the rewrite-based upsert is O(table) on the driver, and the table is
  * tiny relative to the data plane. Log appends are buffered per job/batch
  * (Loggers.scala), never row-at-a-time files.
  *
  * Writer safety: the reference delegates concurrent-writer correctness to
  * its RDBMS (SERIALIZABLE sessions, tests/conftest.py:75) while
  * run_batches_in_parallel spreads batches over OS processes
  * (batch_runner.py:36-46). A directory store has no transaction manager,
  * so the contract here is SINGLE WRITER PROCESS, enforced: the first
  * mutation creates `root/_LOCK` (create-if-absent) holding this process's
  * token + acquisition timestamp, then READS THE FILE BACK and proceeds only
  * if its own token is what the lock actually holds — bare create-if-absent
  * is atomic on HDFS but check-then-create on LocalFileSystem and object
  * stores, so the read-back is what arbitrates a create/create race there
  * (it narrows the window to the verify instant; on HDFS the create alone is
  * decisive). A store whose root is held by a DIFFERENT process fails fast
  * — with the holder's age in the message, so the operator can tell a
  * crashed holder from a live one — instead of interleaving swapWrite
  * renames. All in-process instances share the token (and the per-root
  * ioLock below), so in-JVM parallel batches stay fully supported.
  * `close()` releases the file; after a writer crash the stale lock is
  * reclaimed explicitly via `AdminStore.forceUnlock` (the operator step a
  * lost RDBMS session never needs — the documented cost of a file-based
  * store). A read-only process can transiently acquire the lock when a read
  * triggers crash-restore (see `restoreIfCrashed`), but releases it as soon
  * as the restore completes.
  */
final class AdminStore(val spark: SparkSession, val root: String)
    extends AdminStoreApi {
  import spark.implicits._

  protected def sync[T](f: => T): T = ioLock.synchronized(f)

  /** Canonical identity of the admin root, so two stores built from
    * different spellings of one directory share the same locks. */
  private val rootKey = {
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  /** All store I/O and every instance's in-memory tables serialize on this
    * driver-side lock: a reader racing a swapWrite could observe a
    * half-renamed table, and a table's rows and stamp must change together.
    * Shared JVM-wide per root
    * so every in-process instance over one directory serializes on the same
    * monitor. Admin I/O is tiny and infrequent, so the lock costs nothing;
    * batch parallelism (BatchRunner.runInParallel) is about the data-plane
    * stages, which don't touch this lock. */
  private val ioLock = AdminStore.ioLockFor(rootKey)

  private def lockPath = new Path(s"$root/_LOCK")

  /** Acquire the cross-process writer lock for this root (idempotent per
    * JVM). Create-if-absent of the `_LOCK` file followed by a read-back
    * verification (see the class doc: the read-back, not the create, is
    * what arbitrates races on filesystems where create-if-absent is
    * check-then-create). A hold by another process is a fail-fast error,
    * not a wait — admin writes are driver bookkeeping, and a second writer
    * process is a deployment mistake. */
  private def ensureWriterLock(): Unit = {
    if (AdminStore.heldRoots.contains(rootKey)) return
    var attempt = 0
    while (!AdminStore.heldRoots.contains(rootKey)) {
      attempt += 1
      val payload = AdminStore.lockPayload()
      try {
        val out = fs.create(lockPath, false)
        try {
          out.write(payload.getBytes("UTF-8"))
          out.close()
        } catch {
          case e: java.io.IOException =>
            // Our own write/close failed after the create succeeded. Clean
            // up the partial lock so it doesn't demand forceUnlock later —
            // but ONLY if the file provably holds our (possibly truncated)
            // payload: under the LocalFS create race another process may
            // have won and written a valid lock we must not delete. An
            // unreadable file stays put (can't prove ownership).
            try out.close() catch { case _: java.io.IOException => () }
            // non-empty prefix only: an EMPTY read-back could be another
            // process's just-created, not-yet-written lock (the LocalFS
            // race) — deleting it would orphan that process's verified
            // hold. An empty file of our own is left for forceUnlock;
            // losing that corner beats deleting a live writer's lock.
            if (AdminStore.readRaw(fs, lockPath)
                .exists(r => r.nonEmpty && payload.startsWith(r)))
              fs.delete(lockPath, false)
            throw e
        }
      } catch {
        // Held (or lost a create race): fall through and read the holder.
        // Anything else — permission, disk, connectivity — propagates.
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
        case _: java.nio.file.FileAlreadyExistsException        => ()
      }
      // Verify-after-create: trust only what the lock file actually holds.
      // ONE existence snapshot for the None branches: probing twice could
      // see the lock vanish between the two guards and fall through to the
      // terminal "kept vanishing" error on the very first attempt.
      val holderRead = AdminStore.readLock(fs, lockPath)
      val lockPresent = holderRead.isEmpty && fs.exists(lockPath)
      holderRead match {
        case Some(holder) if holder.token == AdminStore.processToken =>
          AdminStore.heldRoots.add(rootKey)
        case Some(holder) =>
          throw new IllegalStateException(
            s"admin root '$root' is locked by another writer process " +
              s"(_LOCK holder ${holder.describe(Instant.now())}). The admin " +
              s"store is single-writer per process; close the other store, " +
              s"or if that process crashed, reclaim with " +
              s"AdminStore.forceUnlock.")
        case None if !lockPresent && attempt < 3 =>
          // the lock vanished between create and read-back (a concurrent
          // close()/forceUnlock released it): acquire again
          ()
        case None if lockPresent =>
          // present but unreadable: an IO problem, not a foreign hold —
          // don't claim "locked by another process" and don't delete what
          // we can't prove we own
          throw new IllegalStateException(
            s"cannot confirm _LOCK ownership for admin root '$root': the " +
              s"lock file cannot be read back. Resolve the I/O issue (or " +
              s"remove a corrupt lock with AdminStore.forceUnlock).")
        case None =>
          // vanished on every attempt: rapid acquire/release churn by
          // other processes, not an IO fault and not a file to forceUnlock
          throw new IllegalStateException(
            s"could not acquire _LOCK for admin root '$root': the lock " +
              s"file kept vanishing between create and read-back — another " +
              s"process is rapidly acquiring and releasing this root.")
      }
    }
  }

  /** Release this process's writer lock on the root (no-op if not held).
    * Later writes from still-live instances simply re-acquire. Deletes the
    * file only if it provably still holds THIS process's token — if an
    * operator ran forceUnlock and another writer acquired in between, a
    * blind delete would destroy the new writer's live lock and silently
    * re-open the two-writer window (the same provable-ownership discipline
    * as the ensureWriterLock partial-write cleanup). */
  private def releaseWriterLock(): Unit =
    if (AdminStore.heldRoots.remove(rootKey) &&
        AdminStore.readLock(fs, lockPath)
          .exists(_.token == AdminStore.processToken))
      fs.delete(lockPath, false)

  def close(): Unit = ioLock.synchronized { releaseWriterLock() }

  private def path(table: String) = s"$root/$table"

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Crash recovery: a crash between swapWrite's two renames leaves the
    * live dir missing and the `.old` backup present — restore the backup
    * (every read and write lists the table first, and a missing dir sends
    * it here) so no generation is ever lost. A `.old` found NEXT TO a live
    * dir is the superseded generation (crash after the new table moved in)
    * and is cleaned up by the next swapWrite instead. Returns whether a
    * backup was restored. */
  private def restoreIfCrashed(table: String): Boolean = ioLock.synchronized {
    val dst = new Path(path(table))
    val old = new Path(s"${path(table)}.old")
    !fs.exists(dst) && fs.exists(old) && {
      // the restore is a mutation: never interleave it with a live
      // writer process's own swap. A READ-ONLY process that merely
      // triggered crash recovery must not keep the writer lock it
      // acquired for the restore — release it right after, or it would
      // lock out the legitimate writer until this process exits.
      val wasWriter = AdminStore.heldRoots.contains(rootKey)
      ensureWriterLock()
      try {
        if (!fs.rename(old, dst))
          throw new IllegalStateException(s"failed to restore $old -> $dst")
      } finally if (!wasWriter) releaseWriterLock()
      true
    }
  }

  /** One admin table held on the driver: its rows plus the stamp of the
    * directory listing they were read from (or written as). Every access
    * runs under the root's ioLock. */
  private final class Table[T <: Product: TypeTag](name: String,
      ts: T => Instant) {
    private val encoder: ExpressionEncoder[T] = ExpressionEncoder[T]().resolveAndBind()
    private val toRow = encoder.createSerializer()
    private val fromRow = encoder.createDeserializer()
    private val dir = new Path(path(name))
    private var stamp: Option[AdminStore.Stamp] = None
    private var cached: Vector[T] = Vector.empty
    private var debris: Seq[Path] = Nil

    /** The rows a parquet read would return: the same values truncated the
      * same way (an Instant to micros), so memory never disagrees with a
      * fresh store's disk read. */
    private def asStored(rows: Seq[T]): Vector[T] =
      rows.iterator.map(r => fromRow(toRow(r))).toVector

    /** One listStatus of the table directory: its visible data files, as a
      * stamp. Hidden `_tmp.` files are remembered as debris of a crashed
      * append for the next append to remove. */
    private def listing(): AdminStore.Stamp = {
      val all =
        try fs.listStatus(dir).toSeq
        catch {
          case _: java.io.FileNotFoundException =>
            if (restoreIfCrashed(name)) return listing() else Nil
        }
      debris = all.map(_.getPath).filter(_.getName.startsWith(AdminStore.TmpPrefix))
      AdminStore.stampOf(all)
    }

    /** Current rows: from memory when the listing still matches the
      * stamp, else reloaded with one parquet read (a write by another
      * instance or process, a restore, a generation written out of band). */
    def rows: Vector[T] = {
      val now = listing()
      if (!stamp.contains(now)) {
        cached =
          if (now.isEmpty) Vector.empty
          else spark.read.option(ParquetInputFormat.PAGE_VERIFY_CHECKSUM_ENABLED, "true")
            .schema(encoder.schema).parquet(dir.toString)
            .as[T](encoder).collect().toVector
        stamp = Some(now)
      }
      cached
    }

    /** Add `rows` as one new file, or rewrite the table as one file when
      * another would take it past `MaxFiles`. */
    def append(rows: Seq[T]): Unit = {
      ensureWriterLock()
      val current = this.rows
      if (stamp.exists(_.size >= AdminStore.MaxFiles)) swapWrite(current ++ rows)
      else {
        debris.foreach(fs.delete(_, false))
        val file = writeFile(dir, rows)
        stamp = stamp.map(s => (s :+ AdminStore.entry(file)).sortBy(_._1))
        cached = current ++ asStored(rows)
      }
    }

    /** Rewrite the table as exactly `rows`: write to a temp dir, then swap
      * directories. Durability: the old generation is renamed ASIDE (not
      * deleted) before the new one moves in, so a crash at any point leaves
      * either the old or the new table on disk — the closest a directory
      * store gets to the reference's transactional RDBMS upsert. The
      * `.old` copy is removed only after the swap succeeds; a stale one
      * from a prior crash is cleaned up on the next write. */
    def swapWrite(rows: Seq[T]): Unit = {
      ensureWriterLock()
      // GC tmp dirs orphaned by a previous crash (between write and rename)
      // or a failed swap (tmp is intentionally kept then). They are uniquely
      // named, so without this sweep crash loops would accumulate dead data
      // forever — same discipline as the stale .old delete below.
      Option(fs.globStatus(new Path(s"$dir.tmp*")))
        .getOrElse(Array.empty).foreach(st => fs.delete(st.getPath, true))
      val tmp = new Path(s"$dir.tmp${System.nanoTime()}")
      writeFile(tmp, rows) // creates tmp: through java.nio on a local root
      val old = new Path(s"$dir.old")
      fs.delete(old, true) // stale backup from a previous crash, if any
      val hadOld = fs.exists(dir) && {
        if (!fs.rename(dir, old))
          throw new IllegalStateException(s"failed to set aside $dir -> $old")
        true
      }
      if (!fs.rename(tmp, dir)) {
        if (hadOld) fs.rename(old, dir) // restore; leaves tmp for inspection
        throw new IllegalStateException(s"failed to swap $tmp -> $dir")
      }
      fs.delete(old, true)
      stamp = Some(AdminStore.stampOf(fs.listStatus(dir).toSeq))
      cached = asStored(rows)
    }

    /** Drop the rows `drop` selects; returns how many. Rewrites the table
      * only when something goes. */
    def deleteWhere(drop: T => Boolean): Long = {
      val (gone, kept) = rows.partition(drop)
      if (gone.nonEmpty) swapWrite(kept)
      gone.size.toLong
    }

    def deleteBefore(cutoff: Instant): Long = deleteWhere(r => ts(r).isBefore(cutoff))

    /** Spark's parquet write configuration for this table, prepared once:
      * the session's SQL confs over the Hadoop conf, then what
      * `ParquetFileFormat.prepareWrite` sets for a DataFrame write. */
    private lazy val writeConf: Configuration = {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      spark.conf.getAll.foreach { case (k, v) => if (v != null) conf.set(k, v) }
      val job = Job.getInstance(conf)
      new ParquetFileFormat().prepareWrite(spark, job, Map.empty, encoder.schema)
      job.getConfiguration
    }
    private lazy val codec = ParquetOutputFormat.getCompression(writeConf)

    /** `rows` as the bytes of one parquet file, written as a Spark task
      * writes one from the same conf (`ParquetOutputFormat` settings). */
    private def encode(rows: Seq[T]): java.io.ByteArrayOutputStream = {
      val conf = writeConf
      val file = new AdminStore.BytesFile
      val out = new AdminStore.RowWriter(file).withConf(conf)
        .withCompressionCodec(codec)
        .withRowGroupSize(ParquetOutputFormat.getLongBlockSize(conf))
        .withPageSize(ParquetOutputFormat.getPageSize(conf))
        .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(conf))
        .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(conf))
        .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf))
        .withPageWriteChecksumEnabled(ParquetOutputFormat.getPageWriteChecksumEnabled(conf))
        .withStatisticsEnabled(ParquetOutputFormat.getStatisticsEnabled(conf))
        .withValidation(ParquetOutputFormat.getValidation(conf))
        .build()
      try rows.foreach(r => out.write(toRow(r))) finally out.close()
      file.bytes
    }

    /** Write `rows` as one parquet file in `into` (created if missing):
      * encoded in memory, written under a hidden name, renamed into view.
      * A `_tmp.` file a failure leaves behind is debris the next append
      * removes (a `swapWrite` temp dir is swept whole). */
    private def writeFile(into: Path, rows: Seq[T]): FileStatus = {
      val bytes = encode(rows)
      val file = s"part-00000-${UUID.randomUUID()}-c000${codec.getExtension}.parquet"
      val (tmp, dst) = (new Path(into, AdminStore.TmpPrefix + file), new Path(into, file))
      fs match {
        case local: LocalFileSystem =>
          val (t, d) = (local.pathToFile(tmp).toPath, local.pathToFile(dst).toPath)
          Files.createDirectories(t.getParent)
          val out = Files.newOutputStream(t, StandardOpenOption.CREATE_NEW)
          try bytes.writeTo(out) finally out.close()
          Files.move(t, d, StandardCopyOption.ATOMIC_MOVE)
        case other =>
          val out = other.create(tmp, false)
          try bytes.writeTo(out) finally out.close()
          if (!other.rename(tmp, dst))
            throw new IllegalStateException(s"failed to rename $tmp -> $dst")
      }
      fs.getFileStatus(dst)
    }
  }

  private val batchTable = new Table[BatchRow](BATCHES, _.ts)
  private val jobTable = new Table[JobRow](JOBS, _.ts)
  private val testTable = new Table[JobTestRow](JOB_TEST_RESULTS, _.ts)
  private val batchLogTable = new Table[LogRow](BATCH_LOG, _.ts)
  private val jobLogTable = new Table[LogRow](JOB_LOG, _.ts)

  private def table(name: String): Table[_ <: Product] = name match {
    case BATCHES          => batchTable
    case JOBS             => jobTable
    case JOB_TEST_RESULTS => testTable
    case BATCH_LOG        => batchLogTable
    case JOB_LOG          => jobLogTable
    case other => throw new IllegalArgumentException(s"no admin table '$other'")
  }

  override def batchRows: Seq[BatchRow] = sync(batchTable.rows)
  override def jobRows: Seq[JobRow] = sync(jobTable.rows)
  override def testRows: Seq[JobTestRow] = sync(testTable.rows)
  override def batchLogRows: Seq[LogRow] = sync(batchLogTable.rows)
  override def jobLogRows: Seq[LogRow] = sync(jobLogTable.rows)

  def batches: Dataset[BatchRow] = spark.createDataset(batchRows)
  def jobs: Dataset[JobRow] = spark.createDataset(jobRows)
  def jobTestResults: Dataset[JobTestRow] = spark.createDataset(testRows)
  def batchLog: Dataset[LogRow] = spark.createDataset(batchLogRows)
  def jobLog: Dataset[LogRow] = spark.createDataset(jobLogRows)

  def appendBatches(rows: Seq[BatchRow]): Unit = sync(batchTable.append(rows))
  def appendJobs(rows: Seq[JobRow]): Unit = sync(jobTable.append(rows))
  def appendJobTests(rows: Seq[JobTestRow]): Unit = sync(testTable.append(rows))
  def appendBatchLog(rows: Seq[LogRow]): Unit = sync(batchLogTable.append(rows))
  def appendJobLog(rows: Seq[LogRow]): Unit = sync(jobLogTable.append(rows))

  def upsertBatches(rows: Seq[BatchRow]): Unit = upsert(batchTable, rows)(_.id)
  def upsertJobs(rows: Seq[JobRow]): Unit = upsert(jobTable, rows)(_.id)

  /** Merge by id over the in-memory rows: an empty table takes a plain
    * append, anything else is rewritten with the replaced rows dropped. */
  private def upsert[T <: Product](t: Table[T], fresh: Seq[T])(id: T => String): Unit =
    sync {
      val current = t.rows
      if (current.isEmpty) t.append(fresh)
      else {
        val ids = fresh.map(id).toSet
        t.swapWrite(current.filterNot(r => ids(id(r))) ++ fresh)
      }
    }

  /** Retention rewrite: keep rows with ts >= cutoff. */
  def deleteOlderThan(table: String, cutoff: Instant): Long =
    sync(this.table(table).deleteBefore(cutoff))

  def deleteBatchesOlderThan(cutoff: Instant): Long = sync {
    val oldIds = batchTable.rows.filter(_.ts.isBefore(cutoff)).map(_.id).toSet
    if (oldIds.nonEmpty) {
      val oldJobIds = jobTable.rows.filter(j => oldIds(j.batch_id)).map(_.id).toSet
      testTable.deleteWhere(r => oldJobIds(r.job_id))
      jobTable.deleteWhere(j => oldIds(j.batch_id))
      batchTable.deleteWhere(b => oldIds(b.id))
    }
    oldIds.size.toLong
  }

  // Read queries (latestBatch/previousBatch/hydrate/lastSuccessfulTs/
  // latestTestResults/earliestBatchLogTs/batchDelta/slowJobs) are inherited
  // from AdminStoreApi — shared with the JDBC backend, and run here over
  // the in-memory rows above.
}

object AdminStore {
  /** A table directory's visible files as (name, length, mtime), by name. */
  private type Stamp = Vector[(String, Long, Long)]

  /** Name prefix of a file still being written; hidden from every reader. */
  private val TmpPrefix = "_tmp."

  /** The most visible files an append leaves in a table; the append that
    * would add one more rewrites the table as a single file instead. */
  private[store] val MaxFiles = 64

  /** A parquet `OutputFile` that is a byte buffer. */
  private final class BytesFile extends OutputFile {
    val bytes = new java.io.ByteArrayOutputStream(8192)
    def create(blockSizeHint: Long): PositionOutputStream = new PositionOutputStream {
      def getPos: Long = bytes.size.toLong
      def write(b: Int): Unit = bytes.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = bytes.write(b, off, len)
    }
    def createOrOverwrite(blockSizeHint: Long): PositionOutputStream = create(blockSizeHint)
    def supportsBlockSize: Boolean = false
    def defaultBlockSize: Long = 0L
  }

  /** A parquet writer of Spark rows through Spark's own `ParquetWriteSupport`. */
  private final class RowWriter(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriter](file) {
    protected def self(): RowWriter = this
    protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  private def entry(st: FileStatus): (String, Long, Long) =
    (st.getPath.getName, st.getLen, st.getModificationTime)

  /** The files a parquet read of the directory would see: hidden names
    * (`_`/`.` prefixes, as Spark's file index skips them) left out. */
  private def stampOf(listing: Seq[FileStatus]): Stamp =
    listing.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(entry).sortBy(_._1).toVector

  /** Writer identity of this JVM: every in-process store shares it, so the
    * `_LOCK` file excludes other PROCESSES only (in-process writers already
    * serialize on the per-root ioLock). */
  private val processToken: String = java.util.UUID.randomUUID().toString

  /** Parsed `_LOCK` contents: line 1 = holder token, line 2 = acquisition
    * instant (ISO-8601), line 3 = pid@host. Lines 2-3 are diagnostics for
    * the operator deciding whether a holder crashed; only the token
    * arbitrates. Older single-line lock files parse as token-only. */
  final case class LockInfo(token: String, acquiredAt: Option[Instant],
      process: Option[String]) {
    def describe(now: Instant): String = {
      val age = acquiredAt.map { ts =>
        s", acquired $ts (${java.time.Duration.between(ts, now).toSeconds}s ago)"
      }.getOrElse(", acquisition time unknown")
      s"$token${process.map(p => s" [$p]").getOrElse("")}$age"
    }
  }

  private def lockPayload(): String = {
    val proc = java.lang.ProcessHandle.current().pid().toString + "@" +
      java.net.InetAddress.getLocalHost.getHostName
    s"$processToken\n${Instant.now()}\n$proc"
  }

  private def readRaw(fs: FileSystem, lockPath: Path): Option[String] =
    try {
      val in = fs.open(lockPath)
      Some(try new String(in.readAllBytes(), "UTF-8") finally in.close())
    } catch { case _: java.io.IOException => None }

  private def readLock(fs: FileSystem, lockPath: Path): Option[LockInfo] =
    readRaw(fs, lockPath).map { raw =>
      val lines = raw.split("\n", -1)
      LockInfo(
        lines.headOption.getOrElse(""),
        lines.lift(1).flatMap(s => scala.util.Try(Instant.parse(s)).toOption),
        lines.lift(2).filter(_.nonEmpty))
    }

  /** The current `_LOCK` holder of `root`, if any — the operator-facing
    * probe for deciding whether a hold is stale before `forceUnlock`. */
  def lockHolder(spark: SparkSession, root: String): Option[LockInfo] = {
    val p = new Path(s"$root/_LOCK")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) readLock(fs, p) else None
  }

  private val ioLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def ioLockFor(rootKey: String): Object =
    ioLocks.computeIfAbsent(rootKey, _ => new Object)

  /** Roots whose `_LOCK` this process currently holds. */
  private val heldRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Reclaim a root after a writer crash left its `_LOCK` behind. Explicit
    * and unconditional by design — the operator asserts the old writer is
    * dead, exactly like clearing a stale RDBMS advisory lock. */
  def forceUnlock(spark: SparkSession, root: String): Unit = {
    val p = new Path(s"$root/_LOCK")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, false)
    heldRoots.remove(
      fs.makeQualified(new Path(root)).toString)
  }
}
