package graft.store

import java.io.File
import java.nio.file.Files
import java.time.Instant
import java.time.temporal.ChronoUnit

import scala.jdk.CollectionConverters._

import graft.TestSpark
import graft.model._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.{PageType, Util}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Parquet-directory backend: the shared AdminStoreContract plus the
  * durability mechanics only this backend has — swap-rename crash
  * recovery and the cross-process writer lock (an RDBMS backend gets
  * both from its database). */
class AdminStoreSpec extends AdminStoreContract {
  protected def newStore() =
    new AdminStore(TestSpark.spark, TestSpark.tmpDir("admin"))
  private def newParquetStore(): AdminStore =
    new AdminStore(TestSpark.spark, TestSpark.tmpDir("admin"))

  /** The parquet footer of the one data file in `dir`. */
  private def parquetFooter(dir: String): ParquetMetadata = {
    val file = new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val in = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file.getPath),
      TestSpark.spark.sparkContext.hadoopConfiguration))
    try in.getFooter finally in.close()
  }

  test("swapWrite survives a stale .old backup from a simulated crash") {
    val st = newParquetStore()
    st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z"))))
    // simulate a crash that left the set-aside copy behind
    val stale = new java.io.File(s"${st.root}/batches.old/junk")
    stale.getParentFile.mkdirs()
    java.nio.file.Files.writeString(stale.toPath, "leftover")
    // the next rewrite must clean it up and swap normally
    st.upsertBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:05:00Z"))))
    assert(!stale.getParentFile.exists(), "stale .old dir must be removed")
    assert(st.batches.count() == 1)
    assert(st.latestBatch("nightly").get.executionMillis.contains(5L))
  }

  test("swapWrite garbage-collects orphaned .tmp dirs from prior crashes") {
    val st = newParquetStore()
    st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z"))))
    // simulate crash debris: uniquely-named tmp dirs a failed/interrupted
    // swap left behind (these are never reused, so only a sweep removes them)
    val root = new java.io.File(st.root)
    val junk1 = new java.io.File(root, "batches.tmp111/part-junk")
    val junk2 = new java.io.File(root, "batches.tmp222/part-junk")
    Seq(junk1, junk2).foreach { f =>
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, "dead")
    }
    st.upsertBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:05:00Z"))))
    val leftover = root.listFiles().map(_.getName).filter(_.startsWith("batches.tmp"))
    assert(leftover.isEmpty, s"orphaned tmp dirs not collected: ${leftover.mkString(",")}")
    assert(st.batches.count() == 1)
  }

  test("crash between swap renames is recovered: .old restores as the live table") {
    val st = newParquetStore()
    st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z"))))
    st.upsertBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:05:00Z"))))
    // simulate a crash AFTER dst -> .old but BEFORE tmp -> dst: the live
    // dir is gone and only the backup generation remains
    val live = new java.io.File(s"${st.root}/batches")
    val old = new java.io.File(s"${st.root}/batches.old")
    assert(live.renameTo(old))
    // any read must transparently restore the backup — no history lost
    assert(st.batches.count() == 1)
    assert(st.latestBatch("nightly").get.executionMillis.contains(5L))
    assert(live.exists() && !old.exists())
  }

  test("writer lock: a root locked by another process rejects writes until reclaimed") {
    val root = TestSpark.tmpDir("adminlock")
    val st = new AdminStore(TestSpark.spark, root)
    // simulate a FOREIGN process holding the root: its _LOCK with its token
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_LOCK"), "other-process-token")
    val err = intercept[IllegalStateException] {
      st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z"))))
    }
    assert(err.getMessage.contains("locked by another writer process"))
    assert(!st.batches.collect().exists(_.name == "nightly")) // nothing landed
    // operator reclaims the crashed writer's lock -> writes flow again
    AdminStore.forceUnlock(TestSpark.spark, root)
    st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z"))))
    assert(st.batches.count() == 1)
    // our own lock file now exists and carries this process's hold
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_LOCK")))
    // a SECOND in-process store on the same root shares the hold: no error
    val st2 = new AdminStore(TestSpark.spark, root)
    st2.appendBatches(Seq(batchRow("b2", "nightly", t("2024-01-02T00:00:00Z"))))
    assert(st.batches.count() == 2)
    // close releases the file; the next write re-acquires cleanly
    st.close()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_LOCK")))
    st2.appendBatches(Seq(batchRow("b3", "nightly", t("2024-01-03T00:00:00Z"))))
    assert(st.batches.count() == 3)
  }

  test("writer lock diagnostics: holder token, process, and age surface to the operator") {
    val root = TestSpark.tmpDir("adminlockinfo")
    val st = new AdminStore(TestSpark.spark, root)
    // a foreign holder with the full 3-line payload, acquired 2 min ago
    val acquired = Instant.now().minusSeconds(120)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_LOCK"),
      s"other-process-token\n$acquired\n12345@otherhost")
    val err = intercept[IllegalStateException] {
      st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z"))))
    }
    // the message carries everything the operator needs to judge staleness
    assert(err.getMessage.contains("other-process-token"))
    assert(err.getMessage.contains("12345@otherhost"))
    assert(err.getMessage.contains("s ago"))
    // the probe API exposes the same parsed view
    val holder = AdminStore.lockHolder(TestSpark.spark, root).get
    assert(holder.token == "other-process-token")
    assert(holder.acquiredAt.contains(acquired))
    assert(holder.process.contains("12345@otherhost"))
    // legacy single-line lock files still parse (token-only)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_LOCK"), "bare-token")
    val bare = AdminStore.lockHolder(TestSpark.spark, root).get
    assert(bare.token == "bare-token" && bare.acquiredAt.isEmpty)
    AdminStore.forceUnlock(TestSpark.spark, root)
    assert(AdminStore.lockHolder(TestSpark.spark, root).isEmpty)
  }

  test("crash-restore triggered by a reader releases the writer lock afterwards") {
    val root = TestSpark.tmpDir("adminreadrestore")
    val st = new AdminStore(TestSpark.spark, root)
    st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z"))))
    st.close()
    // simulate a crash mid-swap: live dir missing, .old backup present
    java.nio.file.Files.move(
      java.nio.file.Paths.get(root, "batches"),
      java.nio.file.Paths.get(root, "batches.old"))
    val reader = new AdminStore(TestSpark.spark, root)
    assert(reader.batches.count() == 1) // restored through the read gate
    // the transient hold taken for the restore is gone: the legitimate
    // writer process is not locked out by a mere reader
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_LOCK")))
  }

  test("a warm store appends, upserts, reads status and applies retention without Spark jobs") {
    val st = newParquetStore()
    val b = batchRow("b1", "nightly", t("2024-01-02T00:00:00Z"), running = true)
    def job(id: String, ts: Instant) = JobRow(id.padTo(32, '0'), b.id, "etl_job",
      Some(4L), Some(false), None, running = false, skipped = false, None, ts)
    def log(id: String, ts: Instant) =
      LogRow(id.padTo(32, '0'), b.id, "INFO", "m", ts)
    st.appendBatches(Seq(b))
    st.appendJobs(Seq(job("j0", t("2024-01-01T00:00:00Z"))))
    st.appendJobTests(Nil)
    st.appendBatchLog(Seq(log("l0", t("2023-01-01T00:00:00Z"))))
    st.appendJobLog(Nil)
    val jobs = TestSpark.sparkJobsIn {
      st.appendJobs(Seq(job("j1", t("2024-01-02T00:00:00Z"))))
      st.upsertJobs(Seq(job("j1", t("2024-01-02T00:01:00Z"))))
      st.appendJobTests(Seq(JobTestRow("t1".padTo(32, '0'), "j1".padTo(32, '0'),
        "rows", test_passed = true, None, t("2024-01-02T00:01:00Z"))))
      st.appendBatchLog(Seq(log("l1", t("2024-01-02T00:00:00Z"))))
      st.appendJobLog(Seq(log("l2", t("2024-01-02T00:00:00Z"))))
      st.upsertBatches(Seq(b.copy(running = false, execution_millis = Some(60000L),
        execution_error_occurred = Some(false), ts = t("2024-01-02T00:01:00Z"))))
      assert(st.latestBatch("NIGHTLY").exists(_.jobResults.size == 2))
      assert(st.batchDelta("nightly").exists(_.previous.isEmpty))
      assert(st.lastSuccessfulTs("etl_job").contains(t("2024-01-02T00:01:00Z")))
      assert(st.latestTestResults("etl_job").map(_.test_name) == Seq("rows"))
      assert(st.slowJobs().isEmpty)
      assert(st.deleteOlderThan(st.BATCH_LOG, t("2024-01-01T00:00:00Z")) == 1)
      assert(st.earliestBatchLogTs.contains(t("2024-01-02T00:00:00Z")))
      assert(st.deleteBatchesOlderThan(t("2024-01-02T00:00:00Z")) == 0)
    }
    assert(jobs == 0, s"the warm admin store launched $jobs Spark job(s)")
  }

  test("a generation written out of band is seen by the next read") {
    val st = newParquetStore()
    st.appendBatches(Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z"))))
    assert(st.latestBatch("nightly").exists(_.id.startsWith("b1")))
    // another process (or an older build) appends with a DataFrame write
    import TestSpark.spark.implicits._
    Seq(batchRow("b2", "nightly", t("2024-01-02T00:00:00Z"))).toDS()
      .write.mode("append").parquet(s"${st.root}/batches")
    assert(st.latestBatch("nightly").exists(_.id.startsWith("b2")))
    assert(st.batchRows.map(_.id.take(2)).sorted == Seq("b1", "b2"))
    // and the next own write keeps both generations' rows
    st.appendBatches(Seq(batchRow("b3", "nightly", t("2024-01-03T00:00:00Z"))))
    assert(st.batches.count() == 3)
    assert(new AdminStore(TestSpark.spark, st.root).batchRows.size == 3)
  }

  test("an Instant with nanoseconds reads back the same from memory and from disk") {
    val st = newParquetStore()
    val ts = Instant.parse("2024-01-01T00:00:00.123456789Z")
    st.appendBatches(Seq(batchRow("b1", "nightly", ts)))
    val fromMemory = st.batchRows.map(_.ts)
    val fromDisk = new AdminStore(TestSpark.spark, st.root).batchRows.map(_.ts)
    assert(fromMemory == Seq(ts.truncatedTo(ChronoUnit.MICROS)))
    assert(fromDisk == fromMemory)
    assert(st.latestBatch("nightly").map(_.ts) == fromMemory.headOption)
  }

  test("a driver-written table has the schema of a DataFrame-written one") {
    val spark = TestSpark.spark
    import spark.implicits._
    val st = newParquetStore()
    val rows = Seq(batchRow("b1", "nightly", t("2024-01-01T00:00:00Z")),
      batchRow("b2", "nightly", t("2024-01-02T00:00:00Z"), running = true))
    st.appendBatches(rows)
    val viaSpark = TestSpark.tmpDir("adminschema") + "/batches"
    spark.createDataset(rows).coalesce(1).write.parquet(viaSpark)
    def footer(dir: String) = parquetFooter(dir).getFileMetaData
    val (ours, theirs) = (footer(s"${st.root}/batches"), footer(viaSpark))
    assert(ours.getSchema == theirs.getSchema)
    val rowMeta = "org.apache.spark.sql.parquet.row.metadata"
    assert(ours.getKeyValueMetaData.get(rowMeta) == theirs.getKeyValueMetaData.get(rowMeta))
    assert(spark.read.parquet(s"${st.root}/batches").schema ==
      spark.read.parquet(viaSpark).schema)
    assert(spark.read.parquet(s"${st.root}/batches").as[BatchRow].collect().sortBy(_.id)
      .toSeq == rows)
    val sparkVersion = "org.apache.spark.version"
    assert(ours.getKeyValueMetaData.get(sparkVersion) != null)
    assert(ours.getKeyValueMetaData.get(sparkVersion) ==
      theirs.getKeyValueMetaData.get(sparkVersion))
    // every column chunk: the same codec and the same encodings
    def chunks(dir: String) = parquetFooter(dir).getBlocks.asScala.toSeq
      .flatMap(_.getColumns.asScala)
      .map(c => (c.getPath.toDotString, c.getCodec, c.getEncodings.asScala.toSet))
    val (ourChunks, theirChunks) = (chunks(s"${st.root}/batches"), chunks(viaSpark))
    assert(ourChunks.nonEmpty)
    assert(ourChunks == theirChunks)
  }

  /** The command lines of the processes this thread starts while `body`
    * runs, from a JFR recording of `jdk.ProcessStart`. */
  private def processesStartedIn(body: => Unit): Seq[String] = {
    val me = Thread.currentThread().getId
    val dump = Files.createTempFile("admin-process-start", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(e => Option(e.getThread).exists(_.getJavaThreadId == me))
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  test("a warm store's appends, upserts and retention start no process") {
    val st = newParquetStore()
    val b = batchRow("b1", "nightly", t("2024-01-02T00:00:00Z"), running = true)
    def job(id: String) = JobRow(id.padTo(32, '0'), b.id, "etl_job",
      Some(4L), Some(false), None, running = false, skipped = false, None,
      t("2024-01-02T00:00:00Z"))
    def log(id: String, ts: Instant) = LogRow(id.padTo(32, '0'), b.id, "INFO", "m", ts)
    // warm: the _LOCK file (once per process) and every table's rows
    st.appendBatches(Seq(b))
    st.appendJobs(Seq(job("j0")))
    st.appendBatchLog(Seq(log("l0", t("2023-01-01T00:00:00Z"))))
    val started = processesStartedIn {
      st.appendJobs(Seq(job("j1")))
      st.appendJobTests(Seq(JobTestRow("t1".padTo(32, '0'), "j1".padTo(32, '0'),
        "rows", test_passed = true, None, t("2024-01-02T00:01:00Z"))))
      st.appendBatchLog(Seq(log("l1", t("2024-01-02T00:00:00Z"))))
      st.upsertJobs(Seq(job("j1").copy(execution_millis = Some(5L))))
      st.upsertBatches(Seq(b.copy(running = false)))
      assert(st.deleteOlderThan(st.BATCH_LOG, t("2024-01-01T00:00:00Z")) == 1)
    }
    assert(started.isEmpty, s"the warm admin store started processes: $started")
    val fresh = new AdminStore(TestSpark.spark, st.root)
    assert(fresh.jobRows.map(_.execution_millis).sorted == Seq(Some(4L), Some(5L)))
    assert(fresh.batchRows.map(_.running) == Seq(false))
    assert(fresh.batchLogRows.size == 1 && fresh.testRows.size == 1)
  }

  test("a flipped byte in an admin file's data page fails the read") {
    val st = newParquetStore()
    val marker = "page-crc-marker-0123456789abcdef"
    st.appendBatchLog(Seq(LogRow("l1".padTo(32, '0'), "b1".padTo(32, '0'), "INFO",
      marker, t("2024-01-01T00:00:00Z"))))
    val dir = s"${st.root}/batch_log"
    val file = new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val bytes = Files.readAllBytes(file.toPath)
    // the message column's first page: a header, then the page body
    val chunk = parquetFooter(dir).getBlocks.get(0).getColumns.asScala
      .find(_.getPath.toDotString == "message").get
    val start = chunk.getStartingPos.toInt
    val in = new java.io.ByteArrayInputStream(bytes, start, bytes.length - start)
    val header = Util.readPageHeader(in)
    assert(header.getType == PageType.DATA_PAGE)
    assert(header.isSetCrc, "the data page carries no CRC")
    val body = bytes.length - in.available()
    val at = bytes.indexOfSlice(marker.getBytes("UTF-8"), body)
    assert(at >= body && at + marker.length <= body + header.getCompressed_page_size,
      "the message is not a literal inside the data page")
    bytes(at) = 'q'.toByte
    Files.write(file.toPath, bytes)
    val err = intercept[Exception](new AdminStore(TestSpark.spark, st.root).batchLogRows)
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("CRC checksum")), err)
  }

  test("appends past MaxFiles rewrite the table as one file") {
    val st = newParquetStore()
    val rows = (0 until 70).map(i =>
      batchRow(f"b$i%02d", "nightly", t("2024-01-01T00:00:00Z").plusSeconds(i.toLong)))
    rows.foreach(r => st.appendBatches(Seq(r)))
    val files = new File(s"${st.root}/batches").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files <= AdminStore.MaxFiles, s"$files files")
    assert(files == 70 - AdminStore.MaxFiles)
    assert(st.batchRows.sortBy(_.id) == rows)
    assert(new AdminStore(TestSpark.spark, st.root).batchRows.sortBy(_.id) == rows)
  }
}
