package graft.store

import java.sql.{Connection, DriverManager, PreparedStatement}
import java.time.Instant

import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Admin bookkeeping store over an RDBMS via JDBC — the reference's
  * deployment shape (engine URI behind the runner, batch_runner.py:57;
  * Postgres in docker-compose.yml, SQLite in tests), next to the parquet
  * [[AdminStore]]. A user running many small concurrent batches gets the
  * RDBMS's transactional upsert instead of parquet's swap-rename
  * discipline.
  *
  * Division of labor: MUTATIONS are driver-side SQL in one transaction
  * each (autoCommit off, commit per operation) — exactly where the
  * reference runs them (SQLAlchemy sessions on the orchestrating process;
  * admin writes are driver bookkeeping rows, never a distributed job).
  * READS surface as Datasets through Spark's JDBC source (the admin tables
  * are tiny, one JDBC partition), and the shared AdminStoreApi repository
  * queries run over them through the inherited `batchRows`/`jobRows`/...
  * members, which collect those Datasets to the driver — the same
  * plain-Scala queries the parquet store runs over its in-memory tables,
  * so the two backends answer identically. Concurrent-writer correctness
  * is the RDBMS's job, as in the reference — no `_LOCK` file.
  *
  * Timestamps are stored as BIGINT EPOCH MICROS, not SQL TIMESTAMP:
  * JDBC timestamp binding renders through the JVM default calendar and
  * each engine's session zone, an ambiguity this store sidesteps
  * entirely — the long is converted to TimestampType with
  * `timestamp_micros` on the read path (session TZ UTC, same convention
  * as the fixtures).
  *
  * Tested against embedded Derby (ships with Spark); the SQL is
  * deliberately vanilla-92 (quoted lowercase identifiers, no vendor
  * clauses) so a Postgres/MySQL URL is a connection-string change. NOTE:
  * embedded Derby is same-JVM only — fine under local[*] where executors
  * share the driver JVM (and for tests, as the reference uses SQLite); a
  * real cluster points the URL at a networked RDBMS. */
final class JdbcAdminStore(val spark: SparkSession, val url: String)
    extends AdminStoreApi {
  import spark.implicits._

  private val conn: Connection = DriverManager.getConnection(url)
  conn.setAutoCommit(false)

  protected def sync[T](f: => T): T = this.synchronized(f)

  private def micros(ts: Instant): Long =
    ts.getEpochSecond * 1000000L + ts.getNano / 1000L

  // ---- schema ----

  private def ddl(sql: String): Unit =
    try { val st = conn.createStatement(); try st.execute(sql) finally st.close(); conn.commit() }
    catch {
      case e: java.sql.SQLException if e.getSQLState == "X0Y32" =>
        conn.rollback() // table already exists
    }

  ddl(s"""CREATE TABLE "$BATCHES" (
    "id" VARCHAR(64) NOT NULL PRIMARY KEY, "name" VARCHAR(512) NOT NULL,
    "execution_millis" BIGINT, "execution_error_occurred" BOOLEAN,
    "execution_error_message" VARCHAR(4000),
    "running" BOOLEAN NOT NULL, "ts" BIGINT NOT NULL)""")
  ddl(s"""CREATE TABLE "$JOBS" (
    "id" VARCHAR(64) NOT NULL PRIMARY KEY, "batch_id" VARCHAR(64) NOT NULL,
    "job_name" VARCHAR(512) NOT NULL, "execution_millis" BIGINT,
    "execution_error_occurred" BOOLEAN, "execution_error_message" VARCHAR(4000),
    "running" BOOLEAN NOT NULL, "skipped" BOOLEAN NOT NULL,
    "skipped_reason" VARCHAR(4000), "ts" BIGINT NOT NULL)""")
  ddl(s"""CREATE TABLE "$JOB_TEST_RESULTS" (
    "id" VARCHAR(64) NOT NULL PRIMARY KEY, "job_id" VARCHAR(64) NOT NULL,
    "test_name" VARCHAR(512) NOT NULL, "test_passed" BOOLEAN NOT NULL,
    "test_failure_message" VARCHAR(4000), "ts" BIGINT NOT NULL)""")
  private def logDdl(t: String) = ddl(s"""CREATE TABLE "$t" (
    "id" VARCHAR(64) NOT NULL PRIMARY KEY, "parent_id" VARCHAR(64) NOT NULL,
    "log_level" VARCHAR(16) NOT NULL, "message" VARCHAR(4000) NOT NULL,
    "ts" BIGINT NOT NULL)""")
  logDdl(BATCH_LOG)
  logDdl(JOB_LOG)

  // ---- reads: one-partition JDBC scan, micros -> TimestampType ----

  private def read(table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("dbtable", s""""$table"""")
      .load()
      .withColumn("ts", timestamp_micros(col("ts")))

  def batches: Dataset[BatchRow] = read(BATCHES).as[BatchRow]
  def jobs: Dataset[JobRow] = read(JOBS).as[JobRow]
  def jobTestResults: Dataset[JobTestRow] = read(JOB_TEST_RESULTS).as[JobTestRow]
  def batchLog: Dataset[LogRow] = read(BATCH_LOG).as[LogRow]
  def jobLog: Dataset[LogRow] = read(JOB_LOG).as[LogRow]

  // ---- mutations: one transaction each ----

  private def inTx[T](f: => T): T = sync {
    try { val r = f; conn.commit(); r }
    catch { case e: Throwable => conn.rollback(); throw e }
  }

  private def setOpt[T](ps: PreparedStatement, i: Int, v: Option[T],
      sqlType: Int): Unit = v match {
    case Some(x: Long)    => ps.setLong(i, x)
    case Some(x: Boolean) => ps.setBoolean(i, x)
    case Some(x: String)  => ps.setString(i, x)
    case Some(x)          => ps.setObject(i, x)
    case None             => ps.setNull(i, sqlType)
  }

  private def insertBatch(ps: PreparedStatement, rows: Seq[BatchRow]): Unit = {
    rows.foreach { r =>
      ps.setString(1, r.id); ps.setString(2, r.name)
      setOpt(ps, 3, r.execution_millis, java.sql.Types.BIGINT)
      setOpt(ps, 4, r.execution_error_occurred, java.sql.Types.BOOLEAN)
      setOpt(ps, 5, r.execution_error_message, java.sql.Types.VARCHAR)
      ps.setBoolean(6, r.running); ps.setLong(7, micros(r.ts))
      ps.addBatch()
    }
    ps.executeBatch(); ps.close()
  }

  private def insertJob(ps: PreparedStatement, rows: Seq[JobRow]): Unit = {
    rows.foreach { r =>
      ps.setString(1, r.id); ps.setString(2, r.batch_id)
      ps.setString(3, r.job_name)
      setOpt(ps, 4, r.execution_millis, java.sql.Types.BIGINT)
      setOpt(ps, 5, r.execution_error_occurred, java.sql.Types.BOOLEAN)
      setOpt(ps, 6, r.execution_error_message, java.sql.Types.VARCHAR)
      ps.setBoolean(7, r.running); ps.setBoolean(8, r.skipped)
      setOpt(ps, 9, r.skipped_reason, java.sql.Types.VARCHAR)
      ps.setLong(10, micros(r.ts))
      ps.addBatch()
    }
    ps.executeBatch(); ps.close()
  }

  private def batchInsertSql =
    s"""INSERT INTO "$BATCHES" VALUES (?, ?, ?, ?, ?, ?, ?)"""
  private def jobInsertSql =
    s"""INSERT INTO "$JOBS" VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?)"""

  def appendBatches(rows: Seq[BatchRow]): Unit = inTx {
    insertBatch(conn.prepareStatement(batchInsertSql), rows)
  }

  def appendJobs(rows: Seq[JobRow]): Unit = inTx {
    insertJob(conn.prepareStatement(jobInsertSql), rows)
  }

  def appendJobTests(rows: Seq[JobTestRow]): Unit = inTx {
    val ps = conn.prepareStatement(
      s"""INSERT INTO "$JOB_TEST_RESULTS" VALUES (?, ?, ?, ?, ?, ?)""")
    rows.foreach { r =>
      ps.setString(1, r.id); ps.setString(2, r.job_id)
      ps.setString(3, r.test_name); ps.setBoolean(4, r.test_passed)
      setOpt(ps, 5, r.test_failure_message, java.sql.Types.VARCHAR)
      ps.setLong(6, micros(r.ts))
      ps.addBatch()
    }
    ps.executeBatch(); ps.close()
  }

  private def appendLog(table: String, rows: Seq[LogRow]): Unit = inTx {
    val ps = conn.prepareStatement(
      s"""INSERT INTO "$table" VALUES (?, ?, ?, ?, ?)""")
    rows.foreach { r =>
      ps.setString(1, r.id); ps.setString(2, r.parent_id)
      ps.setString(3, r.log_level); ps.setString(4, r.message)
      ps.setLong(5, micros(r.ts))
      ps.addBatch()
    }
    ps.executeBatch(); ps.close()
  }

  def appendBatchLog(rows: Seq[LogRow]): Unit = appendLog(BATCH_LOG, rows)
  def appendJobLog(rows: Seq[LogRow]): Unit = appendLog(JOB_LOG, rows)

  /** DELETE-then-INSERT in ONE transaction — the RDBMS merge the parquet
    * store emulates with its swap-rename rewrite. */
  private def deleteByIds(table: String, idCol: String, ids: Seq[String]): Unit =
    if (ids.nonEmpty) {
      val ps = conn.prepareStatement(
        s"""DELETE FROM "$table" WHERE "$idCol" = ?""")
      ids.foreach { id => ps.setString(1, id); ps.addBatch() }
      ps.executeBatch(); ps.close()
    }

  def upsertBatches(rows: Seq[BatchRow]): Unit = inTx {
    deleteByIds(BATCHES, "id", rows.map(_.id))
    insertBatch(conn.prepareStatement(batchInsertSql), rows)
  }

  def upsertJobs(rows: Seq[JobRow]): Unit = inTx {
    deleteByIds(JOBS, "id", rows.map(_.id))
    insertJob(conn.prepareStatement(jobInsertSql), rows)
  }

  def deleteOlderThan(table: String, cutoff: Instant): Long = inTx {
    val ps = conn.prepareStatement(
      s"""DELETE FROM "$table" WHERE "ts" < ?""")
    ps.setLong(1, micros(cutoff))
    val n = ps.executeUpdate().toLong
    ps.close(); n
  }

  def deleteBatchesOlderThan(cutoff: Instant): Long = inTx {
    val cut = micros(cutoff)
    def exec(sql: String): Long = {
      val ps = conn.prepareStatement(sql)
      ps.setLong(1, cut)
      val n = ps.executeUpdate().toLong
      ps.close(); n
    }
    // children first (explicit cascade, sqlalchemy_batch_repository.py:31-41)
    exec(s"""DELETE FROM "$JOB_TEST_RESULTS" WHERE "job_id" IN (
      SELECT "id" FROM "$JOBS" WHERE "batch_id" IN (
        SELECT "id" FROM "$BATCHES" WHERE "ts" < ?))""")
    exec(s"""DELETE FROM "$JOBS" WHERE "batch_id" IN (
      SELECT "id" FROM "$BATCHES" WHERE "ts" < ?)""")
    exec(s"""DELETE FROM "$BATCHES" WHERE "ts" < ?""")
  }

  def close(): Unit = sync {
    try conn.commit() catch { case _: java.sql.SQLException => () }
    conn.close()
  }
}
