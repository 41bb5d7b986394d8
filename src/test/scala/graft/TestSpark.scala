package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions._

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("8")
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs launched on this thread while `body` runs. A sentinel job
    * closes the probe group: listener events arrive in order, so once the
    * sentinel is visible every job `body` launched is too. */
  def sparkJobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"spark-job-probe-${System.nanoTime()}"
    sc.setJobGroup(group, "a probe of the Spark jobs its body launches")
    try { body; sc.parallelize(Seq(1), 1).count() }
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    var ids = sc.statusTracker.getJobIdsForGroup(group)
    while (ids.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(20)
      ids = sc.statusTracker.getJobIdsForGroup(group)
    }
    assert(ids.nonEmpty, "the sentinel job never reached the status tracker")
    ids.length - 1
  }
}
