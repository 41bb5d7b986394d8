package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The session memo layer: one entry per (session, name, dir), nested
  * builds outside the map's locks, one build under contention, no entry
  * after a failed build, ledger stamps under attribution, and release
  * when the SparkContext ends. Memo names and dirs here are the spec's own,
  * so no query memo is touched until the release test. */
class MemoSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  /** Spark jobs `body` launches, counted through a job group of its own. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"memo-spec-${System.nanoTime()}"
    sc.setJobGroup(group, "memo spec probe")
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("the same (session, name, dir) returns the same instance") {
    val builds = new AtomicInteger()
    def get = Memo.value("memo_spec_same", spark, "memo-spec/same") {
      builds.incrementAndGet(); new Object
    }
    val a = get
    assert(get eq a)
    assert(builds.get == 1)
  }

  test("a different dir builds its own entry") {
    val builds = new AtomicInteger()
    def get(dir: String) = Memo.value("memo_spec_dir", spark, dir) {
      builds.incrementAndGet(); new Object
    }
    val a = get("memo-spec/dir-a")
    val b = get("memo-spec/dir-b")
    assert(!(a eq b))
    assert(builds.get == 2)
    assert(get("memo-spec/dir-a") eq a)
  }

  test("a build may read another memo and a Tables table") {
    val dir = "memo-spec/nested"
    val outer = Memo.df("memo_spec_outer", spark, dir) {
      val inner = Memo.df("memo_spec_inner", spark, dir) {
        Tables.documents(spark, d).select(col("doc_id")).localCheckpoint(false)
      }
      inner.join(Tables.documents(spark, d).select(col("doc_id"), col("lang")),
        "doc_id").localCheckpoint(false)
    }
    assert(outer.count() == Tables.documents(spark, d).count())
    assert(Memo.cached(spark, "memo_spec_inner", dir))
    // a deep chain: every level builds while all the levels above it are
    // still building, so a build run inside the map's own update would
    // collide with one of them (same bin or a resize)
    def level(i: Int): Int =
      Memo.get(spark, s"memo_spec_chain_$i", dir)(if (i == 0) 0 else level(i - 1) + 1)
    assert(level(127) == 127)
  }

  test("8 threads touching one cold key build it once") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val got = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          Memo.value("memo_spec_race", spark, "memo-spec/race") {
            builds.incrementAndGet(); Thread.sleep(200); new Object
          }
        })
      }
      start.countDown()
      val values = got.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdownNow()
  }

  test("a build that throws leaves no entry, and the next call rebuilds") {
    val dir = "memo-spec/throw"
    val builds = new AtomicInteger()
    def get(fail: Boolean) = Memo.value("memo_spec_throw", spark, dir) {
      builds.incrementAndGet()
      if (fail) throw new IllegalStateException("memo spec build failure")
      "built"
    }
    intercept[IllegalStateException](get(fail = true))
    assert(!Memo.cached(spark, "memo_spec_throw", dir))
    assert(get(fail = false) == "built")
    assert(builds.get == 2)
    assert(Memo.cached(spark, "memo_spec_throw", dir))
  }

  test("under attribution a DataFrame memo is forced, stamped and read") {
    val dir = "memo-spec/ledger"
    Tables.documents(spark, d) // its schema read is a job of its own
    def memo(name: String) = Memo.df(name, spark, dir) {
      Tables.documents(spark, d).select(col("doc_id")).localCheckpoint(false)
    }
    // outside attribution: lazy, unstamped, unread
    assert(jobsOf(memo("memo_spec_lazy")) == 0)
    assert(!MemoLedger.buildsSnapshot(dir).contains("memo_spec_lazy"))
    assert(!MemoLedger.readsSnapshot.contains("memo_spec_lazy"))
    MemoLedger.currentQuery = "memo_spec_q"
    try {
      assert(jobsOf(memo("memo_spec_forced")) >= 1, "the build must be forced")
      assert(jobsOf(memo("memo_spec_forced")) == 0, "a read must not rebuild")
      val v = Memo.value("memo_spec_count", spark, dir)(41L + 1L)
      assert(v == 42L)
    } finally MemoLedger.currentQuery = ""
    val builds = MemoLedger.buildsSnapshot(dir)
    assert(builds("memo_spec_forced").chargedQuery == "memo_spec_q")
    assert(builds("memo_spec_forced").sec > 0.0)
    assert(builds("memo_spec_count").chargedQuery == "memo_spec_q")
    val reads = MemoLedger.readsSnapshot
    assert(reads("memo_spec_forced") == Set("memo_spec_q"))
    assert(reads("memo_spec_count") == Set("memo_spec_q"))
  }

  test("the context's end drops its entries") {
    val sc = spark.sparkContext
    val dir = "memo-spec/release"
    Memo.value("memo_spec_release", spark, dir)(new Object)
    Tables.documents(spark, d)
    assert(Memo.cached(spark, "memo_spec_release", dir))
    assert(Memo.cached(spark, "documents.parquet", d))
    val listener = Memo.releaseListener(sc)
    assert(listener.isDefined, "the first memo must register a release listener")
    // what the listener bus delivers when the context stops; the shared
    // session stays up for the suites after this one, which rebuild
    listener.get.onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis()))
    assert(!Memo.cached(spark, "memo_spec_release", dir))
    assert(!Memo.cached(spark, "documents.parquet", d))
    assert(Memo.releaseListener(sc).isEmpty)
    Memo.value("memo_spec_release", spark, dir)(new Object)
    assert(Memo.releaseListener(sc).isDefined, "the next memo registers again")
  }
}
