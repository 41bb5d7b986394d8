package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session memos: derived tables built once per corpus and shared by every
  * query that reads them. A corpus pipeline materializes its shingle table,
  * near-dup pairs, cluster labels, index assignment and trained models once
  * and fans its stages out from them; the operators in `graft.ops` do the
  * same through this layer. The contract, for every memo:
  *
  *  - Key: the session, the memo name and the corpus dir. Another session,
  *    or another dir, builds its own entry.
  *  - A corpus dir is write-once. The key has no snapshot component, so a
  *    dir rewritten in place under a live session is served the memo built
  *    from its old contents. (The standing releases under /tmp outlive the
  *    session, so they stamp the corpus files instead;
  *    see `Similarity.standingRoot`.)
  *  - Release: the first memo of a SparkContext registers one
  *    SparkListener, whose `onApplicationEnd` drops every entry of that
  *    context's sessions when the context stops. Nothing else clears a
  *    memo; checkpoint blocks of a dropped entry go with its DataFrame.
  *  - Build: a [[df]] memo is a lazy local checkpoint, so constructing a
  *    query (to print its plan, say) runs no Spark job. Under attribution
  *    (`MemoLedger.currentQuery` set, as Bench and perfbench do) the build
  *    is forced with a count, so the seconds filed in the ledger are the
  *    real build, charged to the query that paid it. A [[value]] memo is
  *    eager and always filed. Every access records a read for the current
  *    query.
  *  - Each key builds at most once, outside the map's locks, so a build may
  *    read other memos and `Tables`. A build that throws leaves no entry;
  *    the next call builds again.
  */
object Memo {
  private final case class Key(s: SparkSession, name: String, dir: String)

  /** One key's value, built when first forced, under the cell's own lock. */
  private final class Cell(build: () => Any) { lazy val value: Any = build() }

  private val cells = new ConcurrentHashMap[Key, Cell]()
  private val releases = new ConcurrentHashMap[SparkContext, Release]()

  /** A DataFrame memo; `build` returns a lazy local checkpoint. */
  def df(name: String, s: SparkSession, d: String)(build: => DataFrame): DataFrame = {
    MemoLedger.touch(name)
    get(s, name, d) {
      if (MemoLedger.currentQuery.isEmpty) build
      else MemoLedger.timed(name, d) { val t = build; t.count(); t }
    }
  }

  /** A memo whose `build` computes its value eagerly (a count, a model). */
  def value[T](name: String, s: SparkSession, d: String)(build: => T): T = {
    MemoLedger.touch(name)
    get(s, name, d)(MemoLedger.timed(name, d)(build))
  }

  /** The entry for (s, name, d), built by `build` on first use, with no
    * ledger record. */
  private[graft] def get[T](s: SparkSession, name: String, d: String)(build: => T): T = {
    val sc = s.sparkContext
    if (!releases.containsKey(sc)) {
      val r = new Release(sc)
      if (releases.putIfAbsent(sc, r) == null) sc.addSparkListener(r)
    }
    val key = Key(s, name, d)
    val cell = cells.computeIfAbsent(key, _ => new Cell(() => build))
    try cell.value.asInstanceOf[T]
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }

  private final class Release(sc: SparkContext) extends SparkListener {
    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
      cells.keySet.removeIf(_.s.sparkContext eq sc)
      releases.remove(sc, this)
    }
  }

  /** The release listener registered on `sc`, if a memo was used there. */
  private[graft] def releaseListener(sc: SparkContext): Option[SparkListener] =
    Option(releases.get(sc))

  private[graft] def cached(s: SparkSession, name: String, d: String): Boolean =
    cells.containsKey(Key(s, name, d))
}
