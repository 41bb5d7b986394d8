package graft

/** Build and read accounting for the session memos ([[Memo]]). Bench runs
  * each query warm, so a shared memo's build lands in no measured rep, and
  * a memo-backed query's median prices a checkpoint read. The ledger
  * says so in numbers: the seconds of each build (memo and corpus dir →
  * seconds and the query charged) and which queries read which memo.
  * Bench stamps them into its JSON as `memo_builds` and `memo_backed`;
  * perfbench reports them as `memo.*`. Pure bookkeeping: no plan changes.
  *
  * JVM-local, like the memos it describes. */
object MemoLedger {
  final case class Build(sec: Double, chargedQuery: String)

  // builds are keyed (memo name, corpus dir): the bench warms every query
  // at the small warm dir before measuring at the scale dir, so the same
  // memo builds once PER CORPUS — stamping by name alone would file the
  // warm dir's (tiny) build and silently drop the measured-scale one.
  private val builds =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Build]()
  private val reads = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[String, Boolean]]()

  /** The query being constructed/executed right now — set by Bench (and
    * any driver wanting attribution) around each query; "" outside. */
  @volatile var currentQuery: String = ""

  /** Times `body` (a build that materializes eagerly) and files it under
    * (`name`, `dir`), charged to the query active at build time.
    * putIfAbsent, so a rebuild in a later session keeps the first (cold)
    * cost, the number the warm-rep accounting hides. */
  private[graft] def timed[T](name: String, dir: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    builds.putIfAbsent((name, dir),
      Build((System.nanoTime() - t0) / 1e9, currentQuery))
    r
  }

  /** Records that the active query consumes memo `name`. */
  private[graft] def touch(name: String): Unit = {
    val q = currentQuery
    if (q.nonEmpty)
      reads.computeIfAbsent(name,
        _ => new java.util.concurrent.ConcurrentHashMap[String, Boolean]())
        .put(q, true)
  }

  /** Builds for one corpus dir: memo name → Build. */
  def buildsSnapshot(dir: String): Map[String, Build] = {
    import scala.jdk.CollectionConverters._
    builds.asScala.collect { case ((n, dd), b) if dd == dir => n -> b }.toMap
  }

  /** memo name → set of query names that touched it. */
  def readsSnapshot: Map[String, Set[String]] = {
    import scala.jdk.CollectionConverters._
    reads.asScala.map { case (k, v) => k -> v.keySet.asScala.toSet }.toMap
  }

  def clear(): Unit = { builds.clear(); reads.clear() }
}
