package graft.ops

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Label and round-count properties of connectedComponentsStar, the one
  * connected-components entry point, on BOTH of its paths: the driver
  * finish (union-find, taken whenever the pairs fit graft.ops.Loop's
  * budget) and the forced-distributed large-star/small-star rounds. Both
  * are checked against an independent pure-Scala union-find replica with
  * min-id labels — the labels min-label propagation computes. The driver
  * oracle already pins e1_dedup_clusters_star to the SAME recursive-CTE
  * SQL as e1_dedup_clusters; this spec adds the structural claims the
  * oracle can't see: constructed graphs the fixture doesn't contain (deep
  * chains, self-loops, null endpoints, duplicate pairs), and the
  * O(log n) round count that is the point of the distributed star form
  * at 100 TB. */
class DedupStarSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def pairsDf(pairs: Seq[(Long, Long)]): DataFrame =
    pairs.toDF("da", "db")

  private def vertsDf(n: Long): DataFrame =
    (0L until n).toDF("doc_id")

  private val distributed = Loop.ForceDistributed

  /** Union-find over a plain map, each root its component's minimum.
    * Pairs with a null endpoint and self-loops add nothing; the vertices
    * and every endpoint of a kept pair are labeled. */
  private def replica(verts: Seq[Long],
      pairs: Seq[(Option[Long], Option[Long])]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(v: Long): Long = {
      val p = parent.getOrElseUpdate(v, v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    for ((Some(a), Some(b)) <- pairs if a != b) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (verts ++ parent.keys).distinct.map(v => v -> find(v)).toMap
  }

  private def some(pairs: Seq[(Long, Long)]): Seq[(Option[Long], Option[Long])] =
    pairs.map { case (a, b) => (Some(a), Some(b)) }

  /** Both paths equal the replica; the driver path runs no distributed
    * round. Returns the distributed path's round count. */
  private def bothPaths(verts: DataFrame, pairs: DataFrame,
      truth: Map[Long, Long]): Int = {
    val (drv, drvRounds) = Dedup.connectedComponentsStar(verts, pairs)
    val (dist, rounds) = Dedup.connectedComponentsStar(verts, pairs, distributed)
    assert(drvRounds == 0, "a graph under the budget finishes on the driver")
    assert(labelsOf(drv) == truth, "driver finish")
    assert(labelsOf(dist) == truth, "distributed rounds")
    rounds
  }

  test("star labels match min-label propagation on the sf0.001 fixture pair table") {
    val verts = graft.Tables.documents(spark, TestSpark.sf0001).select("doc_id")
    val pairs = Dedup.e1MinhashPairs(spark, TestSpark.sf0001).select("da", "db")
    val truth = replica(verts.as[Long].collect().toSeq,
      some(pairs.as[(Long, Long)].collect().toSeq))
    bothPaths(verts, pairs, truth)
  }

  test("64-edge chain: identical labels, star needs a small fraction of min-label's rounds") {
    // The adversarial shape for min-label: one path 0-1-...-64, diameter
    // 64, so a min label crawls one hop per round and needs ~64 rounds.
    // Large-star/small-star halves (at least) the height of the hanging
    // structure per round.
    val n = 65L
    val edges = (0L until n - 1).map(i => (i, i + 1))
    val truth = replica(0L until n, some(edges))
    assert(truth.values.forall(_ == 0L) && truth.size == n, "one component rooted at 0")
    val starRounds = bothPaths(vertsDf(n), pairsDf(edges), truth)
    assert(starRounds <= 10, s"star rounds $starRounds — should be ~log n")
    info(s"64-edge chain: $starRounds distributed star rounds")
  }

  test("star labels match min-label on seeded random graphs (multi-component, hubs, isolated vertices)") {
    val rnd = new scala.util.Random(0x5eed)
    for (_ <- 1 to 3) {
      val n = 40L
      val edges = Seq.fill(30)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      withClue(s"edges: $edges") {
        bothPaths(vertsDf(n), pairsDf(edges), replica(0L until n, some(edges)))
      }
    }
  }

  test("self-loops, null endpoints and duplicate pairs add nothing on either path") {
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(2L), Some(3L)), (Some(3L), Some(2L)), (Some(2L), Some(3L)), // duplicates
      (Some(1L), Some(1L)), (Some(9L), Some(9L)), // self-loops, 9 not a vertex
      (None, Some(7L)), (Some(4L), None), (None, None), // null endpoints
      (Some(5L), Some(6L)))
    val truth = replica(0L until 6L, pairs)
    assert(truth == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 4L,
      5L -> 5L, 6L -> 5L), s"replica $truth")
    bothPaths(vertsDf(6), pairs.toDF("da", "db"), truth)
  }

  test("distributed rounds hand off to the driver finish once the edges fit") {
    // Six 8-cliques (168 edges), two pairs of them bridged: 4 components,
    // whose stars need only 44 edges. A 60-edge budget starts distributed and
    // hands the live edges to union-find once a round has shrunk them.
    val edges = (for (c <- 0L until 6L; i <- 0L until 8L; j <- i + 1 until 8L)
      yield (c * 100 + i, c * 100 + j)) ++ Seq((7L, 100L), (207L, 300L))
    val verts = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val truth = replica(verts, some(edges))
    val (all, fullRounds) =
      Dedup.connectedComponentsStar(verts.toDF("doc_id"), pairsDf(edges), distributed)
    val (handed, rounds) =
      Dedup.connectedComponentsStar(verts.toDF("doc_id"), pairsDf(edges), 60 * Loop.EdgeBytes)
    assert(labelsOf(all) == truth && labelsOf(handed) == truth)
    assert(rounds >= 1 && rounds < fullRounds,
      s"handoff after $rounds of $fullRounds rounds")
  }

  test("incremental cluster maintenance equals full recompute on batch rows (incl. cluster merges)") {
    // the oracle proves this per scale; here the same invariant is pinned
    // as a law so a refactor of the contraction logic fails fast in CI
    val incr = labelsOf(Dedup.e1IncrementalClusters(spark, TestSpark.sf0001))
    val full = Dedup.e1DedupClusters(spark, TestSpark.sf0001)
      .join(graft.Tables.documents(spark, TestSpark.sf0001)
        .select(col("doc_id"))
        .filter(Sampling.slot(col("doc_id"), Dedup.IncrSalt) >= 90),
        Seq("doc_id"), "left_semi")
    assert(incr == labelsOf(full))
    assert(incr.nonEmpty)
  }

  test("contraction survives a batch doc merging two pre-existing clusters") {
    // constructed graph: corpus clusters {0,1} and {2,3} (labels 0 and 2);
    // batch doc 100 pairs with 1 AND 3 — the merge case. Contract the
    // cross edges through the corpus labels and run star CC: doc 100 must
    // read label 0 (the merged component's min), exactly what a full
    // recompute over all five nodes yields.
    val corpusPairs = pairsDf(Seq((0L, 1L), (2L, 3L)))
    val corpusVerts = Seq(0L, 1L, 2L, 3L).toDF("doc_id")
    val (labels, _) = Dedup.connectedComponentsStar(corpusVerts, corpusPairs)
    val lab = labelsOf(labels)
    val contractedEdges = pairsDf(Seq((100L, lab(1L)), (100L, lab(3L))))
    val (merged, _) = Dedup.connectedComponentsStar(
      Seq(100L).toDF("doc_id"), contractedEdges)
    assert(labelsOf(merged)(100L) == 0L)
    val (fullRecompute, _) = Dedup.connectedComponentsStar(
      (Seq(100L) ++ Seq(0L, 1L, 2L, 3L)).toDF("doc_id"),
      pairsDf(Seq((0L, 1L), (2L, 3L), (100L, 1L), (100L, 3L))))
    assert(labelsOf(fullRecompute)(100L) == 0L)
  }

  test("star handles an empty pair table: every vertex is its own cluster, zero rounds") {
    val truth = (0L until 5L).map(i => i -> i).toMap
    // the distributed path needs one round to see the empty edge set is
    // a fixpoint; the driver finish needs none
    assert(bothPaths(vertsDf(5), pairsDf(Seq.empty), truth) <= 1)
  }
}
