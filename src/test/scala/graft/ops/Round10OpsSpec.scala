package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the round-10 operators: the greedy k-center trajectory
  * (full driver replica + the non-decreasing cover_sim law that makes
  * the emitted column readable as a coverage curve) and the kNN-graph
  * mutuality laws (driver replica of the in-cell edge lists; the
  * Σ n_mutual = 2 × |mutual pairs| parity). Values are pinned by the
  * DuckDB oracles; these specs pin the ALGORITHMIC laws the oracles
  * can't express. */
class Round10OpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def vecs: Map[Long, Array[Double]] =
    graft.Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      s += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    s / (math.sqrt(na) * math.sqrt(nb))
  }

  test("e2_kcenter: matches a driver greedy replica and cover_sim is non-decreasing") {
    val emb = vecs
    val rows = Similarity.e2Kcenter(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.length == Similarity.KcenterK)
    assert(rows.map(_._2).distinct.length == rows.length, "picks must be distinct")
    // seed replica: smallest (mix64(vec_id ^ salt), vec_id)
    def mix64(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val seed = emb.keys.toSeq
      .sortBy(id => (mix64(id ^ Similarity.KcenterSalt), id)).head
    assert(rows.head == ((1L, seed, None)))
    // full greedy replica: each round picks the argmin-of-max-cosine
    var sel = Vector(seed)
    for (k <- 2 to Similarity.KcenterK) {
      val (pick, ms) = emb.keys.toSeq.filterNot(sel.contains).map { id =>
        id -> sel.map(sid => cos(emb(id), emb(sid))).max
      }.minBy { case (id, ms) => (ms, id) }
      val got = rows(k - 2 + 1)
      assert(got._2 == pick, s"round $k pick: got ${got._2}, replica $pick")
      val expMs = BigDecimal(ms)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got._3.get - expMs) < 1e-9,
        s"round $k cover_sim: got ${got._3.get}, replica $expMs")
      sel :+= pick
    }
    // the coverage curve is monotone: each pick is no farther from the
    // selected set than the previous pick was (Gonzalez's radius law)
    val sims = rows.flatMap(_._3)
    assert(sims.zip(sims.tail).forall { case (a, b) => b >= a },
      s"cover_sim must be non-decreasing: ${sims.mkString(", ")}")
  }

  test("e2_knn_graph: driver replica of in-cell edges and the mutual-pair parity law") {
    val rows = Similarity.e2KnnGraph(spark, TestSpark.sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // mutual-pair parity: each mutual pair contributes one directed edge
    // to label(a)'s bucket and one to label(b)'s — the global sum is even
    assert(rows.map(_._3).sum % 2 == 0)
    // basis points law re-derived per row
    rows.foreach { case (_, ne, nm, bp) =>
      assert(bp == nm * 10000 / ne)
      assert(nm <= ne)
    }
    // every vector with an in-cell peer emits at most K edges, and the
    // per-label edge totals sum to the global edge count
    val e = Similarity.withNorm(graft.Tables.embeddings(spark, TestSpark.sf0001))
    val knnTotal = rows.map(_._2).sum
    assert(knnTotal <= e.count() * Similarity.KnnGraphK)
  }

  test("e3_gopher_gates: driver replica of all four gates and the keep-rate law") {
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val gates = ds.map { case (_, text) =>
        val toks = text.split(" ", -1)
        val nt = toks.length.toLong
        val nd = toks.distinct.length.toLong
        val letters = text.replace(" ", "").length.toLong
        val nsw = toks.count(TextOps.Stopwords.contains).toLong
        (nt >= TextOps.GopherMinTokens && nt <= TextOps.GopherMaxTokens,
          letters >= 3 * nt && letters <= 10 * nt,
          nsw >= 2,
          10 * nd >= 3 * nt)
      }
      val nPass = gates.count(g => g._1 && g._2 && g._3 && g._4).toLong
      src -> ((ds.length.toLong, gates.count(!_._1).toLong,
        gates.count(!_._2).toLong, gates.count(!_._3).toLong,
        gates.count(!_._4).toLong, nPass,
        nPass * 10000 / ds.length))
    }
    val got = TextOps.e3GopherGates(spark, TestSpark.sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    assert(got == expect)
    // the battery is discriminative on the fixture — some docs fail,
    // some pass (an all-pass or all-fail gate battery tests nothing)
    assert(got.values.exists(_._6 > 0), "expected at least one passing doc")
    assert(got.values.exists(v => v._6 < v._1), "expected at least one failing doc")
  }

  test("e2_range_search: driver replica — exactly the label-block pairs at or above tau") {
    val rows = Similarity.e2RangeSearch(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._3 >= Similarity.RangeTau))
    // replica over the sampled queries' label blocks
    val emb = vecs
    val labels = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // queries replicated INDEPENDENTLY of the op's output (mix64 sample,
    // the e2_kcenter seed-replica discipline) — deriving them from
    // rows.map(_._1) would mask a query whose hits the op dropped
    // wholesale
    def mix64(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val queries = emb.keys.toSeq
      .sortBy(id => (mix64(id ^ Similarity.AnnQuerySalt), id))
      .take(Similarity.AnnQueryK)
    val expect = (for {
      q <- queries
      (id, v) <- emb if id != q && labels(id) == labels(q)
      sim = BigDecimal(cos(emb(q), v))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if sim >= Similarity.RangeTau
    } yield (q, id, sim)).toSet
    assert(rows.toSet == expect)
  }

  test("kcenterTrained: fixed-K trajectory is its prefix, coverage target stops it") {
    // with an unreachable target, the first KcenterK picks must equal the
    // declared query's trajectory exactly (same greedy walk)
    val (df, k) = Similarity.kcenterTrained(spark, TestSpark.sf0001,
      tauSim = 2.0, maxK = Similarity.KcenterK)
    assert(k == Similarity.KcenterK)
    val fixed = Similarity.e2Kcenter(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val loop = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(loop.toSeq == fixed.toSeq, "trained loop diverged from the declared trajectory")
    // with a reachable target, the loop stops early and the stopping rule
    // holds: every emitted cover_sim is below the target
    val (df2, k2) = Similarity.kcenterTrained(spark, TestSpark.sf0001,
      tauSim = 0.0, maxK = 64)
    assert(k2 < 64, "coverage target never reached — fixture unexpectedly diverse")
    val sims = df2.collect().flatMap(r =>
      if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    // strict: the stopping rule now compares the 4-dp ROUNDED sim (the
    // same grid the emitted cover_sim lives on), so "all emitted < tau"
    // holds with no epsilon slack
    assert(sims.forall(_ < 0.0))
  }

  /** kcenterPicks on both paths, with doubles compared by bits (NaN
    * equal to NaN, -0.0 distinct from 0.0). */
  private def bothKcenterPaths(emb: org.apache.spark.sql.DataFrame, maxK: Int,
      stop: Double => Boolean): Vector[(Long, Long, Option[Double])] = {
    def bits(p: Vector[(Long, Long, Option[Double])]) =
      p.map { case (k, id, ms) => (k, id, ms.map(java.lang.Double.doubleToLongBits)) }
    val drv = Similarity.kcenterPicks(emb, maxK, stop, Loop.DriverBytes)
    val dist = Similarity.kcenterPicks(emb, maxK, stop, Loop.ForceDistributed)
    assert(bits(drv) == bits(dist), s"driver $drv vs distributed $dist")
    drv
  }

  test("k-center: the driver finish walks the distributed trajectory on the fixture") {
    val emb = graft.Tables.embeddings(spark, TestSpark.sf0001)
    val fixed = bothKcenterPaths(emb, Similarity.KcenterK, _ => false)
    assert(fixed.length == Similarity.KcenterK)
    val covered = bothKcenterPaths(emb, 64, _ >= 0.0)
    assert(covered.length < 64 && covered.flatMap(_._3).forall(v =>
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP) < 0))
  }

  test("k-center on both paths: ties on ms, NaN and null similarities") {
    import spark.implicits._
    // 10/11 and 20/21 are identical vectors, so their ms tie every round
    // (and 10, 11, 20, 21, 50 all sit at similarity 0 from 30); 40 carries
    // a NaN component, so its similarities are NaN (the largest double);
    // 60 has no embedding, so its ms is null (first in the pick order)
    val emb = Seq[(Long, Array[Float])](
      (10L, Array(1f, 0f, 0f)), (11L, Array(1f, 0f, 0f)),
      (20L, Array(0f, 1f, 0f)), (21L, Array(0f, 1f, 0f)),
      (30L, Array(0f, 0f, 1f)), (40L, Array(Float.NaN, 1f, 0f)),
      (50L, Array(1f, 1f, 0f)), (60L, null)).toDF("vec_id", "embedding")
    val picks = bothKcenterPaths(emb, 8, _ => false)
    // seed 50 (smallest mix64 key); 60's null ms goes first; 30 is at 0;
    // 10/20 then 11/21 tie at 1/√2 and at 1.0 and break on vec_id; NaN last
    assert(picks.map(_._2) == Seq(50L, 60L, 30L, 10L, 20L, 11L, 21L, 40L))
    assert(picks(1)._3.isEmpty && picks(2)._3.contains(0.0))
    assert(picks(3)._3 == picks(4)._3 && picks(5)._3.contains(1.0) &&
      picks(6)._3.contains(1.0), s"ties: $picks")
    assert(picks.last._3.exists(_.isNaN))
  }

  test("k-center on both paths: a ragged vector's similarities are null") {
    import spark.implicits._
    val emb = Seq[(Long, Array[Float])](
      (1L, Array(1f, 0f, 0f)), (2L, Array(0f, 1f, 0f)), (3L, Array(1f, 0f)),
      (4L, Array(0f, 0f, 1f))).toDF("vec_id", "embedding")
    val picks = bothKcenterPaths(emb, 4, _ => false)
    assert(picks.map(_._2).sorted == Seq(1L, 2L, 3L, 4L))
    assert(picks.find(_._2 == 3L).get._3.isEmpty, s"ragged ms: $picks")
  }

  test("k-center driver order and fold follow Spark on nulls, NaN and -0.0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, greatest}
    val vals = Seq(None, Some(-0.0), Some(0.0), Some(Double.NaN), Some(1.0), Some(-1.0))
    val pairs = for (a <- vals; b <- vals) yield (a, b)
    val sparkMax = pairs.toDF("a", "b").select(greatest(col("a"), col("b")))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    def bits(o: Option[Double]) = o.map(java.lang.Double.doubleToLongBits)
    pairs.zip(sparkMax).foreach { case ((a, b), m) =>
      assert(bits(Similarity.kcenterFold(a, b)) == bits(m), s"greatest($a, $b)")
    }
    // ids run against the value order, so a tie is visible as id order
    val rows = vals.zipWithIndex.map { case (v, i) => (v, (10 - i).toLong) } ++
      Seq((Some(0.0), 1L), (Some(-0.0), 0L), (Some(Double.NaN), 2L))
    val sparkOrder = rows.toDF("ms", "vec_id").orderBy("ms", "vec_id")
      .collect().map(_.getLong(1)).toSeq
    assert(rows.sorted(Similarity.kcenterOrder).map(_._2) == sparkOrder)
  }

  test("e2_triplet_mining: leg labels, margin arithmetic, and anchor uniqueness") {
    val labels = graft.Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.e2TripletMining(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).distinct.length == rows.length, "one triplet per anchor")
    rows.foreach { case (a, p, ps, n, ns, m) =>
      assert(labels(p) == labels(a), s"positive leg crossed labels for $a")
      assert(labels(n) != labels(a), s"negative leg stayed in-label for $a")
      assert(m == math.round(ps * 10000) - math.round(ns * 10000),
        s"margin arithmetic broke for $a")
      assert(p != a && n != a)
    }
    // the mining signal is real on the fixture: both hard (margin <= 0)
    // and easy (margin > 0) triplets exist
    assert(rows.exists(_._6 <= 0), "no hard triplets — fixture too easy")
    assert(rows.exists(_._6 > 0), "no easy triplets — fixture degenerate")
  }

  test("e8_gini: histogram form equals the per-doc sorted-rank Gini, bounds hold") {
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).length.toLong))
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val xs = ds.map(_._2).sorted
      val n = xs.length.toLong
      val tot = xs.sum
      val rw = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      val g = BigDecimal((2 * rw - (n + 1) * tot).toDouble / (n * tot))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      src -> ((n, tot, g))
    }
    val got = Analysis.e8Gini(spark, TestSpark.sf0001).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == expect)
    // Gini of a non-negative distribution lives in [0, 1)
    assert(got.values.forall(v => v._3 >= 0.0 && v._3 < 1.0))
  }

  test("e2_pq_distortion: ADC-consistency — per-subspace MSE is the mean of the coded distances") {
    val rows = Similarity.e2PqDistortion(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // one row per subspace, all vectors covered, mse re-derives from the
    // exact integer sum
    assert(rows.map(_._1).toSeq == rows.map(_._1).toSeq.sorted)
    val n = graft.Tables.embeddings(spark, TestSpark.sf0001).count()
    rows.foreach { case (_, cnt, sse, mse) =>
      assert(cnt == n)
      val exp = BigDecimal(sse.toDouble / (cnt * 1000000.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(mse - exp) < 1e-9)
      assert(sse >= 0L)
    }
  }
}
