package graft
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
object Bench {
  /** Seconds `body` takes, or None when it throws: the error is recorded
    * in `failed` under `name` (first error per query), and a query that
    * fails is never scored as a time. Memo builds forced inside `body`
    * are charged to `name` (MemoLedger attribution). */
  def timed(failed: mutable.Map[String, String], name: String)(body: => Any): Option[Double] = {
    MemoLedger.currentQuery = name
    val t0 = System.nanoTime()
    try { body; Some((System.nanoTime() - t0) / 1e9) }
    catch {
      case NonFatal(e) =>
        if (!failed.contains(name)) failed(name) = s"${e.getClass.getName}: ${e.getMessage}"
        None
    } finally MemoLedger.currentQuery = ""
  }

  /** Query-major timing: per query one unmeasured warm rep, then `reps`
    * measured reps, reported as their median. A query that throws in any
    * rep is left out of the medians and stays in `failed`. */
  def measure(names: Seq[String], reps: Int, failed: mutable.Map[String, String])(
      run1: String => Option[Double]): Seq[(String, Double)] =
    names.flatMap { name =>
      run1(name) // warm
      val ts = (0 until reps).flatMap(_ => run1(name)).sorted
      if (failed.contains(name) || ts.size < reps) None else Some(name -> ts(reps / 2))
    }

  /** The artifact's failure fields: every query that threw, with its
    * error, and how many there were. */
  def failedFields(failed: collection.Map[String, String]): String =
    failed.toSeq.sortBy(_._1)
      .map { case (n, e) => s"${Verify.jsonString(n)}:${Verify.jsonString(e)}" }
      .mkString("\"failed\":{", ",", s"},\"n_failed\":${failed.size},")

  /** Host-calibration anchor (round 12, basket form since round 14):
    * bench totals are only interpretable against the host they ran on —
    * r10→r11 totals moved +47% on structurally identical plans. The
    * single-query form (isolated `e3_lm_score` median) carried the
    * normalization through r12/r13, but round 13 produced two same-code
    * runs whose anchor draws differed 1.35× (0.973 vs 1.318) and whose
    * normalized totals therefore disagreed 1.5× — one noisy draw of one
    * query is too little signal to divide every cross-round claim by.
    *
    * The anchor is now a BASKET: five queries spanning the engine's cost
    * classes — scan (q01_scan_project), hash-shuffle aggregation
    * (e1_exact_dedup), window rank (q17_window_rank), broadcast-join
    * float kernel (e2_cosine_topk), and the CPU/model-memo class the old
    * anchor measured (e3_lm_score). Each is measured at JVM start under
    * the exact isolation protocol (warm rep at the warm dir + the
    * measured dir, then median-of-3) BEFORE the full-run warm loop
    * touches anything else — equal by construction to a fresh-JVM
    * SPARK_GRAFT_ONLY probe. `anchor_s` is the MEDIAN of the five
    * measured/reference ratios (reference = this basket's solo medians
    * on the round-14 host at load_gate PASS, pinned below): a
    * dimensionless host-speed multiplier, ≈1.0 on the reference host,
    * robust to two bad draws. Compare rounds as total/anchor_s; every
    * component median is stamped in the artifact (`anchor_parts`) so a
    * skewed draw is visible instead of silently poisoning the ratio.
    * Pre-r14 artifacts carry the lm-only anchor in SECONDS — put them on
    * this scale as anchor_old / 1.033 (the lm reference below). Skipped
    * when SPARK_GRAFT_ONLY is set (a probe run IS an isolated
    * measurement already).
    *
    * Component change (optimization round 14): the float-kernel slot was
    * `e2_cosine_topk` (ref 0.977), but that query's exact top-3 table was
    * memoized this round (labelExactTop3 — four consumers), so its
    * anchor reps now measure a checkpoint read (~0.12 s), not the host's
    * float kernel — the bench_r14_final artifact shows the dead
    * component's ratio (0.128) correctly absorbed by the median but the
    * slot wasted. Replaced with `e2_embed_outliers`: same cost class
    * (broadcast-seed cosine kernel + rank windows), NOT memo-backed
    * (builds its narrow scored set inline). Reference = median of three
    * fresh-JVM solo sf0.1 medians on the round-14 host at load-gate PASS
    * (0.624 / 0.728 / 0.930). */
  val AnchorBasket: Seq[(String, Double)] = Seq(
    "q01_scan_project" -> 0.152,
    "e1_exact_dedup" -> 0.368,
    "q17_window_rank" -> 0.505,
    "e2_embed_outliers" -> 0.728,
    "e3_lm_score" -> 1.033)

  /** Basket-definition stamp emitted in the artifact (r14 advice): the
    * basket was redefined mid-series in round 14 (e2_cosine_topk slot →
    * e2_embed_outliers after the labelExactTop3 memo killed the old
    * component), so cross-round tooling must know which definition
    * produced `anchor_s`. "b5.2" = 5-query basket, 2nd composition;
    * pre-r14 artifacts carry the lm-only SECONDS anchor (convert via
    * anchor_old / 1.033). Reference provenance: all five refs are
    * medians of three fresh-JVM solo sf0.1 draws on the round-14 host at
    * load-gate PASS; a SECOND independent draw set taken on the round-15
    * host (2026-08-19, same protocol — see OPTIMIZATION_r15.md "Anchor
    * provenance") bounds per-component drift so a future anchor reading
    * ≫1 is attributable to the host, not the pin. */
  val AnchorBasketVersion = "b5.2-r14refs"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional comma-separated filter: measure just these queries in an
    // otherwise-identical harness (fresh JVM, same warmup discipline) —
    // the isolation probe for regressions the full round-robin run can't
    // attribute (shared-cache eviction vs a real plan change).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    // JMH-style warmup: run every query once at the smallest scale factor.
    // Best-effort — it heats the JVM, classloading, and the plan shapes the
    // small scale produces (AQE may still pick different join strategies at
    // the measured scale and compile those inside the measurement). Falls
    // back to the measured dir if the warm dir is absent.
    val warmDir0 = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val warmDir =
      if (new java.io.File(warmDir0).isDirectory) warmDir0
      else { System.err.println(s"[bench] warm dir $warmDir0 missing; warming on $sfDir"); sfDir }
    // Every query that throws, in any rep at any scale: reported in the
    // artifact and the exit status, never timed.
    val failed = mutable.LinkedHashMap.empty[String, String]
    def run1(name: String, dir: String): Option[Double] =
      // Attribution for the memo ledger (round 15, r14-verdict task 6):
      // memo builds forced+timed inside whichever query touches them
      // first — lands in that query's UNMEASURED warm rep, exactly where
      // the lazy build always landed; the timed loop is unchanged.
      timed(failed, name)(SparkEntry.queries(name)(spark, dir).count())
    def readLoad1: Double =
      try java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      catch { case _: Throwable => -1.0 }
    // Load gate (round-12 verdict task 3): BENCH_r12 — the artifact of
    // record — ran at load1 8.81 on 32 cpus, and the co-tenant noise
    // manufactured that round's outlier hunt (five flags that isolated
    // clean). Before touching Spark, wait for the host to go quiet
    // (load1/cpus ≤ MaxLoadRatio, re-polled every 20 s up to LoadWaitS);
    // if it never does, still run — the driver needs an artifact — but
    // stamp load_gate:"FAIL" so the round's numbers are read as
    // noise-class, not regressions. load1_start is the gated reading;
    // the later load1 field (post-anchor, kept for cross-round
    // continuity) includes the bench's own activity.
    val nCpus = Runtime.getRuntime.availableProcessors
    val maxLoadRatio =
      sys.env.getOrElse("SPARK_GRAFT_MAX_LOAD_RATIO", "0.15").toDouble
    val loadWaitS = sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT_S", "300").toInt
    var load1Start = readLoad1
    var waitedS = 0
    while (load1Start >= 0 && load1Start / nCpus > maxLoadRatio
      && waitedS < loadWaitS) {
      System.err.println(f"[bench] load1 $load1Start%.2f / $nCpus cpus > " +
        f"$maxLoadRatio%.2f; waiting (${waitedS}s/${loadWaitS}s)")
      Thread.sleep(20000); waitedS += 20; load1Start = readLoad1
    }
    val loadGate =
      if (load1Start < 0 || load1Start / nCpus <= maxLoadRatio) "PASS"
      else "FAIL"
    // Anchor FIRST (fresh JVM, nothing else warmed) — see AnchorBasket.
    val anchorParts: Seq[(String, Double)] =
      if (only.isDefined) Seq.empty
      else AnchorBasket.flatMap { case (q, _) =>
        run1(q, warmDir) // warm rep at the small scale
        measure(Seq(q), 3, failed)(run1(_, sfDir))
      }
    // a failed component (reported in `failed`) leaves the basket smaller
    val anchorS: Option[Double] =
      if (anchorParts.isEmpty) None
      else {
        val ratios = anchorParts.map { case (q, t) =>
          t / AnchorBasket.toMap.apply(q) }.sorted
        Some(ratios(ratios.size / 2)) // median of 5
      }
    val load1 = readLoad1
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (n, _) => run1(n, warmDir) }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
      catch { case _: Throwable => () }
    }
    // Median-of-3 per query: single-shot numbers vary ±30% run to run
    // (JIT, first-plan codegen, GC) — the round-1 q04a "5.7s outlier" was
    // exactly this (a warm re-run measures ~0.4s). The median is robust to
    // one bad draw while staying cheap; reported totals are sums of
    // per-query medians, so cross-round comparisons are judgeable.
    //
    // Protocol (round 9): QUERY-MAJOR with a per-query UNMEASURED warm rep
    // at the measured scale — warm, then 3 consecutive measured reps, take
    // the median. Two earlier protocols each failed one way:
    //   - 3-consecutive with NO warm rep hands the first rep the
    //     first-plan codegen + memo build (BENCH_r06 read q04a_json_null
    //     at 7.26 s where a warm JVM measures 0.56 s);
    //   - round-robin INTERLEAVE (rep r of every query before rep r+1 of
    //     any) fixed that but broke at 205 queries: the shared
    //     localCheckpoint memos (the dedup pair table and friends) are
    //     evicted by 200+ intervening queries' storage churn, so every
    //     rep of a memo-dependent query re-pays the MinHash chain —
    //     BENCH_r08's per-query mean rose 29% over r07 with ZERO plan
    //     changes, and isolation probes measured the "regressed" queries
    //     BELOW their previous numbers (e3_lm_score 0.99 s isolated vs
    //     2.35 s full-run).
    // The warm rep absorbs BOTH artifacts: it rebuilds any evicted memo
    // and compiles the measured-scale plan, so the 3 measured reps see
    // the same warm state the isolation probe (SPARK_GRAFT_ONLY, fresh
    // JVM) sees — full-run and isolated medians agree by construction,
    // making cross-round deltas attributable to plan changes again.
    // Session aging (JIT/GC drift) is second-order once each query's
    // reps are adjacent: all three draws see the SAME session age.
    val Reps = 3
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val results = measure(named.map(_._1), Reps, failed)(run1(_, sfDir))
    val qs = results.sortBy { case (n, t) => (t, n) }
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val cpus = nCpus
    // Memo-build stamping (round 15, r14-verdict task 6 + advisor note):
    // the warm-rep protocol means shared-memo builds land in NO measured
    // rep, so the artifact carries (a) every memo built at the measured
    // scale dir — real materialization seconds + the query whose warm rep
    // paid it — and (b) the queries whose plans read any memo, so readers
    // of cross-round totals can separate checkpoint-read timings from
    // executed-plan timings. Pure additions to the JSON; the timed loop
    // and the queries map are untouched.
    val memoBuilds = MemoLedger.buildsSnapshot(sfDir)
    val memoFields =
      if (memoBuilds.isEmpty) ""
      else {
        val mb = memoBuilds.toSeq.sortBy(_._1).map { case (n, b) =>
          "\"" + n + "\":{\"sec\":" + f"${b.sec}%.3f" +
            ",\"query\":\"" + b.chargedQuery + "\"}"
        }.mkString("{", ",", "}")
        val backed = MemoLedger.readsSnapshot.values.flatten.toSet.toSeq.sorted
          .map("\"" + _ + "\"").mkString("[", ",", "]")
        s""""memo_builds":$mb,"memo_backed_queries":$backed,"""
      }
    val anchorFields = anchorS
      .map { a =>
        val parts = anchorParts
          .map { case (q, t) => "\"" + q + "\":" + f"$t%.3f" }
          .mkString("{", ",", "}")
        val refs = AnchorBasket
          .map { case (q, r) => "\"" + q + "\":" + f"$r%.3f" }
          .mkString("{", ",", "}")
        f""""anchor_s":$a%.3f,"anchor_kind":"basket5-median-ratio","anchor_basket_version":"$AnchorBasketVersion","anchor_parts":$parts,"anchor_refs":$refs,"""
      }
      .getOrElse("") + memoFields + failedFields(failed) +
      f""""load_gate":"$loadGate","load1_start":$load1Start%.2f,"load_wait_s":$waitedS,"max_load_ratio":$maxLoadRatio%.2f,"""
    // Compact summary: totals + the normalization context, NO per-query
    // dict — short enough that no capture window clips it.
    val summary = f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${named.size},$anchorFields"cpus":$cpus,"load1":$load1%.2f,"sf":"$sfDir","method":"per-query warm rep + median-of-3; divide totals by anchor_s to compare across hosts; full per-query medians in bench_full.json"}"""
    // Emission order (round-12 verdict task 8): the driver's artifact
    // capture has clipped BOTH ends of long output before (BENCH_r10 lost
    // the cheap-query front; BENCH_r11 lost the trailing summary fields),
    // so the structured summary prints as the FIRST line AND again as the
    // LAST line, with the full per-query line between them — a single-
    // sided truncation of any length keeps at least one complete summary.
    // The full line keeps summary fields last and per-query entries sorted
    // by ASCENDING time (a front-truncated capture loses the cheapest,
    // least-signal queries first). Times rounded to 1 ms (noise is
    // ±20-30%; sub-ms digits are line length, and key order is free to a
    // JSON parser).
    val line = s"""{"queries":$qs,"n_queries":${named.size},$anchorFields"cpus":$cpus,"load1":${f"$load1%.2f"},"method":"per-query warm rep + median-of-3 consecutive (query-major); totals vary with host — normalize by anchor_s (median measured/ref ratio of the 5-query isolation basket, anchor_parts), see SURVEY bench notes","metric":"total","value":$total,"unit":"sec","sf":"$sfDir"}"""
    println(summary)
    println(line)
    // Full line also goes to a repo file so every median survives for
    // round-over-round comparison (the driver's capture truncates).
    // Env-overridable so probe runs don't clobber the record.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $outPath failed: ${e.getMessage}") }
    println(summary)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} " +
        s"failed: ${failed.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
