package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Perf-regression gate over the persisted bench runs (VERDICT r8 #2):
  * compares the latest `bench_full.json` (written by `graft.Bench` each
  * driver round) against per-query MEDIANS across all recorded runs in
  * `tools/bench_history.jsonl` (one full-run JSON line per round, appended
  * when a round's run is adjudicated clean). Medians — not last-run
  * values — because this host's documented failure mode is isolated
  * 5-10x scheduler/GC spikes on sub-second queries (BASELINE.md;
  * r8: c_join_inner 6.0s driver vs 0.98s judge re-run, same plan), so a
  * single prior run is too noisy to be a reference.
  *
  * The gate is deliberately loose on singletons and strict on patterns:
  *   - a query is an OUTLIER when it exceeds 3x its median AND is >5s
  *     absolute over it (both conditions, so sub-second jitter never
  *     counts);
  *   - up to 2 outliers pass (observed host-noise spikes come 1-2 per
  *     run); 3+ concurrent outliers have never been noise here and fail;
  *   - the run total must stay under 1.6x the median total (a broad
  *     slowdown shows up here even if no single query trips the 3x bar);
  *   - the query inventory must not shrink and the run must have 0 errors
  *     (catches a declared query silently dropped from or dying in Bench).
  */
class BenchHistorySpec extends AnyFunSuite {

  private val currentPath = Paths.get("bench_full.json")
  private val historyPath = Paths.get("tools/bench_history.jsonl")
  private val mapper = new ObjectMapper()

  // a history entry may be summary-only (the r18 driver artifact lost
  // its per-query map to tail truncation) — contribute nothing, like
  // Bench.historyMedians' own null guard
  private def queryMap(run: JsonNode): Map[String, Double] =
    Option(run.get("queries")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble()).toMap)
      .getOrElse(Map.empty)

  // calib normalization (VERDICT r20 #6, mirrors Bench.historyMedians):
  // scale a run's seconds to the 0.75 s reference host so rounds
  // measured on a slow host neither ratchet the anchor nor read as
  // regressions; runs without a calib probe contribute unscaled
  private def calibScale(run: JsonNode): Double = {
    val c = Option(run.get("calib_sec")).map(_.asDouble()).getOrElse(0.0)
    if (c > 0) graft.Bench.CalibAnchor / c else 1.0
  }

  private def normalizedQueryMap(run: JsonNode): Map[String, Double] = {
    val s = calibScale(run)
    queryMap(run).view.mapValues(_ * s).toMap
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  test("latest bench run holds against the per-query history medians") {
    assume(Files.exists(currentPath), "no bench_full.json on disk yet")
    assume(Files.exists(historyPath), "no recorded history yet")

    val current = mapper.readTree(Files.readString(currentPath))
    val history = Files.readAllLines(historyPath).asScala
      .map(_.trim).filter(_.nonEmpty).map(mapper.readTree).toSeq
    assert(history.nonEmpty, "history file exists but has no runs")

    // both sides calib-normalized: the gate measures code drift on the
    // reference host, not whatever this round's container happened to be
    val cur = normalizedQueryMap(current)
    val histMaps = history.map(normalizedQueryMap)
    val medians = histMaps.flatMap(_.keys).distinct.map { q =>
      q -> median(histMaps.flatMap(_.get(q)))
    }.toMap

    val outliers = cur.toSeq.sortBy(-_._2).collect {
      case (q, t) if medians.contains(q) &&
          t > 3 * medians(q) && t - medians(q) > 5.0 =>
        f"$q: ${t}%.2fs vs median ${medians(q)}%.2fs"
    }
    assert(outliers.size <= 2,
      s"${outliers.size} queries regressed past 3x median + 5s — more than " +
        s"documented host noise ever produces:\n${outliers.mkString("\n")}")

    // broad-slowdown bar over the COMMON subset only — the raw run
    // total grows every round with the query inventory (181 → 196 → …),
    // so comparing it against historical totals would eventually fail
    // on growth alone (the same inventory-growth-proofing the bench's
    // own host-load self-check got in r17)
    val common = cur.keySet.filter(medians.contains)
    val curSum = common.toSeq.map(cur).sum
    val medSum = common.toSeq.map(medians).sum
    assert(curSum <= 1.6 * medSum,
      f"common-subset total $curSum%.1fs exceeds 1.6x the medians'" +
        f" $medSum%.1fs — a broad slowdown, not inventory growth")

    // `errors` is a JSON ARRAY of failed query names (Bench.scala:75);
    // Jackson's asInt() on an array returns 0 unconditionally, so an
    // asInt check would wave through a run full of failures.
    assert(current.get("errors").isArray && current.get("errors").size() == 0,
      s"bench run recorded errors: ${current.get("errors")}")
    val maxHistN = history.map(_.get("n_queries").asInt()).max
    assert(current.get("n_queries").asInt() >= maxHistN,
      s"query inventory shrank: ${current.get("n_queries").asInt()} < $maxHistN")
  }

  test("retryPlan: heals broad contention, leaves clean runs alone") {
    val meds = Map("a" -> 1.0, "b" -> 2.0, "c" -> 4.0)
    // clean run (ratio ~1.0): no retries
    val clean = Seq(("a", 1.1, true), ("b", 1.9, true), ("c", 4.0, true))
    assert(graft.Bench.retryPlan(clean, meds)._2.isEmpty)
    // broad 2x inflation: ratio > 1.25 and every regressed query listed
    val hot = Seq(("a", 2.0, true), ("b", 4.0, true), ("c", 8.0, true))
    val (ratio, retry) = graft.Bench.retryPlan(hot, meds)
    assert(ratio > 1.9 && retry == Set("a", "b", "c"))
    // broad trigger, but an individually-clean query is NOT re-run
    val mixed = Seq(("a", 3.0, true), ("b", 6.0, true), ("c", 4.0, true))
    assert(graft.Bench.retryPlan(mixed, meds)._2 == Set("a", "b"))
    // one isolated spike below the subset-sum trigger: no retries (the
    // existing min-of-2 sampling and the spec's outlier bar own that)
    val spike = Seq(("a", 1.0, true), ("b", 2.0, true), ("c", 5.5, true))
    assert(graft.Bench.retryPlan(spike, meds)._2.isEmpty)
    // failed queries and queries without a median never join the subset
    val partial = Seq(("a", 9.0, false), ("new_q", 9.0, true))
    assert(graft.Bench.retryPlan(partial, meds) == ((0.0, Set.empty)))
    // no history → no anchor → no retries
    assert(graft.Bench.retryPlan(hot, Map.empty) == ((0.0, Set.empty)))
  }

  test("SPARK_GRAFT_BENCH_ONLY entries match exactly, or as a prefix with *") {
    val only = Seq("c_window_frame", "p_text_tf", "t*")
    assert(graft.Bench.selects(only, "c_window_frame"))
    assert(graft.Bench.selects(only, "p_text_tf"))
    assert(!graft.Bench.selects(only, "c_window_frame_exclude"))
    assert(!graft.Bench.selects(only, "p_text_tfidf"))
    assert(graft.Bench.selects(only, "t1_account_summary"))
    assert(graft.Bench.selects(only, "t"))
    assert(!graft.Bench.selects(only, "c_sql_select"))
    assert(graft.Bench.selects(Seq("*"), "anything"))
  }

  test("a SPARK_GRAFT_BENCH_ONLY subset times only the probes it selects") {
    val names = Seq("t1_a", "probe_str", "c_b", "probe_int", "probe_ts_ntz")
    assert(graft.Bench.probesTimed(names, None) ==
      Seq("probe_int", "probe_str", "probe_ts_ntz"))
    assert(graft.Bench.probesTimed(names, Some(Seq("t1_a", "c_b"))).isEmpty)
    assert(graft.Bench.probesTimed(names, Some(Seq("c_b", "probe_str"))) ==
      Seq("probe_str"))
    assert(graft.Bench.probesTimed(names, Some(Seq("probe_*"))) ==
      Seq("probe_int", "probe_str", "probe_ts_ntz"))
  }

  test("historyMedians reads the recorded history, calib-normalized") {
    val meds = graft.Bench.historyMedians(historyPath)
    assume(Files.exists(historyPath), "no recorded history yet")
    assert(meds.nonEmpty && meds.values.forall(_ > 0))
    // the medians agree with this spec's own normalized computation
    val history = Files.readAllLines(historyPath).asScala
      .map(_.trim).filter(_.nonEmpty).map(mapper.readTree).toSeq
    val histMaps = history.map(normalizedQueryMap)
    val q = histMaps.head.keys.head
    assert(math.abs(meds(q) - median(histMaps.flatMap(_.get(q)))) < 1e-12)
    // a calib-carrying line contributes SCALED values: recompute one
    // query's median from raw maps and check it differs whenever any
    // contributing line has calib_sec != the anchor (r19/r20 do)
    val rawMaps = history.map(queryMap)
    val scales = history.map(calibScale)
    if (scales.exists(s => math.abs(s - 1.0) > 0.01)) {
      val affected = history.zipWithIndex.collectFirst {
        case (run, i) if math.abs(scales(i) - 1.0) > 0.01 &&
            queryMap(run).nonEmpty =>
          queryMap(run).keys.head
      }
      affected.foreach { aq =>
        val rawMed = median(rawMaps.flatMap(_.get(aq)))
        // not asserting inequality (an even run count can median-average
        // across scaled/unscaled pairs) — assert the normalized median
        // never exceeds the raw one when every scale is <= 1 (slow hosts)
        if (scales.forall(_ <= 1.0)) assert(meds(aq) <= rawMed + 1e-12)
      }
    }
    // a missing file is an empty anchor, not a throw
    assert(graft.Bench.historyMedians(
      Paths.get("tools/does_not_exist.jsonl")).isEmpty)
  }
}
