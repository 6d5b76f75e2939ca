"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": N}.

Each query is fully materialized (collect) — results are small aggregates;
wall time measures scan + shuffle + agg, not driver transfer.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Queries whose BENCH numbers drifted with ambient load (VERDICT r03
#: next #2, r04 next #2 — e2_lsh_topk drifted upward two rounds running;
#: q1/q5/e3_text_quality showed sub-second load-noise drifts in r04):
#: min-of-5 instead of min-of-3 — more chances to land between noise
#: spikes on the shared VM.
NOISY = {"e1_minhash_near_dup", "e1_minhash_near_dup_xxh",
         "f7_identifier_extract", "e2_lsh_topk", "q1_pricing_summary",
         "q5_regional_revenue", "e3_text_quality",
         # round 12: sub-second serving probe — min-of-5 keeps the
         # headline row readable under shared-VM noise
         "x1_linker_served"}

#: FROZEN round-1 headline set (VERDICT r05 next #6): the 12 queries
#: benched since round 1. BENCH_r{N} carries ``headline_v1_total``
#: over exactly this set so round-over-round totals compare without
#: recomputation, while ``headline_all_total`` (== ``value``) grows
#: as new heavy operators join HEADLINE. Do not edit this list.
HEADLINE_V1 = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "j2_mode_vote",
    "a6_first_writer_wins",
    "w1_running_sum",
    "e1_minhash_near_dup",
    "e2_cosine_topk",
    "e2_lsh_topk",
    "e3_text_quality",
    "e6_sessionize",
    "f7_identifier_extract",
]

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "j2_mode_vote",
    "a6_first_writer_wins",
    "w1_running_sum",
    # EXT headliners: dedup, similarity (exact + LSH), text, streaming,
    # and the 15-regex identifier sweep.
    "e1_minhash_near_dup",
    "e1_minhash_near_dup_xxh",  # xxhash64 production kernel (r02)
    "e2_cosine_topk",
    "e2_lsh_topk",
    "e3_text_quality",
    "e6_sessionize",
    "f7_identifier_extract",
    # round 3: the realistic end-to-end corpus-cleaning cost (MinHash
    # candidate pairs → component fixpoint → canonical → Gopher filters)
    "pipeline_clean_corpus",
    # round 4: the Structured-Streaming face of sessionize (readStream →
    # availableNow → memory sink), timed as its own entry
    "e6_sessionize_stream",
    # round 5: the new heavy text operators (each a full corpus pass)
    "e1_intradoc_dedup",
    "e3_charlm",
    # round 5 late: cross-document substring dedup (gram-stats shuffle
    # + co-partitioned occurrence join — the heaviest dedup shape)
    "e1_crossdoc_dedup",
    # round 5 late: lexical retrieval + tokenizer-training + word-LM costs
    "e3_bm25_topk",
    "e3_unigram_tokens",
    "e3_wordlm",
    # round 6 late: DSIR curation (two corpus feature passes + model
    # joins), the cross-doc boilerplate strip (sentence doc-freq +
    # reassembly), and the third tokenizer family's serving pass
    "e5_dsir_weights",
    "e1_boilerplate_strip",
    "e3_wordpiece_apply",
    # round 6 late (second wave): the 9-way n-gram repetition sweep
    # (one explode for n=2..10 — the widest single gram shuffle),
    # Kneser-Ney scoring (three model-dim joins), and the composed ER
    # pipeline (blocked JW kernel + CC fixpoint)
    "e3_gopher_rep",
    # xxhash64 gram keys: gram TEXT never shuffles. Local[32] shuffles
    # at memory speed, so the measured win here is small (~6%); the
    # byte saving is the cluster story, and benching both keeps the
    # honest comparison on record.
    "e3_gopher_rep_hash",
    "e3_kn_ppl",
    "er_resolve",
    # round 6 late (second wave): the composed FineWeb/Dolma curation
    # chain — C4 line rules -> PII scrub -> Gopher rules -> exact dedup
    "pipeline_curate_corpus",
    # round 8 (VERDICT r07 next #3/#4): the distributed suffix array
    # at an sf-proportional slice (benched under the operator's name
    # via ALIAS — the registry's e1_suffix_array row is a fixed-size
    # correctness fixture), and the TF-IDF linker at corpus scale with
    # the max_df stop-gram cut off/on
    "e1_suffix_array",
    "x1_linker_corpus",
    "x1_linker_corpus_maxdf",
    # round 9: the linker's SERVING face — the ontology fit persisted
    # once per session (the first timed run pays the build; the bench
    # warm-up absorbs it), probes prune to the mention grams' buckets.
    # Timed against the inline fit above: what amortization buys.
    "x1_linker_indexed",
    # round 12 (VERDICT r11 next #1): the champion-list probe on its
    # OWN shape — a ~200-mention serving batch, prune_buckets=True,
    # champions auto-ON; certified fraction instrumented into the
    # JSON via a separate probe_stats call after the timing loop.
    "x1_linker_served",
    # round 8 late: the distributed Lloyd fit (3 iterations over the
    # full embeddings table — two bounded-key shuffles per iteration)
    "e2_kmeans",
    # round 15 (VERDICT r14 next #5): basket co-occurrence + lift —
    # already in the sf1 slope table since r14, now timed at sf0.1 too
    # so its slope row prints a ratio like every other row
    "e6_cooccurrence",
]

#: Name→registry aliases. "e6_sessionize" has ALWAYS benched the batch
#: session_window kernel; in round 4 the registry entry of that name
#: became the readStream face (driver correctness), so the bench keeps
#: comparability by timing the batch twin under the historical name and
#: the streaming face under the new explicit name above.
ALIAS = {
    "e6_sessionize": "e6_sessionize_batch",
    "e6_sessionize_stream": "e6_sessionize",
    # BENCH carries the operator's name; the registry's own
    # e1_suffix_array row is a fixed-size correctness fixture, while
    # the benched form is the sf-proportional slice (VERDICT r07 #3)
    "e1_suffix_array": "e1_suffix_array_bench",
}

#: Pinned reference calibration (VERDICT r07 next #5): BENCH_r05's
#: calibration_sec — the last driver run at sane ambient load
#: (loadavg 3.7). ``headline_v1_total_calibrated`` = headline_v1_total
#: × (REF_CALIBRATION / this run's calibration_sec), i.e. the headline
#: normalized to r05-equivalent environment speed, so round-over-round
#: deltas attribute to CODE, not shared-VM load (r06/r07 both ran at
#: loadavg ≥7.6 and their raw deltas were unreadable). Do not re-pin.
REF_CALIBRATION = 0.084

#: Top of the healthy per-job scheduling-latency band measured on this
#: box (round 14: healthy probes read 10-30 ms; the drifted rounds
#: read 66-130 ms while scan throughput stayed flat). The drift
#: section triggers above 2× this.
HEALTHY_JOB_LATENCY_MS = 30.0


def _prev_round_bench() -> tuple[int, dict] | None:
    """(round N, per-query seconds) from the highest-numbered
    driver-recorded ``BENCH_r{N}.json`` next to this file — the
    round-over-round comparison base the drift section adjudicates
    against."""
    root = os.path.dirname(os.path.abspath(__file__))
    best, data = None, None
    for p in os.listdir(root):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", p)
        if not m:
            continue
        n = int(m.group(1))
        if best is None or n > best:
            try:
                with open(os.path.join(root, p)) as fd:
                    d = json.load(fd)
            except (OSError, ValueError):
                continue
            best, data = n, d
    if data is None:
        return None
    # the driver wraps the compact stdout line under "parsed"
    # (alongside n/rc/tail); a locally-written detail file carries
    # "queries" at top level — accept both
    if "queries" not in data and isinstance(data.get("parsed"), dict):
        data = data["parsed"]
    return best, data.get("queries", {}) or {}


#: Child script for the pinned-worktree A/B: runs the named queries
#: from the PREVIOUS round's commit in its own process + SparkSession
#: (same protocol as the headline loop: one warmup, min-of-3, cache
#: release between queries) and prints one JSON line {name: sec}.
_DRIFT_AB_SCRIPT = """
import json, os, sys, time
sys.path.insert(0, os.getcwd())
import __spark_entry__ as em
from drugbankner_spark.session import get_spark
from drugbankner_spark.caching import release_shared_caches

spark = get_spark(app_name="drugbankner-drift-ab")
qs = em.all_queries()
names = json.loads(os.environ["SPARK_GRAFT_DRIFT_NAMES"])
alias = json.loads(os.environ["SPARK_GRAFT_DRIFT_ALIAS"])
sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
out = {}
for name in names:
    fn = qs.get(alias.get(name, name))
    if fn is None:
        continue
    fn(spark, sf_dir).toPandas()  # warmup (codegen + page cache)
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        fn(spark, sf_dir).toPandas()
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    release_shared_caches()
    out[name] = round(best, 3)
print("DRIFT_AB_JSON:" + json.dumps(out))
"""


def _pinned_worktree_ab(names: list, sf_dir: str) -> dict | None:
    """Re-time ``names`` on the previous round's commit (the one that
    recorded the highest ``BENCH_r{N}.json``) in a pinned git
    worktree, in a separate process with its own SparkSession — the
    paired measurement round 14 did by hand (VERDICT r14 next #4).
    Returns {name: sec} or None when the A/B is unavailable (no git,
    artifact untracked, child failed) — callers fall back to
    min-of-N re-timing on HEAD."""
    import subprocess

    root = os.path.dirname(os.path.abspath(__file__))
    prev = _prev_round_bench()
    if prev is None:
        return None
    try:
        commit = subprocess.run(
            ["git", "-C", root, "log", "-n1", "--format=%H", "--",
             f"BENCH_r{prev[0]}.json"],
            capture_output=True, text=True, timeout=60, check=True,
        ).stdout.strip()
        if not commit:
            return None
        wt = f"/tmp/spark_graft_drift_{commit[:12]}"
        if not os.path.exists(wt):
            subprocess.run(
                ["git", "-C", root, "worktree", "add", "--detach",
                 wt, commit],
                capture_output=True, text=True, timeout=120,
                check=True,
            )
        env = dict(
            os.environ,
            SPARK_GRAFT_DRIFT_NAMES=json.dumps(names),
            SPARK_GRAFT_DRIFT_ALIAS=json.dumps(ALIAS),
            SPARK_GRAFT_SF_DIR=sf_dir,
        )
        child = subprocess.run(
            [sys.executable, "-"], input=_DRIFT_AB_SCRIPT,
            capture_output=True, text=True, timeout=1800, cwd=wt,
            env=env,
        )
        for ln in child.stdout.splitlines():
            if ln.startswith("DRIFT_AB_JSON:"):
                return json.loads(ln[len("DRIFT_AB_JSON:"):])
        return None
    except Exception:
        return None


def _drift_section(spark, qs, sf_dir: str, timings: dict, job_lat) -> dict:
    """Automated drift adjudication (VERDICT r14 next #4 — round 14
    proved a +23% raw total was ambient by hand-running the previous
    commit in a worktree; this makes that proof a bench feature).
    When the per-job latency probe exceeds 2× the healthy band, the
    3 worst-drifted queries vs the last driver-recorded round are
    re-timed ON THE PREVIOUS ROUND'S COMMIT in a pinned worktree: if
    the unmodified old code drifts the same way NOW, the drift is
    ambient, not a code regression. Falls back to min-of-5 re-timing
    on HEAD when the worktree A/B is unavailable. Empty (triggered:
    false) on a quiet box."""
    out: dict = {
        "job_latency_ms": job_lat,
        "healthy_max_ms": HEALTHY_JOB_LATENCY_MS,
        "triggered": False,
        "queries": {},
    }
    if job_lat is None or job_lat <= 2 * HEALTHY_JOB_LATENCY_MS:
        return out
    prev = _prev_round_bench()
    if prev is None:
        out["note"] = "latency elevated but no BENCH_r{N}.json to compare"
        return out
    n_prev, prev_q = prev
    out["triggered"] = True
    out["vs_round"] = n_prev
    ratios = []
    for name, sec in timings.items():
        p = prev_q.get(name)
        # sub-200ms rows are pure scheduling noise at elevated latency
        if p and p >= 0.2 and sec > p:
            ratios.append((sec / p, name, sec, p))
    ratios.sort(reverse=True)
    worst = [r for r in ratios[:3] if r[0] >= 1.25]
    if not worst:
        out["note"] = "latency elevated but no query drifted >=25%"
        return out
    ab = _pinned_worktree_ab([w[1] for w in worst], sf_dir)
    for ratio, name, sec, p in worst:
        entry = {
            "head_sec": sec,
            "prev_recorded_sec": p,
            "ratio": round(ratio, 2),
        }
        prev_sec = (ab or {}).get(name)
        if prev_sec is not None:
            entry["prev_commit_sec"] = prev_sec
            prev_ratio = prev_sec / p
            entry["prev_commit_ratio"] = round(prev_ratio, 2)
            # the unmodified old code drifting ~as far now = ambient
            entry["verdict"] = (
                "ambient" if prev_ratio >= 0.7 * ratio
                else "code-suspect"
            )
        else:
            # fallback when no worktree A/B: min-of-5 re-time on HEAD
            # — more chances to land between noise spikes; within 25%
            # of the recorded number reads as ambient scheduling noise
            fn = qs.get(ALIAS.get(name, name))
            if fn is not None:
                from drugbankner_spark.caching import (
                    release_shared_caches,
                )

                best = None
                for _ in range(5):
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).toPandas()
                    el = time.perf_counter() - t0
                    best = el if best is None else min(best, el)
                release_shared_caches()
                entry["head_retimed_min5_sec"] = round(best, 3)
                entry["verdict"] = (
                    "ambient" if best <= p * 1.25
                    else "unresolved (no worktree A/B)"
                )
        out["queries"][name] = entry
        print(f"# drift {name}: {entry}", file=sys.stderr)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    from drugbankner_spark.session import get_spark
    import __spark_entry__ as entrymod

    # UI on for bench only: the sf3 section reads per-stage shuffle
    # sizes from the REST status API (the engine itself never needs it)
    spark = get_spark(
        app_name="drugbankner-bench",
        extra_conf={"spark.ui.enabled": "true"},
    )
    # Silence WindowExec's single-partition warning for THIS bench
    # process only (VERDICT r12 what's-wrong #4): every unpartitioned
    # window in the engine is a known bounded-dim form, pinned by
    # tests/test_plans.py::test_unpartitioned_window_inventory — the
    # warning here is noise that buries the bench tail; the inventory
    # test is what would catch a REAL corpus-scale one.
    try:
        jvm = spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # log4j API drift — warnings reappear, nothing breaks
    # all_queries: the round-1 headline list is timed unchanged even
    # though some entries left the driver registry in the round-2
    # consolidation (BENCH_r{N} stays comparable round-over-round).
    qs = entrymod.all_queries()
    # Warm the JVM/parquet footers with a trivial action (not counted).
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    def q(name):
        return qs.get(ALIAS.get(name, name))

    # Serving-index fit, timed as its OWN line (VERDICT r09 next #3):
    # a deployment pays save_alias_index once at publish time; the
    # x1_linker_indexed entries below time the PROBE only.
    t0 = time.perf_counter()
    entrymod._ensure_alias_index(spark, sf_dir)
    linker_fit_sec = round(time.perf_counter() - t0, 3)
    print(f"# x1_linker_index_fit: {linker_fit_sec}s", file=sys.stderr)

    # Warmup pass: JIT/codegen + OS page cache; not measured.
    for name in HEADLINE:
        if q(name) is not None:
            q(name)(spark, sf_dir).toPandas()

    # Load guard (VERDICT r03 next #2): record ambient machine load and a
    # fixed-cost CALIBRATION measurement so round-over-round comparisons
    # can tell engine regressions from shared-VM noise — BENCH_r03's
    # uniform +25-30% drift vs r02 had no such evidence in the JSON.
    load_before = os.getloadavg()
    calib = _calibration(spark, sf_dir)
    job_lat = _job_latency_ms(spark)

    # min-of-N measured runs per query (N=5 for the noise-prone entries,
    # 3 otherwise): the environment (shared VM, JIT re-compilation
    # stalls) shows order-of-magnitude noise spikes; the minimum is the
    # honest estimate of the query's cost.
    from drugbankner_spark.caching import release_shared_caches

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = q(name)
        if fn is None:
            continue
        best, n = None, 0
        for _ in range(5 if name in NOISY else 3):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = len(df.toPandas())  # Arrow-batched materialization
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr)
        # drop this query's shared-subtree caches before the next one
        # (ADVICE r04) — repeat runs of the SAME query keep them, as
        # every prior round's bench did, so timings stay comparable
        release_shared_caches()

    # Serving-probe instrumentation (VERDICT r11 next #1a): one extra
    # un-timed run of the champion probe with probe_stats to record the
    # certified-mention fraction — the number that says whether the
    # certificate machinery actually fires on this fixture.
    serving_stats: dict = {}
    try:
        fn = q("x1_linker_served")
        if fn is not None:
            from drugbankner_spark.operators.linker import (
                link_with_alias_index,
            )

            mentions = entrymod._serving_batch_mentions(spark, sf_dir)
            link_with_alias_index(
                spark, entrymod._ensure_alias_index(spark, sf_dir),
                mentions, "mention", threshold=0.6, k=1,
                probe_stats=serving_stats,
            ).toPandas()
            release_shared_caches()
            print(f"# x1_linker_served stats: {serving_stats}",
                  file=sys.stderr)
    except Exception as exc:  # pragma: no cover
        serving_stats = {"error": f"{type(exc).__name__}: {exc}"}

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        # frozen round-1 12-query total (round-comparable forever) vs
        # the growing full-list total — VERDICT r05 next #6
        "headline_v1_total": round(
            sum(timings.get(n, 0.0) for n in HEADLINE_V1), 3
        ),
        "headline_v1_total_calibrated": round(
            sum(timings.get(n, 0.0) for n in HEADLINE_V1)
            * (REF_CALIBRATION / calib if calib else 1.0), 3
        ),
        "headline_all_total": total,
        # round 14: the growing all-queries total gets the same
        # environment normalization the v1 total has had since r07 —
        # r13 vs r14 raw totals differed mostly by ambient loadavg
        # (4.1 vs 9.8) and the attribution argument had to detour
        # through the v1 subset
        "headline_all_total_calibrated": round(
            total * (REF_CALIBRATION / calib if calib else 1.0), 3
        ),
        "queries": timings,
        "sf": sf,
        "loadavg_1m": round(load_before[0], 2),
        "loadavg_after_1m": round(os.getloadavg()[0], 2),
        "calibration_sec": calib,
        "job_latency_ms": job_lat,
        "x1_linker_index_fit_sec": linker_fit_sec,
        "x1_linker_served_stats": serving_stats,
    }
    # automated drift adjudication (VERDICT r14 next #4): on an
    # elevated-latency box, re-time the worst-drifted queries on the
    # previous round's commit in a pinned worktree and name the
    # verdict per query; empty on a quiet box
    # sf-gated like the sf1 section: the BENCH_r{N} baselines are
    # driver-recorded at sf0.1, so ratios at any other sf are
    # apples-to-oranges
    if os.environ.get("SPARK_GRAFT_DRIFT", "1") == "1" and sf == 0.1:
        try:
            result["drift"] = _drift_section(
                spark, qs, sf_dir, timings, job_lat
            )
        except Exception as exc:  # pragma: no cover
            result["drift"] = {"error": f"{type(exc).__name__}: {exc}"}
    # skew demonstration + sf1 scaling rehearsal (VERDICT r04 next #6/#7);
    # separate sections so the headline total stays round-comparable.
    # Failure-proofed: a broken section records its error instead of
    # costing the whole JSON line.
    if os.environ.get("SPARK_GRAFT_SKEW", "1") == "1":
        try:
            result["skew"] = _skew_section(spark, sf_dir)
        except Exception as exc:  # pragma: no cover
            result["skew"] = {"error": f"{type(exc).__name__}: {exc}"}
    # stream-state compaction read-cost pair (VERDICT r13 next #6):
    # the "read cost bounded after compaction" claim, timed with
    # row-count evidence — merge-on-read over 200 epochs vs the
    # compacted base for both the HLL (max-merge) and CM (sum) faces.
    if os.environ.get("SPARK_GRAFT_COMPACT", "1") == "1":
        try:
            result["compaction"] = _compaction_section(spark)
        except Exception as exc:  # pragma: no cover
            result["compaction"] = {
                "error": f"{type(exc).__name__}: {exc}"}
    if os.environ.get("SPARK_GRAFT_SF1", "1") == "1" and sf == 0.1:
        try:
            result["sf1"] = _sf1_section(spark, sf_dir, qs, timings)
        except Exception as exc:  # pragma: no cover
            result["sf1"] = {"error": f"{type(exc).__name__}: {exc}"}
        # sf3 (30× sf0.1) on the heaviest text ops — slope vs sf1 plus
        # peak per-stage shuffle write (VERDICT r05 next #7)
        if (os.environ.get("SPARK_GRAFT_SF3", "1") == "1"
                and "error" not in result["sf1"]):
            try:
                result["sf3"] = _sf3_section(spark, qs, result["sf1"])
            except Exception as exc:  # pragma: no cover
                result["sf3"] = {"error": f"{type(exc).__name__}: {exc}"}
    # Output contract (VERDICT r06 next #1, r11 next #2): the driver
    # keeps only a 2,000-char tail of COMBINED stdout+stderr. r11's
    # full detail JSON on stderr (printed just before the compact
    # line) was itself >2,000 chars, so the tail started mid-JSON and
    # cut exactly the fit/sf1 evidence the round needed. Fix: the full
    # detail object goes to a committed FILE (BENCH_LOCAL_<tag>.json,
    # tag from $SPARK_GRAFT_BENCH_TAG, default "latest"), stderr gets
    # nothing bulky after the last per-query line, and stdout carries
    # exactly ONE compact headline line LAST — with the
    # round-adjudication numbers (index fit sec, serving certified
    # fraction, sf1 linker secs) folded in compactly.
    tag = os.environ.get("SPARK_GRAFT_BENCH_TAG", "latest")
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"BENCH_LOCAL_{tag}.json",
    )
    try:
        with open(detail_path, "w") as fd:
            json.dump(result, fd, indent=1)
        print(f"# full detail -> {detail_path}", file=sys.stderr)
    except OSError as exc:  # pragma: no cover — read-only checkout
        print(f"# detail write failed: {exc}", file=sys.stderr)
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "headline_v1_total": result["headline_v1_total"],
        "headline_v1_total_calibrated": result["headline_v1_total_calibrated"],
        "headline_all_total": result["headline_all_total"],
        "headline_all_total_calibrated":
            result["headline_all_total_calibrated"],
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": sf,
        "loadavg_1m": result["loadavg_1m"],
        "loadavg_after_1m": result["loadavg_after_1m"],
        "calibration_sec": calib,
        "job_latency_ms": job_lat,
        "fit_sec": linker_fit_sec,
        # VERDICT r13 #4 (cosmetic): below the champion auto-gate the
        # probe serves the flat pruned join and there IS no certified
        # fraction — say so explicitly instead of a null the compact
        # line's consumer reads as a missing number.
        "served_certified": (
            "flat-gated"
            if serving_stats.get("used_champions") is False
            else serving_stats.get("certified_fraction")
        ),
    }
    # Drift verdicts: the r15 per-query verdict map lengthened the
    # line enough to fire the top-25 truncation and hide a third of
    # the per-query timings from the driver (VERDICT r15 what's-wrong
    # #2). The full adjudication (seconds + verdicts) lives in the
    # detail file; the line keeps only the count of code-suspect
    # queries — zero-length when nothing drifted.
    dr = result.get("drift", {})
    if dr.get("triggered"):
        n_sus = sum(
            1 for e in dr.get("queries", {}).values()
            if e.get("verdict") == "code-suspect"
        )
        compact["drift"] = {
            "n_suspect": n_sus, "vs_round": dr.get("vs_round")
        }
    skew_d = result.get("skew", {})
    if "window_plain_max_task_rows" in skew_d:
        compact["window_skew"] = {
            "plain_sec": skew_d.get("window_plain_topk_sec"),
            "sharded_sec": skew_d.get("window_sharded_topk_sec"),
            "plain_max_task_rows": skew_d["window_plain_max_task_rows"],
            "sharded_max_task_rows":
                skew_d.get("window_sharded_max_task_rows"),
        }
        if "fww_agg_sec" in skew_d:
            compact["fww_skew"] = {
                "window_sec": skew_d.get("fww_window_sec"),
                "agg_sec": skew_d.get("fww_agg_sec"),
                "window_max_task_rows":
                    skew_d.get("fww_window_max_task_rows"),
                "agg_est_max_task_rows":
                    skew_d.get("fww_agg_est_max_task_rows"),
            }
    sf1_q = result.get("sf1", {}).get("queries", {})
    if sf1_q:
        compact["sf1_linker"] = {
            k.replace("x1_linker_", ""): v.get("sec")
            for k, v in sf1_q.items() if k.startswith("x1_linker_")
        }
        compact["sf1_linker"]["fit"] = result["sf1"].get(
            "x1_linker_index_fit_sec"
        )
        compact["sf1_linker"]["served_certified"] = result["sf1"].get(
            "x1_linker_served_stats", {}
        ).get("certified_fraction")
    # compaction read-cost pair: the r13-r15 full rows+seconds block
    # (~270 chars) helped push the line over the truncation limit
    # (VERDICT r15 what's-wrong #2). The line now carries only the
    # equality verdicts + read speedups; rows and raw seconds stay in
    # the detail file.
    cd = result.get("compaction", {})
    if "hll_raw_rows" in cd:
        def _x(raw, compacted):
            try:
                return round(cd[raw] / cd[compacted], 1)
            except (KeyError, TypeError, ZeroDivisionError):
                return None
        compact["compaction"] = {
            "ok": bool(cd.get("hll_reads_equal"))
            and bool(cd.get("cm_reads_equal")),
            "hll_read_x": _x("hll_raw_read_sec", "hll_compacted_read_sec"),
            "cm_read_x": _x("cm_raw_read_sec", "cm_compacted_read_sec"),
        }
    line = json.dumps(compact, separators=(",", ":"))
    # belt-and-braces: never regrow past the driver's 2,000-char
    # combined tail (stdout line + the ~60-char stderr detail-path
    # line before it). Raised 1500 → 1800 in round 14 when the
    # compaction pair joined the line. Round 16: the drift and
    # compaction sections were compacted (see above) exactly so this
    # backstop stays dormant — with all ~36 queries at 1 dp the line
    # measures ~1.65k chars; the truncation firing again would hide
    # per-query timings from PERF comparison (VERDICT r15 #2).
    if len(line) > 1800:
        compact["queries"] = {k: round(v, 1)
                              for k, v in sorted(
                                  timings.items(), key=lambda kv: -kv[1]
                              )[:25]}
        compact["queries_truncated_to_top25"] = True
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


def _skew_section(spark, sf_dir: str) -> dict:
    """Zipfian-name join demonstration (SURVEY hard-part #4 — J2's
    name-frequency skew; VERDICT r04 next #6): one hot name ('protein')
    covers HALF the 600k-row fact; the dim carries 5001 names.
    Broadcast is disabled to model the at-scale case where the dim
    can't broadcast, then three strategies run the same join+agg:
    plain sort-merge (AQE skew off), AQE skew-join (thresholds lowered
    so the rule fires at bench scale), and scale.salted_join. The
    decision logic that picks between them is
    scale.recommended_join_strategy (tested in tests/test_scale.py);
    its verdicts on this exact profile are recorded alongside."""
    from pyspark.sql import functions as F

    from drugbankner_spark.operators.scale import (
        key_skew_profile,
        recommended_join_strategy,
        salted_join,
    )

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    fact = li.select(
        F.when(F.col("l_orderkey") % 2 == 0, F.lit("protein"))
        .otherwise(F.concat(F.lit("name-"),
                            (F.col("l_orderkey") % 5000).cast("string")))
        .alias("name"),
        "l_quantity",
    )
    dim = spark.range(5000).select(
        F.concat(F.lit("name-"), F.col("id").cast("string")).alias("name"),
        F.col("id").alias("cluster_id"),
    ).unionByName(spark.createDataFrame(
        [("protein", 999_999)], "name string, cluster_id long"
    ))

    def run(df) -> float:
        t0 = time.perf_counter()
        df.groupBy("cluster_id").agg(
            F.count(F.lit(1)), F.sum("l_quantity")
        ).collect()
        return time.perf_counter() - t0

    conf = spark.conf
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    ]
    saved = {k: conf.get(k, None) for k in keys}
    out: dict = {}
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        out["plain_smj_sec"] = round(
            min(run(fact.join(dim, "name")) for _ in range(2)), 3)
        out["salted_sec"] = round(
            min(run(salted_join(fact, dim, "name", salt_buckets=8))
                for _ in range(2)), 3)
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "1m")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
        out["aqe_skew_sec"] = round(
            min(run(fact.join(dim, "name")) for _ in range(2)), 3)
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    # window-skew companion (round 12): the same hot key as a GROUP —
    # per-name top-10 by quantity. AQE's skew rule cannot split a
    # window partition, so the plain form ranks the hot name's 300k
    # rows in ONE task; scale.sharded_topk is the structural fix the
    # round-12 rankings (ANN top-k, chi-square, cluster draws) run on.
    # Read the two metrics together: local[32] shares one memory bus,
    # so 16 parallel shard sorts cost the same wall-clock as one
    # hot-task sort (measured up to 77M rows: plain 9.6 s vs sharded
    # 10.4 s — BOTH track total bytes, the skew is invisible) and the
    # seconds mostly price the sharded form's constant extra pass.
    # The *_max_task_rows pair is the scale-relevant evidence: the
    # biggest window task's input, i.e. what ONE core of ONE executor
    # must sort alone while the rest of a 1000-node cluster waits —
    # plain carries the whole hot group, sharded is bounded by
    # total/parallelism regardless of key skew.
    from pyspark.sql import Window

    from drugbankner_spark.operators.scale import fact_salt_expr, sharded_topk

    wfact = li.select(
        F.when(F.col("l_orderkey") % 2 == 0, F.lit("protein"))
        .otherwise(F.concat(F.lit("name-"),
                            (F.col("l_orderkey") % 5000).cast("string")))
        .alias("name"),
        "l_quantity",
        F.col("l_orderkey").alias("uid"),
    )
    order = [F.desc("l_quantity"), F.asc("uid")]

    def run_topk(df) -> float:
        t0 = time.perf_counter()
        df.groupBy("name").agg(F.count(F.lit(1))).collect()
        return time.perf_counter() - t0

    w = Window.partitionBy("name").orderBy(*order)
    plain_topk = (
        wfact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
    )
    out["window_plain_topk_sec"] = round(
        min(run_topk(plain_topk) for _ in range(2)), 3)
    out["window_sharded_topk_sec"] = round(
        min(run_topk(sharded_topk(wfact, ["name"], order, 10))
            for _ in range(2)), 3)

    # largest window-task input under each form: rows landing in the
    # fullest shuffle partition of the window exchange (hash layout
    # identical to Exchange hashpartitioning: pmod(murmur3, P))
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def max_task_rows(df, cols) -> int:
        return (
            df.groupBy(
                F.pmod(F.hash(*[F.col(c) for c in cols]),
                       F.lit(n_shuffle)).alias("_p"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .agg(F.max("_n")).first()[0]
        )

    out["window_plain_max_task_rows"] = max_task_rows(wfact, ["name"])
    out["window_sharded_max_task_rows"] = max_task_rows(
        wfact.withColumn("_shard", fact_salt_expr(16)), ["name", "_shard"])

    # first_writer_wins window-vs-agg pair (round 13, VERDICT r12
    # next #6): the A6 via="agg" face is min_by — MAP-SIDE COMBINABLE,
    # so the hot key reduces on every input partition BEFORE the one
    # exchange; the window form funnels the hot key's full row set
    # through one task. Same reading discipline as the topk pair:
    # local[32] wall-clock prices total bytes (expect ~parity); the
    # max-task-rows pair is the 1000-node evidence — the agg's
    # post-combine exchange carries at most (input partitions x
    # distinct keys) rows, measured here against the window's
    # hot-group row count.
    from drugbankner_spark.operators.relational import first_writer_wins

    def run_fww(via: str) -> float:
        t0 = time.perf_counter()
        first_writer_wins(
            wfact, ["name"], ["l_quantity", "uid"], via=via
        ).groupBy().agg(F.count(F.lit(1))).collect()
        return time.perf_counter() - t0

    out["fww_window_sec"] = round(min(run_fww("window") for _ in range(2)), 3)
    out["fww_agg_sec"] = round(min(run_fww("agg") for _ in range(2)), 3)
    out["fww_window_max_task_rows"] = out["window_plain_max_task_rows"]
    # the agg exchange carries one row per (map partition, key) after
    # the partial min_by; MODEL the fullest reducer's input under the
    # static pmod(hash, P) layout. "est_" because it is a model, not a
    # task metric read from the executed agg (ADVICE r13: AQE
    # coalescing/skew handling can make the real reducer input differ
    # — the window/topk pairs above model the same layout, but theirs
    # IS the exchange input; this one is post-partial-combine).
    out["fww_agg_est_max_task_rows"] = (
        wfact.groupBy(F.spark_partition_id().alias("_mp"), "name")
        .agg(F.count(F.lit(1)))
        .groupBy(F.pmod(F.hash("name"), F.lit(n_shuffle)).alias("_p"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.max("_n")).first()[0]
    )

    prof = key_skew_profile(fact, "name", top_n=5)
    top = prof.collect()[0]
    out["hot_key"] = top["name"]
    out["hot_key_share"] = float(top["share"])
    out["decision_big_dim"] = recommended_join_strategy(
        prof, dim_rows=50_000_000)
    out["decision_small_dim"] = recommended_join_strategy(prof, dim_rows=5_001)
    return out


def _compaction_section(spark) -> dict:
    """Stream-state compaction read-cost pair (VERDICT r13 next #6):
    200 epochs of synthetic HLL register partials (64 groups × 2^8
    registers) and CM sketch partials (4×4096 cells) — one dir read
    raw (merge-on-read over every epoch) and a twin compacted to
    base + 2 recent epochs — timed side by side with the live row
    counts each read actually scans. The fixture is marker-gated (one
    build, reused across rounds) and the section asserts the two
    reads AGREE before timing, so the numbers can't drift from a
    broken fold."""
    import time as _time

    from pyspark.sql import functions as F

    from drugbankner_spark.operators.sketches import (
        _live_epoch_filter,
        compact_cm_state,
        compact_hll_state,
        read_cm_sketch,
        read_hll_distinct,
    )

    root = "/tmp/spark_graft_compact_bench"
    marker = os.path.join(root, "_FIXTURE_OK_V1")
    n_epochs, n_groups, m = 200, 64, 256
    cm_depth, cm_width = 4, 4096
    dirs = {k: os.path.join(root, k) for k in
            ("hll_raw", "hll_compacted", "cm_raw", "cm_compacted")}
    if not os.path.exists(marker):
        os.makedirs(root, exist_ok=True)
        rest = F.floor(F.col("id") / n_epochs)
        hll = spark.range(n_epochs * n_groups * m).select(
            F.concat(F.lit("g"), F.pmod(rest, n_groups).cast("int"))
            .alias("grp"),
            F.floor(rest / n_groups).cast("int").alias("reg_idx"),
            (F.pmod(F.xxhash64("id"), 20) + 1).cast("int")
            .alias("reg_max"),
            F.lit(8).cast("int").alias("_b_bits"),
            F.pmod(F.col("id"), n_epochs).cast("int").alias("_epoch"),
        )
        cm = spark.range(n_epochs * cm_depth * cm_width).select(
            F.pmod(rest, cm_depth).cast("int").alias("row"),
            F.floor(rest / cm_depth).cast("int").alias("pos"),
            (F.pmod(F.xxhash64("id"), 100) + 1).cast("long")
            .alias("cnt"),
            F.pmod(F.col("id"), n_epochs).cast("int").alias("_epoch"),
        )
        for df, raw, compacted in ((hll, "hll_raw", "hll_compacted"),
                                   (cm, "cm_raw", "cm_compacted")):
            for d in (raw, compacted):
                df.repartition(32, "_epoch").write.mode("overwrite") \
                    .partitionBy("_epoch").parquet(dirs[d])
        compact_hll_state(spark, dirs["hll_compacted"], n_epochs - 3,
                          ["grp"], b_bits=8)
        compact_cm_state(spark, dirs["cm_compacted"], n_epochs - 3)
        with open(marker, "w") as fd:
            fd.write("ok")

    out: dict = {"epochs": n_epochs}

    def pair(tag, reader, raw, compacted):
        a = sorted(map(tuple, reader(dirs[raw]).collect()))
        b = sorted(map(tuple, reader(dirs[compacted]).collect()))
        out[f"{tag}_reads_equal"] = a == b
        if a != b:
            # the docstring's promise, enforced (round-14 review
            # finding): a broken fold must fail the section loudly,
            # not publish timings next to a buried false flag
            raise ValueError(
                f"compaction bench: {tag} merge-on-read and compacted "
                "reads DISAGREE — fold is broken, timings withheld"
            )
        for side in (raw, compacted):
            rows = (
                spark.read.parquet(dirs[side])
                .filter(_live_epoch_filter(spark, dirs[side]))
                .count()
            )
            best = None
            for _ in range(2):
                t0 = _time.perf_counter()
                reader(dirs[side]).collect()
                el = _time.perf_counter() - t0
                best = el if best is None else min(best, el)
            out[f"{side}_rows"] = rows
            out[f"{side}_read_sec"] = round(best, 3)

    pair("hll", lambda d: read_hll_distinct(spark, d, ["grp"], 8),
         "hll_raw", "hll_compacted")
    pair("cm", lambda d: read_cm_sketch(spark, d), "cm_raw",
         "cm_compacted")
    return out


#: sf1 rehearsal set: the 5 heaviest operators (VERDICT r04 next #7)
#: plus the round-5 heavy text ops.
SF1_QUERIES = [
    "pipeline_clean_corpus",
    "e1_minhash_near_dup",
    "e2_lsh_topk",
    "f7_identifier_extract",
    "e6_sessionize",
    "e1_intradoc_dedup",
    "e3_charlm",
    # round 5 late: tokenizer training + word-LM scoring at 10×
    "e3_unigram_tokens",
    "e3_wordlm",
    # round 6 late: DSIR's double corpus feature pass + the WordPiece
    # serving pass at 10×
    "e5_dsir_weights",
    "e3_wordpiece_apply",
    # round 6 late (second wave): the 9-way gram sweep (HASH kernel —
    # VERDICT r06 next #4: the production form is what scales; the text
    # form stays in the headline + parity suite for the honest oracle
    # comparison), KN scoring, span corruption, and the composed
    # curation chain at 10×
    "e3_gopher_rep_hash",
    "e3_kn_ppl",
    "e5_span_corrupt",
    "pipeline_curate_corpus",
    # round 8: the SA slice slope (rows 10x, round count ~constant —
    # the log-depth story) and the linker's ontology-scaling slope
    # (mention slice pinned to replica 0; alias dim grows 10x)
    "e1_suffix_array",
    "x1_linker_corpus_maxdf",
    # round 9: the serving-face probe at 10x aliases — the slope the
    # amortized index turns the inline fit's ~7x into
    "x1_linker_indexed",
    # round 12: the champion serving probe at 10x aliases — the shape
    # where bucket pruning + bounded champion lists should hold the
    # probe ~flat as the ontology grows
    "x1_linker_served",
    # round 8 late: the Lloyd fit at 10x vectors (per-iteration rows
    # scale linearly; the centroid dim stays k x dim)
    "e2_kmeans",
    # round 14: three families with no sf1 slope row yet — basket
    # co-occurrence + lift (events-scaled pair structure; the g_*
    # entries were considered and rejected: they share the bounded
    # 97-node synthetic graph, so their slope says nothing), the
    # brute-force cosine baseline (query x corpus scoring at 10x
    # vectors — the exact path the ANN indexes are measured against),
    # and the cross-document substring dedup (gram-stats shuffle +
    # co-partitioned occurrence join, the heaviest dedup shape in the
    # headline set)
    "e6_cooccurrence",
    "e2_cosine_topk",
    "e1_crossdoc_dedup",
]


def _ensure_sf1(spark, sf01_dir: str) -> str:
    """Materialize a 10× corpus from sf0.1 under /tmp (the harness ships
    no sf1): documents/embeddings/events replicated ×10 with shifted
    ids. Each replica's NON-stopword tokens are rewritten to
    replica_letter + token[:-1] — token lengths, stopword tokens, and
    the digit ratio are preserved (so Gopher quality filters behave
    identically to the original corpus; the first prefix scheme silently
    failed every doc and made pipeline_clean_corpus emit 0 rows), while
    every shingle containing a non-stopword token becomes
    replica-unique — each replica is an independent corpus with the
    original's duplicate structure, keeping true outputs ~10×
    (clone-identical replicas would make near-dup PAIRS grow ~100× by
    construction and fake a superlinear slope)."""
    from pyspark.sql import functions as F

    from drugbankner_spark.operators.textanalysis import STOPWORDS

    out = "/tmp/spark_graft_sf1"
    marker = os.path.join(out, "_ALL_TABLES_OK_V2")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    docs = spark.read.parquet(os.path.join(sf01_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf01_dir, "embeddings.parquet"))
    ev = spark.read.parquet(os.path.join(sf01_dir, "events.parquet"))

    def replicas(df, build):
        parts = [build(df, i) for i in range(10)]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u

    sw_list = sorted({w for lang in STOPWORDS.values() for w in lang})
    sw_sql = ",".join(f"'{w}'" for w in sw_list)

    def perturb(i: int):
        letter = chr(ord("a") + i)
        return F.expr(
            "array_join(transform(split(text, ' '), t -> "
            f"CASE WHEN lower(t) IN ({sw_sql}) THEN t "
            f"ELSE concat('{letter}', substring(t, 1, "
            "greatest(length(t) - 1, 0))) END), ' ')"
        )

    replicas(docs, lambda d, i: d.select(
        (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
        perturb(i).alias("text"),
        "lang", "source",
    ).withColumn("n_chars", F.length("text"))).write.mode(
        "overwrite").parquet(os.path.join(out, "documents.parquet"))
    replicas(emb, lambda d, i: d.select(
        (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
        "embedding", "label",
    )).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet"))
    replicas(ev, lambda d, i: d.select(
        (F.col("event_id") + i * 1_000_000_000).alias("event_id"),
        "ts",
        (F.col("user_id") + i * 1_000_000).alias("user_id"),
        "event_type", "value", "props",
    )).write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))
    with open(marker, "w") as fd:
        fd.write("ok")
    return out


def _sf1_section(spark, sf01_dir: str, qs, sf01_timings: dict) -> dict:
    """Time the 5 heaviest operators at 10× sf0.1 and record each slope
    (sec_sf1 / sec_sf0.1) — the one-datapoint scaling rehearsal. ~10-12×
    is linear-with-overhead; anything well beyond needs a named fix."""
    from drugbankner_spark.caching import release_shared_caches

    sf1_dir = _ensure_sf1(spark, sf01_dir)
    # fixed-cost reference at sf1 (documents scan + hash agg): divides
    # out end-of-bench environment drift the same way calibration_sec
    # does for the headline section
    from pyspark.sql import functions as F

    docs1 = spark.read.parquet(os.path.join(sf1_dir, "documents.parquet"))
    calib = None
    for _ in range(3):
        t0 = time.perf_counter()
        docs1.agg(F.count(F.lit(1)), F.avg(F.length("text"))).collect()
        el = time.perf_counter() - t0
        calib = el if calib is None else min(calib, el)
    # sf1 serving-index fit, outside the probe timings (VERDICT r09 #3)
    import __spark_entry__ as entrymod

    t0 = time.perf_counter()
    entrymod._ensure_alias_index(spark, sf1_dir)
    fit_sec = round(time.perf_counter() - t0, 3)
    from drugbankner_spark.operators import linker as L

    queries: dict = {}
    pin_auto: dict = {}
    for name in SF1_QUERIES:
        fn = qs.get(ALIAS.get(name, name))
        if fn is None:
            continue
        # one untimed warmup (codegen/JIT + shared-subtree persist
        # population), then min-of-2 — the same steady-state protocol
        # the headline section uses; BENCH_r05's first cut timed the
        # cold run and read a fake 15.8x slope on pipeline_clean_corpus
        # (warm re-measure: ~4x)
        n = len(fn(spark, sf1_dir).toPandas())
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            n = len(fn(spark, sf1_dir).toPandas())
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
        release_shared_caches()
        entry = {"sec": round(best, 3), "rows": n}
        base = sf01_timings.get(name)
        if base:
            entry["slope_vs_sf0_1"] = round(best / base, 1)
        queries[name] = entry
        print(f"# sf1 {name}: {entry}", file=sys.stderr)
        if name == "x1_linker_corpus_maxdf":
            # snapshot the auto gate's decision before a later linker
            # query overwrites the instrumentation dict
            pin_auto["auto_sec"] = entry["sec"]
            pin_auto["auto_decision"] = dict(L.LAST_PIN_DECISION)
    # serving-probe instrumentation at 10x aliases — the regime where
    # the n_aliases auto-gate turns the champion machinery ON; the
    # certified fraction here is the number VERDICT r11 #1a asked for
    serving_stats: dict = {}
    try:
        from drugbankner_spark.operators.linker import (
            link_with_alias_index,
        )

        link_with_alias_index(
            spark, entrymod._ensure_alias_index(spark, sf1_dir),
            entrymod._serving_batch_mentions(spark, sf1_dir),
            "mention", threshold=0.6, k=1, probe_stats=serving_stats,
        ).toPandas()
        release_shared_caches()
        print(f"# sf1 x1_linker_served stats: {serving_stats}",
              file=sys.stderr)
    except Exception as exc:  # pragma: no cover
        serving_stats = {"error": f"{type(exc).__name__}: {exc}"}
    return {"dir": sf1_dir, "data_scale_vs_sf0_1": 10,
            "calibration_sec": round(calib, 3),
            "x1_linker_index_fit_sec": fit_sec,
            "x1_linker_served_stats": serving_stats,
            "linker_pin_auto": pin_auto,
            "queries": queries}


#: sf3 set: the heaviest sf1 entries (VERDICT r05 next #7) — all
#: documents-table-only, so the sf3 corpus needs just that table.
#: Round 6 late adds the 9-way gram sweep (the new heaviest); round 7
#: benches its HASH kernel (VERDICT r06 next #4) — grams shuffle as
#: (xxhash64, length), never text, halving the peak-stage shuffle.
SF3_QUERIES = ["e3_charlm", "e3_wordlm", "e1_intradoc_dedup",
               "e3_gopher_rep_hash",
               # round 8: the SA slice at 30x the bench SF — rows grow
               # 30x, round count stays ~log(longest repeated prefix)
               "e1_suffix_array"]


def _stage_shuffle_snapshot(spark) -> dict:
    """{(stageId, attemptId): shuffle_write_bytes} from the REST status
    API — the per-stage metric the Spark UI shows, machine-readable."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        data = json.loads(r.read())
    return {
        (d["stageId"], d["attemptId"]): int(d.get("shuffleWriteBytes", 0))
        for d in data
    }


def _ensure_sf3(spark, sf1_dir: str) -> str:
    """3× the sf1 documents table (30× sf0.1) under /tmp — replicas
    re-perturbed with fresh letters so each is corpus-distinct (same
    rationale as _ensure_sf1's scheme: clone replicas would inflate
    intra-/cross-doc duplicate structure superlinearly by
    construction)."""
    from pyspark.sql import functions as F

    from drugbankner_spark.operators.textanalysis import STOPWORDS

    out = "/tmp/spark_graft_sf3"
    marker = os.path.join(out, "_DOCS_OK_V1")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    docs = spark.read.parquet(os.path.join(sf1_dir, "documents.parquet"))
    sw_list = sorted({w for lang in STOPWORDS.values() for w in lang})
    sw_sql = ",".join(f"'{w}'" for w in sw_list)

    def perturb(i: int):
        letter = chr(ord("k") + i)
        return F.expr(
            "array_join(transform(split(text, ' '), t -> "
            f"CASE WHEN lower(t) IN ({sw_sql}) THEN t "
            f"ELSE concat('{letter}', substring(t, 1, "
            "greatest(length(t) - 1, 0))) END), ' ')"
        )

    parts = [
        docs.select(
            (F.col("doc_id") + i * 1_000_000_000).alias("doc_id"),
            perturb(i).alias("text"),
            "lang", "source",
        ).withColumn("n_chars", F.length("text"))
        for i in range(3)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    with open(marker, "w") as fd:
        fd.write("ok")
    return out


def _sf3_section(spark, qs, sf1_result: dict) -> dict:
    """Time SF3_QUERIES at 3× sf1 (30× the bench SF): slope vs the sf1
    measurement (linear ≈ 3.0) plus the PEAK per-stage shuffle write
    during the timed run — the number that tells whether a 100×
    scale-up hits a single-stage shuffle wall."""
    from drugbankner_spark.caching import release_shared_caches

    sf3_dir = _ensure_sf3(spark, sf1_result["dir"])
    queries: dict = {}
    for name in SF3_QUERIES:
        fn = qs.get(ALIAS.get(name, name))
        if fn is None:
            continue
        n = len(fn(spark, sf3_dir).toPandas())  # untimed warmup
        before = _stage_shuffle_snapshot(spark)
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            n = len(fn(spark, sf3_dir).toPandas())
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
        after = _stage_shuffle_snapshot(spark)
        release_shared_caches()
        new_stages = {k: v for k, v in after.items() if k not in before}
        entry = {
            "sec": round(best, 3),
            "rows": n,
            "peak_stage_shuffle_write_bytes": max(
                new_stages.values(), default=0
            ),
        }
        base = sf1_result.get("queries", {}).get(name, {}).get("sec")
        if base:
            entry["slope_vs_sf1"] = round(best / base, 1)
        queries[name] = entry
        print(f"# sf3 {name}: {entry}", file=sys.stderr)
    return {"dir": sf3_dir, "data_scale_vs_sf1": 3,
            "data_scale_vs_bench_sf": 30, "queries": queries}


def _job_latency_ms(spark, n: int = 20) -> float:
    """Median latency of a 1-task no-op job (``spark.range(1).count``)
    — the PER-JOB overhead axis the throughput calibration cannot see
    (round 14): under shared-VM CPU steal, stage-scheduling/IPC
    latency inflates 2-4x while scan+agg throughput stays flat, so
    latency-bound queries (many small stages — the inline linker fit
    at sf0.1 measured 3.4x slower in exactly this mode, reproduced on
    the r13 commit in a side-by-side worktree) drift without any
    calibration_sec movement. A rising ``job_latency_ms`` next to a
    flat ``calibration_sec`` attributes that pattern to the
    environment in one number."""
    lats = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1).count()
        lats.append((time.perf_counter() - t0) * 1000.0)
    lats.sort()
    return round(lats[len(lats) // 2], 1)


def _calibration(spark, sf_dir: str) -> float:
    """Fixed-cost reference measurement (min of 3): a full scan + hash
    agg of the lineitem table. Engine changes never touch this path, so
    round-over-round calibration drift measures ENVIRONMENT drift — if
    BENCH_r{N} calibration is 1.3x BENCH_r{N-1}, a uniform 1.3x on the
    query timings is noise, not regression."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        li.agg(
            F.count(F.lit(1)), F.sum("l_quantity"), F.avg("l_extendedprice")
        ).collect()
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    return round(best, 3)


if __name__ == "__main__":
    main()
