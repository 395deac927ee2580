#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion with the noop sink (full pipeline runs,
nothing materializes on the driver) — the honest way to time Spark plans.
The whole query list runs six times and the fastest time per query is
reported: round 1 pays one-time JIT/codegen compilation, later rounds are
the steady-state throughput a resident engine actually delivers. The
repeats are INTERLEAVED (full list per round, not back-to-back per query)
so a multi-second host contention burst lands on different queries in
different rounds instead of eating all of one query's repeats — measured
to cut round-over-round noise on this host from ~3x spikes to <1.3x.
Six rounds, not four: a per-query 8-run probe on the two cross-round
oscillators (dedup_ngram_jaccard 6.36/1.83/1.07/0.82/0.82/0.77/0.79/0.68,
ann_bruteforce_topk similar) shows the JIT/codegen tail still descending
through run ~5 — min-of-4 sampled the descent, which is what made those
queries look bimodal across rounds. Input data is NOT cached between
rounds — every run scans parquet.

Residual dedup_ngram_jaccard caveat (diagnosed r4): ISOLATED 8-run probes
reach 0.81 s, but interleaved with the other queries its min landed
anywhere in 0.9-1.7 s. The cause was first read as the shingle code losing
its JIT profile to neighboring queries; most of it was Spark's
generated-class cache: 100 entries against the ~830 classes a round
compiled, so the neighbors evicted the query's classes between visits and
each visit compiled them again, cold to the JIT. session.py now sizes the
cache and no class of it is compiled again after round 1 (each row of
BENCH_LAST.json records `codegen_compiles` and `codegen_ms` of its best
run). What remains is the JIT warming those classes, which interleaved
visits reach more slowly than consecutive runs (see PIN_BACKTOBACK). The
plan is pinned; the committed round-1 anchor (1.64 s) is what the
cross-round gate uses.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from chainhouse_spark.queries import QUERIES  # noqa: E402
from chainhouse_spark.session import build_spark, codegen_compiles  # noqa: E402

# Headline set: the scan/join/agg core + window + every LLM-pipeline family
# (dedup, similarity, text analysis, multimodal decode).
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "join_fact_fact",
    "window_topn_per_group",
    "agg_rollup",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "embedding_near_pairs",
    "text_quality_scores",
    "mm_image_features",
    "mm_frame_sample",
    "funnel_depth_histogram",
    "retention_weekly",
    "topk_heavy_hitters",
    "stat_corr_regression",
    "ts_ohlc_bars",
    "text_chunk_words",
    # Round-7 additions (VERDICT r06 task 4): one heavy per round-6 family
    # so statistics/graph/timeseries/experimentation regressions show up in
    # BENCH_r*.json. audience_rfm_segments and search_hybrid_rrf exercise
    # operators/ranking.py (distributed exact rank) under timing.
    "stat_bootstrap_se",
    "graph_kcore_peel",
    "ts_m4_downsample",
    "audience_rfm_segments",
    "search_hybrid_rrf",
    # Round-9 additions: the two heaviest new shapes — the brand-partition
    # modularity (edge materialization + membership joins; the DISK_ONLY
    # checkpoint under timing) and the Hurst R/S pipeline (distributed
    # row-number + partitioned chunk windows + decimal reductions).
    "graph_modularity",
    "ts_hurst_rs",
    # Round-10 additions: the three heaviest new shapes — the anchor-join +
    # diagonal-island contamination span pipeline, its per-source rate
    # composition (adds the doc-side join-back), and the streaming Bloom
    # probe (file-source stream + packed-bitset forall under timing).
    "contamination_span_report",
    "contamination_rate_by_source",
    "stream_decontaminate_bloom",
    # Round-11 additions: the semantic (embedding-space) dedup report —
    # cell-blocked cosine pairs + connected components under timing — and
    # the planner-driven LSH executor (plan aggregation + collect + banded
    # bucket expansion in one query).
    "semantic_dedup_cells",
    "dedup_minhash_lsh_planned",
    # Round-12 additions: the two heaviest semantic-decontamination shapes
    # — the per-source leak rate (cell-blocked train x eval cosine pairs +
    # eval-spine rollup) and the dual-flag agreement report (span-anchor
    # pipeline AND cosine pipeline in one plan).
    "contamination_semantic_cells",
    "contamination_lexical_vs_semantic",
]

RUNS_PER_QUERY = 6

# Queries whose interleaved minimum stays above the minimum of consecutive
# runs: after the interleaved rounds they get EXTRA_BACKTOBACK consecutive
# runs, whose minimum is the steady state of a resident engine running the
# query repeatedly (VERDICT r04 task 8, r11 task 5). Measured at sf0.1 on
# 4 cores, interleaved vs consecutive minimum:
# - with Spark's 100-entry codegen cache, each interleaved visit compiled
#   the query's classes again (20 for dedup_ngram_jaccard, 55 for
#   dedup_minhash_lsh_planned), consecutive runs none: 1.860 vs 1.046 s
#   and 3.253 vs 2.543 s;
# - with the cache sized (session.py) no class is compiled after round 1
#   and the gap left is JIT warm-up: 0.932 vs 0.837 s and 2.111 vs 1.792 s.
PIN_BACKTOBACK = ["dedup_ngram_jaccard", "dedup_minhash_lsh_planned"]
EXTRA_BACKTOBACK = 4


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    loadavg = round(os.getloadavg()[0], 2)  # capture conditions at launch
    spark = build_spark(app_name="chainhouse-bench")

    # Warm the JVM/codegen paths so query 1 isn't charged for startup.
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    timings: dict[str, float] = {name: float("inf") for name in BENCH_QUERIES}
    # Classes compiled (cache misses) and their compile ms in each query's
    # best run.
    compiles: dict[str, tuple[int, float]] = {}

    def run(name: str) -> None:
        c0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        c1 = codegen_compiles(spark)
        if dt < timings[name]:
            timings[name] = dt
            compiles[name] = (c1[0] - c0[0], c1[1] - c0[1])

    for _ in range(RUNS_PER_QUERY):
        for name in BENCH_QUERIES:
            run(name)
    for name in PIN_BACKTOBACK:
        for _ in range(EXTRA_BACKTOBACK):
            run(name)
    timings = {name: round(t, 3) for name, t in timings.items()}

    total = round(sum(timings.values()), 3)
    # Floors for the lossless per-row block (same file the stderr gate
    # uses): name, wall, floor, ratio per headline query + the launch
    # loadavg — VERDICT r10 task 2: BENCH_r10's driver artifact truncated
    # the human-readable tail and lost 5 of 33 rows, so the machine record
    # must live in the ONE parsed JSON line itself.
    floors = _load_reference(sf)
    rows = [
        {
            "name": name,
            "wall": t,
            "floor": floors.get(name),
            "ratio": round(t / floors[name], 3) if floors.get(name) else None,
            "codegen_compiles": compiles[name][0],
            "codegen_ms": round(compiles[name][1], 1),
        }
        for name, t in timings.items()
    ]
    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "loadavg": loadavg,
    }
    # Lossless copy in the repo root (the artifact of record even if a
    # capture harness truncates its copy) — per-row floors/ratios live
    # HERE, not on the stdout line: the driver's tail capture is ~2000
    # chars and the full rows block pushed BENCH_r11's line to 3.9k,
    # front-truncating it (VERDICT r11 task 2). Floors are static in the
    # committed BENCH_STEADYSTATE.json; this file is committed per round,
    # so round wall + floor + ratio stay recoverable from git alone.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_LAST.json"), "w") as f:
        json.dump({**payload, "rows": rows}, f, indent=1)
        f.write("\n")
    # stderr report BEFORE the stdout JSON line, both flushed: a combined
    # stdout+stderr capture then ends with the JSON line, so a
    # last-line-parse harness recovers the full record (BENCH_r02–r10 all
    # had "parsed": null because the report landed after the JSON line;
    # BENCH_r11 because the line itself outgrew the capture window).
    _report_vs_baseline(timings, total, sf)
    sys.stderr.flush()
    line = json.dumps(payload, separators=(",", ":"))
    assert len(line) < 1900, f"stdout JSON line {len(line)} chars; driver tail is ~2000"
    print(line, flush=True)
    spark.stop()


def _load_reference(sf: str) -> dict[str, float]:
    """Per-query floors from BENCH_STEADYSTATE.json (fall back to
    BENCH_BASELINE.json), empty if none or sf mismatch."""
    here = os.path.dirname(os.path.abspath(__file__))
    for fname in ("BENCH_STEADYSTATE.json", "BENCH_BASELINE.json"):
        path = os.path.join(here, fname)
        if os.path.exists(path):
            with open(path) as f:
                base = json.load(f)
            if str(base.get("sf")) == str(float(sf)):
                return dict(base["queries"])
            # sf mismatch: fall through to the next reference file.
    return {}


def _report_vs_baseline(timings: dict[str, float], total: float, sf: str) -> None:
    """Regression gate on stderr — stdout stays the one-JSON-line driver
    contract. Two reference files:
      - BENCH_BASELINE.json: the ROUND-1 committed numbers, never refreshed
        (the reference publishes no benchmark figures — see BASELINE.md —
        so the round-1 single-node run is the number to match-or-beat and
        the denominator every round's total is judged against);
      - BENCH_STEADYSTATE.json: best-observed 9-run minima, refreshed when
        code actually improves — the NOISE-AWARE per-query gate, preferred
        for the >1.5x flag because minima don't inherit one round's host
        contention."""
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "BENCH_STEADYSTATE.json")
    if not os.path.exists(path):
        path = os.path.join(here, "BENCH_BASELINE.json")
    if not os.path.exists(path):
        return
    base = json.load(open(path))
    if str(base.get("sf")) != str(float(sf)):
        print(f"[bench] baseline is sf={base.get('sf')}, run is sf={sf}; skipping diff",
              file=sys.stderr)
        return
    bq = base["queries"]
    print(f"[bench] vs {os.path.basename(path)} "
          f"(total {total:.3f}s / {base['value']:.3f}s = "
          f"{total / base['value']:.2f}x)", file=sys.stderr)
    regressions = 0
    for name, t in timings.items():
        b = bq.get(name)
        if b is None:
            print(f"[bench]   {name:28s} {t:7.3f}s  (new; no baseline)", file=sys.stderr)
            continue
        ratio = t / b if b else float("inf")
        flag = "  << REGRESSION" if ratio > 1.5 else ""
        regressions += ratio > 1.5
        print(f"[bench]   {name:28s} {t:7.3f}s  base {b:7.3f}s  {ratio:5.2f}x{flag}",
              file=sys.stderr)
    if regressions:
        print(f"[bench] {regressions} quer{'y' if regressions == 1 else 'ies'} regressed >1.5x",
              file=sys.stderr)


if __name__ == "__main__":
    main()
