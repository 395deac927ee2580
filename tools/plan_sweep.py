"""Registry-wide physical-plan sweep: every registered query's plan is
checked for the two silent scale-killers — cartesian products and Python
row stages — beyond the per-query pins in tests/test_plans.py.

    python tools/plan_sweep.py [--sf DIR]

Prints one line per violation (query, fact, count) and a summary; exit 1
if any non-whitelisted violation exists. Whitelists name the queries whose
plans are INTENTIONALLY special, each with the reason — additions to these
lists are design decisions, not fixes.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Cartesian/NLJ products that are intentional: either the parity query for
# CROSS JOIN itself, or a broadcast of a tiny side (1-row aggregate totals,
# n_cells centroids, query batches) where Spark plans BroadcastNestedLoop —
# bounded by construction, never |rows| x |rows|.
CARTESIAN_OK = {
    "join_cross",               # the CROSS JOIN parity query
}

# Exchange SinglePartition nodes route EVERY row of their input to one
# task — the plan signature of an unpartitioned window or sort-based global
# aggregate, the round-5 scale audit's finding class. plans/audit.py
# classifies the provably-bounded ones (final aggregate gathers, ranking.py
# __gr_pid / __gr_blk offset windows, post-limit-k sorts) as benign from
# the plan tree itself; everything left is a SUSPECT and must be
# whitelisted here with the reason, or fixed. The map value is the max
# allowed suspect count.
SINGLE_PARTITION_OK: dict[str, int] = {
    # Documented exact-global sort: equi-depth bucket boundaries are a
    # whole-distribution property; the approximate 100 TB path is pinned
    # in the docstring (approx_percentile) and the exact variant is the
    # oracle-parity contract. queries/statistics.py::stat_equidepth_histogram.
    "stat_equidepth_histogram": 1,
    # Domain-bounded window inputs — constant cell counts at ANY data
    # scale, invisible to the plan-tree classifier:
    "stat_chi_square": 1,         # |event_types| x 24 contingency cells
    "stat_benford_audit": 1,      # 9 first-digit rows
    "stat_mutual_information": 1,  # |sources| x |langs| cells
    "ts_interpolate_linear": 1,   # 24-row constant hourly spine
    "window_ignore_nulls": 1,     # o_orderkey < 500: <=499 unique keys ever
    "window_cumulative_distinct_users": 1,  # |weeks| rows (time-range-bounded)
}


def _single_partition_budget(name: str) -> int:
    return SINGLE_PARTITION_OK.get(name, 0)


# Python stages that are intentional: Arrow-batched mapInPandas /
# applyInPandas where JVM expressions cannot express the op (numpy decode,
# BLAS GEMM, per-user merge_asof). Everything else must be JVM-only.
PYTHON_OK = {
    "mm_frame_sample", "mm_image_features", "mm_audio_features",
    "mm_image_resize",          # numpy batch decode (multimodal/ops.py)
    "mm_image_ahash_dedup",     # numpy batch decode -> integer aHash
    "mm_image_phash_dedup",     # numpy batch decode -> fixed-point DCT hash
    "mm_video_scene_cuts",      # numpy batch decode -> integer frame diffs
    "mm_audio_quality",         # numpy batch decode -> clipping/silence runs
    "ann_bruteforce_gemm",      # BLAS matmul per Arrow batch
    "attribution_last_click",   # cogrouped applyInPandas merge_asof
    # Deliberately NOT whitelisted: the eth hex codec queries plan
    # JVM-side (conv/expr, not the pandas UDF) — a Python stage appearing
    # there IS a regression worth seeing.
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    from chainhouse_spark.plans.audit import plan_facts
    from chainhouse_spark.queries import QUERIES
    from chainhouse_spark.session import build_spark

    spark = build_spark(master="local[4]", shuffle_partitions=4)
    bad = 0
    n_cart_ok = n_py_ok = 0
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, args.sf)
        except Exception as e:  # noqa: BLE001 — a build failure is a finding
            print(f"BUILD-FAIL {name}: {type(e).__name__}: {e}")
            bad += 1
            continue
        f = plan_facts(df)
        if f.cartesian_products:
            if name in CARTESIAN_OK:
                n_cart_ok += 1
            else:
                print(f"CARTESIAN {name}: {f.cartesian_products}")
                bad += 1
        if f.python_evals:
            if name in PYTHON_OK:
                n_py_ok += 1
            else:
                print(f"PYTHON {name}: {f.python_evals} stage(s)")
                bad += 1
        if len(f.single_partition_suspects) > _single_partition_budget(name):
            print(
                f"ONETASK {name}: {len(f.single_partition_suspects)} "
                f"suspect single-partition exchange(s) feeding "
                f"{f.single_partition_suspects}, budget "
                f"{_single_partition_budget(name)}"
            )
            bad += 1
    print(
        f"swept {len(QUERIES)} queries: {bad} violations, "
        f"{n_cart_ok} whitelisted cartesians, {n_py_ok} whitelisted python"
    )
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
