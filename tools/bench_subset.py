"""Time a subset of bench queries with bench.py's exact methodology —
noop sink, N interleaved rounds, min per query, with the classes compiled
in each query's best run — for before/after comparisons while optimizing.
NOT the driver contract (that stays bench.py); this is the
development-loop instrument.

    python tools/bench_subset.py [--sf DIR] [--runs N] name [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=6)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from chainhouse_spark.queries import QUERIES  # noqa: E402
    from chainhouse_spark.session import build_spark, codegen_compiles  # noqa: E402

    spark = build_spark(app_name="bench-subset")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    timings = {n: float("inf") for n in args.names}
    walls: dict[str, list[float]] = {n: [] for n in args.names}
    compiles: dict[str, tuple[int, float]] = {}  # in each query's best run
    for _ in range(args.runs):
        for name in args.names:
            spark.sparkContext.setJobDescription(f"bench_subset:{name}")
            c0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            QUERIES[name](spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            c1 = codegen_compiles(spark)
            walls[name].append(round(dt, 3))
            if dt < timings[name]:
                timings[name] = dt
                compiles[name] = (c1[0] - c0[0], c1[1] - c0[1])
    spark.sparkContext.setJobDescription(None)
    for name in args.names:
        n, ms = compiles[name]
        print(
            f"{name:36s} min={timings[name]:7.3f}  codegen_compiles={n}"
            f"  codegen_ms={ms:.1f}  runs={walls[name]}",
            flush=True,
        )
    print(json.dumps({n: round(t, 3) for n, t in timings.items()}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
