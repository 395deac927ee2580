"""Steadiness check: is each end-to-end metric repeatable?

    python3 perfbench/run.py --steady --workload analytics --runs 5 --seconds 18

Runs the workload in two sets of `--runs` runs, each run with its own seed
(set A seeds 1..N, set B seeds N+1..2N), each in a fresh process. For every
end-to-end metric it reports, per set, the median and the spread (distance
between the first and third quartile, `statistics.quantiles(n=4)`, as a
share of the median), whether that spread over both sets is within the
metric's bound in BENCHMARK.json, and whether the two sets' medians differ
by more than the bound, in either direction. Each run also records the
host's 1-minute load average and the CPU steal share over the run, from
/proc, so a noisy set can be told apart from a noisy program. A last,
traced run (`--trace 1`) gives the tracing overhead: its `trace.pass_s`
against the median `pass_s` of both sets.

Why the runs look the way they do (see README.md, "Steadiness"): a first
attempt timed sub-second ops and 2.3 s passes of a query mix and saw its
pass median move 15% between two sets of identical code, while 18 s ingest
passes held within 2%. Two things caused it. Short ops carry Spark's fixed
per-job cost and scheduler jitter at full weight; and a fresh JVM keeps
getting faster for several passes as the JIT compiles Spark's planner and
generated code, so a median over passes taken during that fall samples the
warm-up. Here every run first runs untimed warm-up passes, which absorb
the cold first pass, then times whole passes of the workload's fixed work
(not single ops) and reports their median. The `trend` column is the last
timed pass over the first; well below 1.0 means passes are still speeding
up and the warm-up is too short.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median (0 when constant)."""
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def one_run(workload: str, seed: int, seconds: float, trace: int = 0) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed} exited {proc.returncode}: {proc.stderr[-2000:]}")
    record = next(
        (json.loads(x.split(" ", 1)[1]) for x in lines if x.startswith("perfbench-record ")), {}
    )
    return {"seed": seed, "result": json.loads(lines[-1]), "record": record}


def summarize(runs: list[dict], bounds: dict[str, dict]) -> dict:
    out = {}
    for name in bounds:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        out[name] = {"median": statistics.median(vals), "spread": spread(vals), "values": vals}
    return out


def main(args) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    workloads = [args.workload] if args.workload else [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    report, ok = {}, True
    for w in workloads:
        sets = []
        for s in range(2):
            runs = []
            for i in range(args.runs):
                r = one_run(w, 1 + s * args.runs + i, seconds)
                host, passes = r["record"].get("host", {}), r["record"].get("timed_passes", [])
                trend = passes[-1] / passes[0] if len(passes) > 1 else 1.0
                print(
                    f"{w} set {'AB'[s]} seed {r['seed']}: pass_s "
                    f"{r['result']['metrics']['pass_s']['value']:.3f} "
                    f"setup_s {r['result']['metrics']['setup_s']['value']:.2f} "
                    f"(start {r['record'].get('session_start_s', 0):.1f} "
                    f"gen {statistics.median(r['record'].get('gen_s') or [0]):.1f} "
                    f"warm {r['record'].get('warm_s', 0):.1f}) "
                    f"trend {trend:.3f} loadavg {host.get('loadavg', 0):.2f} "
                    f"steal {host.get('steal_ratio', 0):.4f}",
                    file=sys.stderr,
                )
                runs.append(r)
            sets.append(summarize(runs, bounds))
        rows = {}
        for name, m in bounds.items():
            a, b = sets[0][name], sets[1][name]
            spread_all = spread(a["values"] + b["values"])
            sign = 1 if m["better"] == "lower" else -1
            worse = sign * (b["median"] - a["median"]) / a["median"] if a["median"] else 0.0
            # Two-sided: with the sets swapped, a B that is much better than
            # A would read as a regression.
            agree = abs(worse) <= m["bound"]
            steady = spread_all <= m["bound"]
            ok &= agree and steady
            rows[name] = {
                "bound": m["bound"], "spread_all": spread_all, "spread_a": a["spread"],
                "spread_b": b["spread"], "median_a": a["median"], "median_b": b["median"],
                "b_worse_by": worse, "agree": agree, "steady": steady,
                "values": a["values"] + b["values"],
            }
            print(
                f"{w:11s} {name:20s} spread {spread_all:.3f} ({a['spread']:.3f}/{b['spread']:.3f}) "
                f"median {a['median']:.4g}/{b['median']:.4g} worse {worse:+.3f} "
                f"bound {m['bound']} {'ok' if agree and steady else 'NOT STEADY'}",
                file=sys.stderr,
            )
        # Tracing overhead: one traced run's pass time (seed 1) against the
        # untraced median of both sets.
        traced = one_run(w, 1, seconds, trace=1)["result"]["metrics"]["trace.pass_s"]["value"]
        rows["trace_overhead"] = traced / statistics.median(rows["pass_s"]["values"]) - 1
        print(f"{w:11s} tracing overhead {rows['trace_overhead']:+.3f} of pass_s", file=sys.stderr)
        report[w] = rows
    print(json.dumps({"steady": ok, "workloads": report}))
    return 0 if ok else 1
