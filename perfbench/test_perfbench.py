"""The benchmark's own tests: seeded inputs are reproducible, metric names
are well formed and match BENCHMARK.json, and a toy-size run of each
workload passes its output checks.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import node, run, tiergen, workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_node_payloads_repeat_per_seed():
    a, b = node.Chain(7, 19_000_000, 3), node.Chain(7, 19_000_000, 3)
    assert a.payloads == b.payloads
    assert a.manifest(19_000_000, 19_000_003) == b.manifest(19_000_000, 19_000_003)
    assert node.Chain(8, 19_000_000, 3).payloads != a.payloads


def test_node_manifest_counts_match_payloads():
    c = node.Chain(3, 100, 2)
    rows = {"blocks": 0, "transactions": 0, "events": 0, "withdraws": 0}
    for n in range(100, 102):
        block = json.loads(c.payloads[("eth_getBlockByNumber", n)])
        receipts = json.loads(c.payloads[("eth_getBlockReceipts", n)])
        rows["blocks"] += 1
        rows["transactions"] += len(block["transactions"])
        rows["events"] += sum(len(r["logs"]) for r in receipts)
        rows["withdraws"] += len(block["withdrawals"])
    assert rows == c.manifest(100, 102)["rows"]


def test_tier_tables_repeat_per_seed():
    a, b = tiergen.tables(5, 0.002), tiergen.tables(5, 0.002)
    assert all(a[t].equals(b[t]) for t in a)
    assert not tiergen.tables(6, 0.002)["documents"].equals(a["documents"])


def test_metric_names_and_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_units(workloads.TIER)
    for name in [*e2e, *layer, *(w["name"] for w in bench["workloads"])]:
        assert NAME.fullmatch(name), name


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s, _, jvm = run.start_session(str(tmp_path_factory.mktemp("spark")), 2)
    yield s
    run.stop_session(s, jvm)


def _warehouse_digest(spark, seed: int) -> dict:
    from chainhouse_spark.schemas import DEDUP_KEYS
    from perfbench import chaingen
    from pyspark.sql import functions as F

    out = {}
    for t, df in chaingen.tables(spark, seed, 1_000, 3).items():
        r = df.agg(
            F.count(F.lit(1)),
            F.count_distinct(*[F.col(k) for k in DEDUP_KEYS[t]]),
            F.sum(workloads.key_digest_expr(t)),
        ).first()
        out[t] = tuple(r)
    return out


def test_warehouse_digest_repeats_per_seed(spark):
    a = _warehouse_digest(spark, 11)
    assert a == _warehouse_digest(spark, 11)
    assert a != _warehouse_digest(spark, 12)
    # Keys are unique before the re-ingest duplicates are appended.
    assert all(rows == keys for rows, keys, _ in a.values())
    from perfbench import chaingen
    from pyspark.sql import functions as F

    got = spark.range(3, 5).select(F.lower(F.hex(chaingen.tx_hash_expr(11)))).collect()
    assert [r[0] for r in got] == [chaingen.tx_hash_hex(11, i) for i in (3, 4)]


@pytest.mark.parametrize("workload", ["ingest", "analytics"])
def test_toy_run_passes_checks(workload, tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1", "--small"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.per_layer_units(workloads.TIER))
    if workload == "ingest":
        assert result["metrics"]["sources.rpc.calls_per_block"]["value"] > 0
