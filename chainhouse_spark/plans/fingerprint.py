"""Plan fingerprints: a hash of each query's analyzed logical plan, so the
driver's rotation (`queries/rotation.py`) can tell which queries changed
since their last verdict without running them.

The fingerprint is the sha256 of `queryExecution().analyzed()` at
sf0.001, with every run-dependent token stripped: expression ids
(`#123L`), lambda variable and CTE ids, RDD ids, file paths, object
hashes, hex addresses, UUIDs and the memory-sink counter of
`queries/streaming_queries.py`. It is the ANALYZED plan, not the
optimized one: `RewriteDistinctAggregates` numbers its `gid` groups in a
run-dependent order, so two fresh JVMs can disagree on an optimized plan
whose analyzed plans are identical.

A result's plan stops where a lineage was cut while the query was built:
at a checkpoint (iterative loops, eager quantile passes) or at the sink
of a streaming query it ran. So the analyzed plan of every DataFrame
checkpointed or started as a stream during the build is hashed with it,
in call order.

Literals the query collected while it was built (quantile boundaries,
spread partition counts) stay in the hash, and they depend on the
session's shuffle partitions and default parallelism. `fingerprint_queries`
pins both for the sweep, so the same code hashes the same on any host.

This module imports nothing from the package, so `tools/query_rotation.py`
can load it by path to fingerprint an older snapshot of the registry.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager

SF_DIR = "/root/testdata/sf0.001"
SHUFFLE_PARTITIONS = "4"
DEFAULT_PARALLELISM = "4"

_VOLATILE = [
    (re.compile(r"#\d+"), "#"),  # expression ids
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1"),
    (re.compile(r"\b(CTERelationDef|CTERelationRef|UnionLoop|UnionLoopRef) \d+"), r"\1"),
    (re.compile(r"\bRDD\[\d+\]|\brdd_\d+\b"), "RDD"),
    (re.compile(r"\b_stream_sink_\d+\b"), "_stream_sink"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]{1,8}\b"), "@"),  # Object.toString
    (re.compile(r" at 0x[0-9a-fA-F]+"), " at 0x"),
    (re.compile(r"\b[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}\b"), "uuid"),
    (re.compile(r"(?:file:)?(?<![\w)\]])/(?:[\w.\-]+/)+[\w.\-]*"), "<path>"),
]


def normalize(plan: str) -> str:
    """`plan` text with run-dependent tokens replaced by placeholders."""
    for pattern, repl in _VOLATILE:
        plan = pattern.sub(repl, plan)
    return plan


def analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def plan_fingerprint(df, construction: Iterable[str] = ()) -> str:
    """sha256 hex of `df`'s normalized analyzed plan, followed by the
    plans recorded while it was built (`_recording_construction`)."""
    text = "\n".join([analyzed(df), *construction])
    return hashlib.sha256(normalize(text).encode()).hexdigest()


@contextmanager
def _recording_construction(plans: list[str]) -> Iterator[None]:
    """Append the analyzed plan of every DataFrame checkpointed or run as
    a stream inside: the result's own plan shows only a scan of those."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    hooks = [
        (DataFrame, "localCheckpoint", lambda self: self),
        (DataFrame, "checkpoint", lambda self: self),
        (DataStreamWriter, "start", lambda self: self._df),
    ]
    saved = [(cls, name, getattr(cls, name)) for cls, name, _ in hooks]

    def recording(method, frame_of):
        def record_then_call(self, *args, **kwargs):
            plans.append(analyzed(frame_of(self)))
            return method(self, *args, **kwargs)

        return record_then_call

    for (cls, name, frame_of), (_, _, method) in zip(hooks, saved):
        setattr(cls, name, recording(method, frame_of))
    try:
        yield
    finally:
        for cls, name, method in saved:
            setattr(cls, name, method)


def fingerprint_queries(
    spark,
    queries: dict[str, Callable],
    names: Iterable[str] | None = None,
    sf_dir: str = SF_DIR,
) -> tuple[dict[str, str], dict[str, str]]:
    """Build each named query (default: all) at `sf_dir` and fingerprint
    its plan.

    Returns ({name: fingerprint}, {name: error}) for the queries that
    built and those that raised. The session's shuffle partitions, its
    default parallelism and the plan-string field limit are pinned for
    the sweep and restored after it.
    """
    conf = spark.sparkContext._jsc.sc().conf()  # live conf, not a copy
    saved_sql = {
        key: spark.conf.get(key, None)
        for key in ("spark.sql.shuffle.partitions", "spark.sql.debug.maxToStringFields")
    }
    saved_par = conf.getOption("spark.default.parallelism")
    spark.conf.set("spark.sql.shuffle.partitions", SHUFFLE_PARTITIONS)
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000000")
    # The local scheduler reads this on every call, so scan splits and
    # `spread`'s repartition count follow it from here on.
    conf.set("spark.default.parallelism", DEFAULT_PARALLELISM)
    fps: dict[str, str] = {}
    errors: dict[str, str] = {}
    try:
        for name in queries if names is None else names:
            construction: list[str] = []
            try:
                with _recording_construction(construction):
                    df = queries[name](spark, sf_dir)
                fps[name] = plan_fingerprint(df, construction)
            except Exception as e:  # noqa: BLE001 -- reported to the caller
                first = (str(e).splitlines() or [""])[0]
                errors[name] = f"{type(e).__name__}: {first[:200]}"
    finally:
        for key, value in saved_sql.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
        if saved_par.isDefined():
            conf.set("spark.default.parallelism", saved_par.get())
        else:
            conf.remove("spark.default.parallelism")
    return fps, errors
