"""SparkSession factory tuned for this engine.

Defaults are sized for local[N] testing but every knob is the one you would
set on a real cluster: AQE on (runtime re-plan + skew-join handling),
Arrow on (vectorized Python interchange), UTC session time zone
(deterministic timestamp semantics vs the DuckDB oracle), and shuffle
partitions matched to available cores rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_spark(
    app_name: str = "chainhouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Python workers resolve imports via the PYTHONPATH they inherit at
    # fork, not the driver's sys.path — without this, any mapPartitions/UDF
    # referencing this package dies with ModuleNotFoundError when the app
    # is launched from outside the repo. (On a real cluster the equivalent
    # is shipping the package via --py-files or a built wheel.)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + pypath if pypath else "")

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Fan OUT first, let AQE coalesce DOWN: shuffle.partitions is the
        # post-coalesce floor, but AQE can never split an exchange beyond
        # the initial number — a fixed 32 becomes the memory bottleneck the
        # moment data outgrows the test scale (the round-7 sf10 smoke
        # OOMed the 8 GB heap at 32; at 256 the same query finishes on the
        # same heap, 25% faster — SCALE.md "Scale smoke"). Small inputs
        # coalesce back down before the reduce stage runs, so sf0.01/sf0.1
        # plans and timings are unchanged.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(256, shuffle_partitions * 2)),
        )
        # Runtime bloom-filter join pruning: when a shuffle join's build side
        # carries a selective filter, Spark injects a bloom filter on the
        # probe-side scan. At 100 TB the default thresholds (build side
        # <=10 MB after filter, probe scan >=10 GB) fire on every
        # dim-filtered fact join and cut the shuffled fact rows before the
        # exchange. Locally the probe threshold keeps it off (scans are MBs);
        # tests/test_plans.py::test_runtime_bloom_filter_injection lowers the
        # thresholds to prove the injection works.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep scans right-sized: at 100 TB this is what bounds task count;
        # locally it keeps small files from over-splitting.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Generated-class cache: the JVM-wide LRU of Janino-compiled
        # classes, keyed by the generated source. Its default of 100 entries
        # is smaller than the engine's working set (about 150 classes per
        # perfbench analytics pass, 130 per ingest pass, 615 for bench.py's
        # 37 headline queries at sf0.1), so a repeat pass found every class
        # evicted and compiled it again: 141 classes per timed analytics
        # pass, 138 per ingest pass, about 830 per bench.py round. At 2048
        # (about 3x bench.py's set) repeat passes compile 0, 0 and 8 (the
        # limit counters of semantic_dedup_cells), and peak RSS rises about
        # 1% (2532 -> 2554 MB on analytics). The static conf is read once
        # per JVM, at the first compile. tests/test_session.py pins it.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # The cache key is the generated source, and by default the class
        # name carries the whole-stage codegen id, which AQE numbers in the
        # order it plans query stages: the same stage of the same query
        # got another id on a later run (audience_rfm_segments, ts_hurst_rs,
        # graph_modularity) and was compiled again as a new class.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """Classes Janino has compiled in this JVM so far, and their total
    compile time in ms. Both count cache misses only; take the difference
    of two readings to count the compiles of the work between them."""
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    count = metrics.METRIC_COMPILATION_TIME().getCount()
    return int(count), generator.compileTime() / 1e6
