"""Session settings that the whole engine relies on."""

from __future__ import annotations

from chainhouse_spark.queries import QUERIES
from chainhouse_spark.session import codegen_compiles

# Registered queries whose generated code is the same from call to call.
# Together they compile about 160 classes in a fresh JVM, more than
# Spark's default codegen cache of 100 entries holds, so with that
# default an LRU cycle through them evicts every class before its reuse.
_REPEATABLE = [
    "q3_shipping_priority",
    "q5_region_revenue",
    "dedup_minhash_lsh",
    "search_hybrid_rrf",
    "funnel_depth_histogram",
]


def test_repeat_pass_compiles_nothing(spark, sf_dir):
    """A second pass over the same queries compiles no class: the
    codegen cache holds the whole working set."""

    def one_pass() -> int:
        before, _ = codegen_compiles(spark)
        for name in _REPEATABLE:
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return codegen_compiles(spark)[0] - before

    one_pass()
    assert one_pass() == 0
