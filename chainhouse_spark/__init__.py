"""chainhouse_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference `c0mm4nd/chainhouse` ETL
(see SURVEY.md), plus large-scale training-data pipeline operators.

Layout:
    session      — tuned SparkSession builder (AQE, Arrow, UTC, shuffle sizing)
    schemas      — the four ethereum table StructTypes + raw RPC nested schema
    transforms   — raw nested blocks -> four flat tables (the ETL dataflow core)
    sources      — fixture/JSON-RPC block sources (HTTP + stdlib WebSocket)
    sinks        — parquet sink, ClickHouse DDL + native TCP inserts, exact dedup
    functions    — hex/binary, text-analysis, vector column helpers
    operators    — dedup (exact/minhash/simhash/jaccard), similarity, asof/range join
    queries      — the analytic query registry (drives __spark_entry__.py)
    streaming    — Structured Streaming ingest
    multimodal   — binary-column (image/audio) plumbing with stubbed codecs
"""

__version__ = "0.1.0"
