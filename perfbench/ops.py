"""The benchmark's ops and the reference each op's output is checked
against.

Every op is a ``(spark, sf_dir) -> DataFrame`` callable of the product.
``batch_mix`` takes its eight headline queries from ``bench.py``'s
``_headline()`` so the two cannot drift; the stream shapes are the
product's transforms replayed through ``streaming.harness``.
"""

from __future__ import annotations

from dataclasses import dataclass

# Headline names whose query is a batch twin, not a registered query:
# their output is checked against the twin's streaming query's oracle.
_TWIN_ORACLE = {
    "events_tumbling": "stream_tumbling_agg",
    "events_sessionize": "stream_session_window",
}

CORPUS_OPS = (
    "pipeline_corpus_clean",
    "dedup_near_minhash",
    "sim_knn_ivf_kmeans",
)

# Fixture tables each batch op reads; their row counts over pass_s give
# a workload's rows_per_s.
INPUT_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "q3_top_orders": ("lineitem", "orders", "customer"),
    "q5_region_rev": ("lineitem", "orders", "customer", "supplier", "nation", "region"),
    "window_topk_per_group": ("orders",),
    "events_tumbling": ("events",),
    "events_sessionize": ("events",),
    "knn_bruteforce": ("embeddings",),
    "docs_tokens": ("documents",),
    "pipeline_corpus_clean": ("documents",),
    "dedup_near_minhash": ("documents",),
    "sim_knn_ivf_kmeans": ("embeddings",),
}


@dataclass(frozen=True)
class StreamShape:
    """One telemetry replay: a product transform over the staged stream."""

    name: str
    output_mode: str
    copies: int  # each staged slice is written this many times
    oracle_key: str  # registry query whose DuckDB oracle the replay matches


STREAM_SHAPES = (
    StreamShape("tumbling", "append", 1, "stream_watermark_late"),
    StreamShape("session", "complete", 1, "stream_session_window"),
    StreamShape("dedup", "append", 2, "stream_dedup"),
    StreamShape("static_join", "append", 1, "join_stream_static"),
)


def headline_ops() -> dict:
    import bench

    return bench._headline()


def corpus_ops() -> dict:
    from powertrainstreaming_spark.plans.registry import all_defs

    defs = all_defs()
    return {name: defs[name].fn for name in CORPUS_OPS}


def shape_query(spark, sf_dir: str, shape: StreamShape, stream):
    """The streaming DataFrame a replay of ``shape`` runs over ``stream``."""
    from powertrainstreaming_spark.operators import streaming as ops
    from powertrainstreaming_spark.sources.loaders import load

    if shape.name == "static_join":
        # join_stream_static's enrichment, over the staged stream.
        dim = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_nationkey")
        return stream.join(dim, stream.user_id == dim.c_custkey).select(
            "event_id", "user_id", "event_type", "value", "c_mktsegment", "c_nationkey"
        )
    transform = {
        "tumbling": ops.watermark_late_transform,
        "session": ops.session_transform,
        "dedup": ops.dedup_transform,
    }[shape.name]
    return transform(stream)


def oracle_keys() -> dict[str, str | None]:
    """Check key → registry query whose DuckDB oracle it must match
    (``None`` for a rows-only op, which is pinned instead)."""
    from powertrainstreaming_spark.plans.registry import all_defs

    defs = all_defs()
    by_fn = {qd.fn: name for name, qd in defs.items()}
    keys: dict[str, str | None] = {}
    for name, fn in headline_ops().items():
        keys[name] = by_fn.get(fn) or _TWIN_ORACLE[name]
    for name in CORPUS_OPS:
        keys[name] = name if defs[name].oracle is not None else None
    for shape in STREAM_SHAPES:
        keys[f"stream.{shape.name}"] = shape.oracle_key
    return keys
