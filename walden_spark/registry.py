"""Query registry powering ``__spark_entry__`` and the oracle tests.

Every operator from SURVEY.md §2 (and every north-star operator) is
declared exactly once, as a ``@query``-decorated builder plus (usually)
a DuckDB-runnable oracle SQL string. ``__spark_entry__.queries()`` /
``oracle_sql()`` and the self-check test harness both read this table.

Determinism contract (critical for the driver's value-hash compare):
* Money-column aggregates are computed in DECIMAL(18,2) — exact and
  summation-order-independent — then cast to DOUBLE identically on the
  Spark and DuckDB sides, so both engines emit bit-identical doubles.
* Every computed column is aliased the same on both sides.
* collect_list-style results are sorted (`array_sort`) before emission.
* LIMIT/top-k queries carry a total order (unique-key tiebreak).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: Optional[str]  # DuckDB SQL; None → driver does rows-only check
    category: str = ""
    doc: str = ""
    tags: tuple = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: Optional[str] = None, category: str = "", tags: tuple = ()):
    """Register a query builder. ``oracle`` is ANSI SQL DuckDB runs on the
    same parquet tables (views pre-registered by the driver)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(
            name=name,
            fn=fn,
            oracle=oracle,
            category=category,
            doc=(fn.__doc__ or "").strip(),
        )
        return fn

    return deco


# The round driver's correctness gate checks the FIRST 50 registry
# entries only (r01 evidence: the window cut mid-aggregates and 93
# queries got no driver row — VERDICT r01 "What's wrong" #3). This
# curated prefix spans every SURVEY §2 family and every north-star
# operator family so one driver pass verifies at least one
# representative of everything; remaining queries follow in module
# order. tests/test_registry.py asserts the coverage property.
#
# r15 ROTATION (VERDICT r14 next-round #1): window policy is now
# BODY-CHANGED FIRST, STALENESS SECOND. Every query whose execution
# was rewritten in r14/r15 without a driver witness on the new body is
# front-loaded (DRIVER_WINDOW_BODY_CHANGED below — the curated
# authority; tools/rotation_queue.py::body_changed_queries derives an
# over-approximate tripwire from git+AST and the guard asserts every
# changed def has at least one implicated window witness). The
# remaining 9 slots are the stalest oracle-backed member of each
# category the curated set leaves uncovered (the every-family
# property); two of those (fn_array_zip, source_python_stream) also
# drain the r07 stale tail, as do 7 of the curated names. The rest of
# the r07 tail queues for r16.
#
# DRIVER_WINDOW_ROUND marks which round this window was cut FOR; the
# rotation drift-guard (tests/test_registry.py +
# tools/rotation_queue.py::window_guard_violations) uses it to stay
# green at the round boundary, and as of r09 the boundary arm demands
# FULL green (rows+schema+hash), not merely err-free.
DRIVER_WINDOW_ROUND = 16

# Queries whose EXECUTION changed in r14/r15 with no driver witness on
# the changed body (VERDICT r14 "what's wrong" #1). r14 rewrites:
# fact-first q10/q13, single-scan q18, single-scan quantile sketch,
# distinct-first approx_distinct, projected salting, one-pass text
# quality filter, checkpointed rollup ladder, map-side IVF argmax,
# norm-hoisted LSH/semantic cosine kernels, shingle projection
# (ngram/minhash/source_overlap/repetition/decontaminate), fused
# connected-components convergence probe, and the streaming family
# (state right-sizing, one-job replay staging, empty-emit guards,
# within-batch persists). r15 rewrites: vectorized sessionize +
# single-chunk batch concat (all stateful matchers), Hadoop-FS state
# sizing (all bounded replays), batched eq-delete-run CDF pre-images
# (read_changes: ddl/streaming change-feed + incremental MVs), and the
# pruned multimodal decode boundary.
#
# Cut for r16: the table-log refactor (walden_spark/tablelog.py) moved
# every versioned-table metadata read/write; its window witnesses are
# the change-feed / incremental-MV / streaming-tail names already here
# plus ddl_maintenance_lifecycle (restore, compact, expire, orphan
# sweep) and ddl_catalog_refs (catalog refs, views, merges). Two
# pattern-matcher names, fully green in CORRECTNESS_r15.json and
# untouched since, rotated out to keep the window at 50.
DRIVER_WINDOW_BODY_CHANGED: tuple[str, ...] = (
    "tpch_q10",
    "tpch_q13",
    "tpch_q18",
    "agg_quantile_sketch",
    "agg_approx_distinct",
    "skew_salted_agg",
    "text_quality_filter_per_source",
    "text_repetition",
    "text_decontaminate",
    "events_hypertable_rollup",
    "events_user_components",
    "ann_ivf_probe",
    "dedup_embedding_lsh",
    "dedup_cluster_components",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_source_overlap",
    "streaming_stateful_timeout_sessions",
    "streaming_pattern_vshape",
    "streaming_pattern_skip_next",
    "streaming_pattern_same_class",
    "streaming_anomaly_weekly",
    "streaming_tumbling",
    "streaming_session_window",
    "streaming_sliding",
    "streaming_dedup_watermark",
    "streaming_stateful_totals",
    "streaming_stream_stream_join",
    "streaming_minhash_dedup",
    "streaming_ivf_ingest",
    "streaming_static_join",
    "streaming_available_now",
    "ddl_incremental_mv",
    "ddl_change_feed",
    "streaming_change_feed",
    "streaming_incremental_mv",
    "multimodal_decode",
    "multimodal_resize",
    "multimodal_frame_sample",
    "ddl_maintenance_lifecycle",
    "ddl_catalog_refs",
)

DRIVER_WINDOW: tuple[str, ...] = DRIVER_WINDOW_BODY_CHANGED + (
    # -- family coverage: stalest oracle-backed member of each
    # category the body-changed set leaves uncovered --
    "sample_bernoulli",  # filter, r10
    "fn_array_zip",  # function, r07 (drains the stale tail)
    "join_asof",  # join, r08
    "proj_case_cast",  # projection (sole member), r14
    "source_python_stream",  # scan, r07 (drains the stale tail)
    "setop_except",  # setop, r12
    "topn_per_group",  # sort, r11
    "posexplode_ordinality",  # unnest, r13
    "win_exclude_current",  # window, r09
)


def load_all() -> dict[str, Query]:
    """Import every query/operator module so their decorators run."""
    import walden_spark.queries.tpch  # noqa: F401
    import walden_spark.queries.relational  # noqa: F401
    import walden_spark.queries.aggregates  # noqa: F401
    import walden_spark.queries.windows  # noqa: F401
    import walden_spark.queries.setops  # noqa: F401
    import walden_spark.queries.scalar_functions  # noqa: F401
    import walden_spark.queries.events  # noqa: F401
    import walden_spark.queries.ddl  # noqa: F401
    import walden_spark.queries.sources  # noqa: F401
    import walden_spark.queries.tpcds  # noqa: F401
    import walden_spark.functions.udf  # noqa: F401
    import walden_spark.operators.dedup  # noqa: F401
    import walden_spark.operators.rangejoin  # noqa: F401
    import walden_spark.operators.asof  # noqa: F401
    import walden_spark.operators.fuzzyjoin  # noqa: F401
    import walden_spark.operators.rollup  # noqa: F401
    import walden_spark.operators.skew  # noqa: F401
    import walden_spark.operators.sketch  # noqa: F401
    import walden_spark.operators.scd  # noqa: F401
    import walden_spark.operators.similarity  # noqa: F401
    import walden_spark.operators.text  # noqa: F401
    import walden_spark.operators.multimodal  # noqa: F401
    import walden_spark.streaming.windows  # noqa: F401
    import walden_spark.streaming.stateful  # noqa: F401
    import walden_spark.streaming.sinks  # noqa: F401

    # Reorder: DRIVER_WINDOW prefix first, then the rest in module
    # order. Idempotent-pure (VERDICT r11 #8): build and return a NEW
    # ordered dict instead of mutating REGISTRY in place — a second
    # load_all() in one process (e.g. after a partial import) must
    # yield the identical order, and decorator registration order in
    # the global stays untouched as the stable "module order" key.
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"DRIVER_WINDOW names not registered: {missing}")
    ordered = {n: REGISTRY[n] for n in DRIVER_WINDOW}
    ordered.update((n, q) for n, q in REGISTRY.items() if n not in ordered)
    return ordered
