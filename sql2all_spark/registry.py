"""Query registry backing the ``__spark_entry__.py`` driver contract.

Each operator module registers named queries with an optional DuckDB oracle
SQL string.  The driver runs the Spark builder and the oracle side-by-side at
sf0.01 and hash-compares results, so every registration must obey the
cross-engine determinism rules (see docs in :func:`register`).
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from sql2all_spark.cache import release_tracked

QueryFn = Callable[[SparkSession, str], DataFrame]

# Modules that register queries on import.
_QUERY_MODULES = [
    "sql2all_spark.operators.aggregates",
    "sql2all_spark.operators.ann_batch",
    "sql2all_spark.operators.ann_multiprobe",
    "sql2all_spark.operators.asof_range",
    "sql2all_spark.operators.bitext",
    "sql2all_spark.operators.bpe_train",
    "sql2all_spark.operators.bucketing",
    "sql2all_spark.operators.ccnet",
    "sql2all_spark.operators.classifier",
    "sql2all_spark.operators.curation",
    "sql2all_spark.operators.dedup",
    "sql2all_spark.operators.domain_label",
    "sql2all_spark.operators.dsir",
    "sql2all_spark.operators.embed_screen",
    "sql2all_spark.operators.funnel",
    "sql2all_spark.operators.fusion",
    "sql2all_spark.operators.fuzzy",
    "sql2all_spark.operators.graph",
    "sql2all_spark.operators.incremental",
    "sql2all_spark.operators.ivfpq",
    "sql2all_spark.operators.joins",
    "sql2all_spark.operators.kfold",
    "sql2all_spark.operators.kn_lm",
    "sql2all_spark.operators.layout",
    "sql2all_spark.operators.lm",
    "sql2all_spark.operators.mm_cluster",
    "sql2all_spark.operators.multimodal",
    "sql2all_spark.operators.novelty",
    "sql2all_spark.operators.pipeline",
    "sql2all_spark.operators.pq",
    "sql2all_spark.operators.profiling",
    "sql2all_spark.operators.quality_profile",
    "sql2all_spark.operators.range_search",
    "sql2all_spark.operators.relational",
    "sql2all_spark.operators.reservoir",
    "sql2all_spark.operators.retention",
    "sql2all_spark.operators.retrieval",
    "sql2all_spark.operators.sampling",
    "sql2all_spark.operators.scalar_funcs",
    "sql2all_spark.operators.semdedup",
    "sql2all_spark.operators.setops",
    "sql2all_spark.operators.similarity",
    "sql2all_spark.operators.sketches",
    "sql2all_spark.operators.skew",
    "sql2all_spark.operators.sp_encode",
    "sql2all_spark.operators.sp_pack",
    "sql2all_spark.operators.sp_unigram",
    "sql2all_spark.operators.strip_dedup",
    "sql2all_spark.operators.strip_keeper",
    "sql2all_spark.operators.substring_dedup",
    "sql2all_spark.operators.tau_apply",
    "sql2all_spark.operators.tau_caps",
    "sql2all_spark.operators.template",
    "sql2all_spark.operators.template_keeper",
    "sql2all_spark.operators.template_strip",
    "sql2all_spark.operators.text",
    "sql2all_spark.operators.timeseries",
    "sql2all_spark.operators.tokenize",
    "sql2all_spark.operators.tpch",
    "sql2all_spark.operators.tpch_extra",
    "sql2all_spark.operators.udf_scalar",
    "sql2all_spark.operators.udfs",
    "sql2all_spark.operators.windows",
    "sql2all_spark.streaming.batch_twins",
]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: QueryFn
    # DuckDB SQL twin; None → driver does rows-only check.  Every
    # registration passes a ready string (oracle-building helpers are
    # invoked eagerly at decoration time, e.g. similarity's _ann_oracle).
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``.

    Cross-engine determinism rules for (builder, oracle) pairs:
    - alias every computed column identically on both sides;
    - exact money sums go through DECIMAL casts then back to DOUBLE;
    - pin NULLS FIRST/LAST in any ORDER BY;
    - round order-dependent float aggregates (stddev/corr/cosine);
    - no nondeterministic functions.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        if oracle is not None and not isinstance(oracle, str):
            raise TypeError(
                f"oracle for {name!r} must be a ready SQL string (build it "
                f"eagerly at decoration time), got {type(oracle).__name__}"
            )

        # Release the PREVIOUS query's tracked persisted intermediates
        # before building this one: multi-query runners (the driver gate,
        # bench.py) would otherwise accumulate cached blocks until the
        # local-mode heap fills (the r7 sf1 OOM).
        # Unpersist never invalidates a plan, so this is correctness-safe
        # even for build-all-then-execute consumers — they just recompute.
        @functools.wraps(fn)
        def released(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_tracked()
            return fn(spark, sf_dir)

        _REGISTRY[name] = QuerySpec(name, released, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


def _load_all() -> None:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)


def all_specs() -> dict[str, QuerySpec]:
    _load_all()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: spec.builder for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_specs().items()
        if spec.oracle is not None
    }
