"""Central registry mapping SURVEY.md §2 operator names to

  * a PySpark query callable ``(spark, sf_dir) -> DataFrame``  (→ ``queries()``)
  * an equivalent DuckDB-runnable ANSI SQL string               (→ ``oracle_sql()``)

Oracle-less registrations (``oracle=None``) are the rows-only operators
(SURVEY.md §2 inventory line: approximate/randomized results). ZERO remain
as of round 13: the last three (agg_approx_distinct, agg_hll_sketch,
llm_ann_lsh) now emit bounded-error audit rows — exact yardstick plus a
boolean bound check both engines agree on — so every registered op is
hash-gateable. The ``oracle=None`` path stays supported for future
genuinely non-SQL-expressible ops.

Canonicalization contract (SURVEY.md §5.3) — enforced by convention in every
registered pair:
  * floating aggregates rounded identically on both sides:
    round(x, 2) for money, round(x, 6) for ratios/similarities;
  * DuckDB integer aggregates cast to BIGINT to match Spark's long;
  * ``events.ts`` is µs on disk (post-2026-08-13 regen; the loader's footer
    sniff still guards the legacy ns path — see schemas.py);
  * every LIMIT/top-k ordered with a unique key suffix;
  * every computed column aliased to the same name on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

#: Modules that register operators on import, in SURVEY.md §2 section order.
_OPERATOR_MODULES = (
    "highspeedrailwaybigdatasystem_spark.operators.scans",
    "highspeedrailwaybigdatasystem_spark.operators.filters",
    "highspeedrailwaybigdatasystem_spark.operators.joins",
    "highspeedrailwaybigdatasystem_spark.operators.aggregates",
    "highspeedrailwaybigdatasystem_spark.operators.windows",
    "highspeedrailwaybigdatasystem_spark.operators.sorts",
    "highspeedrailwaybigdatasystem_spark.operators.setops",
    "highspeedrailwaybigdatasystem_spark.operators.scalars",
    "highspeedrailwaybigdatasystem_spark.operators.timeseries",
    "highspeedrailwaybigdatasystem_spark.operators.graph",
    "highspeedrailwaybigdatasystem_spark.operators.ml",
    "highspeedrailwaybigdatasystem_spark.operators.etl",
    "highspeedrailwaybigdatasystem_spark.operators.tpch",
    "highspeedrailwaybigdatasystem_spark.sources.formats",
    "highspeedrailwaybigdatasystem_spark.sources.custom_source",
    "highspeedrailwaybigdatasystem_spark.functions.udfs",
    # the LLM-pipeline family (one functions/llm.py until round 16; split
    # per r15 verdict task #7 — registry names unchanged, shared helpers
    # in functions/_llm_shared.py):
    "highspeedrailwaybigdatasystem_spark.functions.llm_ann",
    "highspeedrailwaybigdatasystem_spark.functions.llm_dedup",
    "highspeedrailwaybigdatasystem_spark.functions.llm_text",
    "highspeedrailwaybigdatasystem_spark.functions.llm_mix",
    "highspeedrailwaybigdatasystem_spark.functions.llm_mm",
    "highspeedrailwaybigdatasystem_spark.streaming.streams",
)

_loaded = False


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query (and optionally its DuckDB oracle) to the surface."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate operator registration: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _ensure_loaded() -> None:
    global _loaded
    if not _loaded:
        _loaded = True
        for mod in _OPERATOR_MODULES:
            import_module(mod)


#: The external gate samples the FIRST 50 entries of ``all_queries()`` each
#: round. This tuple pins that window explicitly so coverage can rotate.
#: Names absent from the registry are ignored; rows-only names must stay
#: out (they can never hash-green).
#:
#: This tuple carries NO rotation plan of its own: the authoritative
#: per-round window history, the never-gated oracle-backed pool, and the
#: GENERATED name lists for the next windows all live in DRIVER_COVERAGE.md
#: (regenerate with ``python tools/gen_driver_coverage.py`` after every
#: rotation — ``tests/test_registry.py`` pins the two in sync and rejects
#: any window slot spent on an already-green op). Rounds 1–8 history is
#: frozen in ``tools/gen_driver_coverage.py:history()``.
#:
#: ROUND 9 window (rotated at round-9 start; 297 names driver-green after
#: r8, 187-op never-gated pool): the dedup/ANN thesis family first (the
#: r8 verdict's lead ask — simhash FP audit + jaccard/LSH estimator
#: calibration + similarity/semdedup ops), the 9 never-gated ``graph_*``
#: ops, the 2 round-7 ``stream_*`` stragglers, then the ``ts_*`` backlog
#: alphabetically up to the 50 cap.
#:
#: ROTATION IS AUTOMATED: at the start of round N+1 (once the driver's
#: CORRECTNESS_r{N}.json is on disk), run ``python tools/rotate_window.py``
#: — it freezes the finished round into tools/gate_history.json, rewrites
#: the tuple below with the next 50 never-gated names, and regenerates
#: DRIVER_COVERAGE.md. Do not edit the tuple between the markers by hand.
# --- WINDOW START (rewritten by tools/rotate_window.py) ---
_WINDOW_PRIORITY: tuple[str, ...] = (
    # ROUND 17 window — generated by tools/rotate_window.py:
    # 0 never-gated (pool was 0) + 50 re-proof slots
    # (plan_window policy; matches DRIVER_COVERAGE.md's planned lists).
    # pin: r17 seq 1 sha 9521a95b636d
    "agg_market_basket_lift", "graph_connected_components", "graph_triangle_count",
    "llm_ann_recall_eval", "llm_dedup_components", "llm_dup_partner_degree_dist",
    "llm_embed_near_dup", "llm_ivf_ann", "llm_ivf_index_persist",
    "llm_knn_all", "llm_lsh_tuning_curve", "llm_minhash_banding",
    "llm_semdedup_centroid", "llm_sim_blocked", "llm_sim_pairs_label",
    "ml_boosted_stumps_2round", "ml_knn_classifier_eval", "mm_patch_embed_stub",
    "scalar_try_funcs", "sql_order_by_all", "src_binary_files",
    "src_csv_permissive_corrupt", "src_text_lines", "str_regexp2",
    "tpch_q09", "tpch_q11", "ts_downsample_m4",
    "ts_seasonal_ma", "udaf_custom", "udf_cogrouped_apply",
    "udf_map_in_arrow", "udf_python_scalar", "udtf_analyze_polymorphic",
    "udtf_python", "win_exponential_decay_score", "win_ignore_nulls",
    "win_named_window", "win_ntile_pctrank", "win_running_sum",
    "ts_interpolate_linear", "ts_ohlc", "ts_retention_cohort",
    "ts_sessionize", "win_first_last", "win_lag_lead",
    "win_moving_avg", "win_moving_median", "win_rank_dense",
    "win_rownum_topk", "win_session_window_fn",
)
# --- WINDOW END ---


def all_queries() -> dict[str, QueryFn]:
    """All registered queries: the pinned gate window first (oracle-backed,
    see ``_WINDOW_PRIORITY``), then the remaining oracle-backed entries in
    registration order, then oracle-less entries last. The external gate
    samples a prefix window of this dict in insertion order — rows-only ops
    (no oracle ⇒ can never be hash-green) must not occupy gated slots."""
    _ensure_loaded()
    ordered = {
        n: _QUERIES[n] for n in _WINDOW_PRIORITY if n in _QUERIES and n in _ORACLES
    }
    ordered.update({n: f for n, f in _QUERIES.items() if n in _ORACLES})
    ordered.update({n: f for n, f in _QUERIES.items() if n not in _ORACLES})
    return ordered


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return dict(_ORACLES)
