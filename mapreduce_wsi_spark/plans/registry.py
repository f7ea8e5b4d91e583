"""Query/oracle registry — the driver-contract backbone.

Every implemented operator from SURVEY.md §2 registers here with a Spark
builder ``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) a
DuckDB oracle string over the pre-registered fixture views. The driver
compares the two at sf0.01 (row-count + schema + order-insensitive
value-hash, columns sorted by name) — so every computed column is aliased
identically on both sides, and float-valued aggregates go through exact
decimal(18,2) arithmetic before a final cast to double (the fixture doubles
are all 2-decimal values, so the casts are lossless; see FIXTURES.md §B).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class CatalogEntry:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => driver records a weaker rows-only check
    note: str = ""


CATALOG: dict[str, CatalogEntry] = {}


def register(name: str, oracle: str | None = None, note: str = ""):
    """Decorator: add a query builder to the catalog."""
    def deco(fn):
        if name in CATALOG:
            raise ValueError(f"duplicate catalog entry {name!r}")
        CATALOG[name] = CatalogEntry(fn=fn, oracle=oracle, note=note)
        return fn
    return deco


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Every catalog query funnels through here: guarantee Python workers
    # can unpickle UDFs referencing this package even when the driver
    # harness imports us from an arbitrary cwd (see util.py).
    from mapreduce_wsi_spark.util import ensure_package_on_workers
    ensure_package_on_workers(spark)
    if name == "events":
        return events_tbl(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """events.ts has shipped as TIMESTAMP(NANOS) in some fixture
    generations (Spark's vectorized reader rejects that outright; only
    readable as a raw long via ``nanosAsLong``) and TIMESTAMP(MICROS) in
    others (read as TIMESTAMP_NTZ). Normalize either to a session-TZ
    (UTC) microsecond TIMESTAMP: truncating ``div 1000`` for the nanos
    case — exactly DuckDB's ns->us cast, so oracle comparisons stay
    bit-identical — and a plain cast for the NTZ case (lossless under
    the UTC session timezone pinned in session.py)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def events_tbl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read events.parquet with ts normalized across fixture layouts
    (see normalize_event_ts). Spark has no per-read parquet option for
    nanos handling, so ``nanosAsLong`` must be session conf: session.py
    sets it in the engine's own defaults; the guard below covers
    externally-created sessions (the driver's) without re-mutating conf
    on every catalog build."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    if spark.conf.get(key, "false") != "true":
        spark.conf.set(key, "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    return normalize_event_ts(raw)


# The driver's correctness gate scores the FIRST 50 catalog entries in
# registration order, and the window ROTATES each round so cumulative
# driver evidence grows instead of re-stamping the same 50. Rounds 1-14
# stamped the ENTIRE 461-entry catalog green (cumulative 461/461), so
# the never-stamped queue is EMPTY and the window is pad-dominated:
# 5 sentinels + the oldest-stamp pad filling the other 45 slots,
# because fixtures regenerate between rounds and old stamps decay in
# value. The r16 window below is the --emit-next output over r1-r15.
# tests/test_driver_window.py pins the order, asserts the rotation
# hygiene (non-sentinel, non-pad entries must be never-stamped),
# recomputes the pad MECHANICALLY (oldest latest-stamp first, name
# tie-break — VERDICT r10 ask #5), and checks family coverage over the
# CUMULATIVE stamped set. Rotate with tools/window_audit.py
# --emit-next once the driver has recorded CORRECTNESS_r{ROUND}.json,
# pasting its ROUND line and both tuples together.
ROUND = 16  # current build round; CORRECTNESS_r{<ROUND}.json are priors

# staleness re-checks: previously stamped (allowed to repeat). The pad
# fills the free slots left after every never-stamped entry is
# windowed, picking the entries whose LATEST green stamp is oldest
# (ties broken by name) — for r16 that is the 8 entries last stamped
# in r4 and 37 of those last stamped in r5, emitted verbatim by
# tools/window_audit.py --emit-next.
# test_driver_window.py::test_pad_is_exactly_the_oldest_stamps
# recomputes this from CORRECTNESS_r*.json, so the pad can never be
# hand-picked.
WINDOW_STALENESS_PAD: tuple[str, ...] = (
    "text_scrub_pii",
    "text_tf_df",
    "trending_topk_daily",
    "triangle_count",
    "weighted_sample_es",
    "window_count_distinct",
    "window_range_frame",
    "winsorized_sum",
    "agg_exact_stats",
    "array_funcs",
    "decontam_bloom_prefilter",
    "dedup_components_star",
    "dq_constraints",
    "hll_sketch_rollup",
    "incremental_agg_merge",
    "join_asof_nearest",
    "json_extract",
    "mix_sources_epochs",
    "mix_temperature_flatten",
    "mm_audio_frames",
    "mm_decode_features",
    "mm_decode_jpeg",
    "mm_decode_png",
    "mm_features_real",
    "mm_image_dhash",
    "mm_image_neardup",
    "mm_resize",
    "mm_resize_real",
    "ols_trend_per_type",
    "quality_model_gate",
    "quantile_cont_exact",
    "rare_terms_df",
    "robust_mad_stats",
    "scalar_conditional",
    "scalar_datetime_funcs2",
    "scalar_hash_bitwise",
    "scalar_math_funcs",
    "scalar_string_funcs2",
    "share_of_total",
    "skew_key_diagnostics",
    "stream_stream_join",
    "stream_stream_left_outer",
    "table_fingerprint",
    "text_bpe_pretokenize",
    "text_dup_spans",
)

DRIVER_WINDOW: tuple[str, ...] = (
    # sentinels (driver-stamped every round; regression canaries)
    "q1_pricing_summary", "flagship_integer_mean", "merge_upsert_cdc",
    "dedup_components", "funnel_steps",
) + WINDOW_STALENESS_PAD


def load_catalog() -> dict[str, CatalogEntry]:
    """Import all query-definition modules (side-effect: registration),
    then order the catalog so DRIVER_WINDOW comes first."""
    import mapreduce_wsi_spark.plans.q_relational  # noqa: F401
    import mapreduce_wsi_spark.plans.q_tpch_more  # noqa: F401
    import mapreduce_wsi_spark.plans.q_extras  # noqa: F401
    import mapreduce_wsi_spark.plans.q_functions  # noqa: F401
    import mapreduce_wsi_spark.plans.q_streaming  # noqa: F401
    import mapreduce_wsi_spark.plans.q_llm  # noqa: F401
    import mapreduce_wsi_spark.plans.q_pipeline  # noqa: F401
    import mapreduce_wsi_spark.plans.q_reference  # noqa: F401
    import mapreduce_wsi_spark.plans.q_lakehouse  # noqa: F401
    import mapreduce_wsi_spark.plans.q_events  # noqa: F401
    import mapreduce_wsi_spark.plans.q_eval  # noqa: F401
    import mapreduce_wsi_spark.plans.q_graph  # noqa: F401
    import mapreduce_wsi_spark.plans.q_curation  # noqa: F401
    import mapreduce_wsi_spark.plans.q_curation2  # noqa: F401
    import mapreduce_wsi_spark.plans.q_round12  # noqa: F401
    import mapreduce_wsi_spark.plans.q_round13  # noqa: F401
    import mapreduce_wsi_spark.plans.q_round14  # noqa: F401
    ordered = {name: CATALOG[name] for name in DRIVER_WINDOW}
    for name, e in CATALOG.items():
        if name not in ordered:
            ordered[name] = e
    CATALOG.clear()
    CATALOG.update(ordered)
    return CATALOG
