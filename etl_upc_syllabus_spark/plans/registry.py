"""Query registry: the single source of truth for the driver contract.

Every operator class from SURVEY.md section 2 (plus the LLM-pipeline
extension) registers one QuerySpec here: a Spark callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, the
equivalent DuckDB oracle SQL. ``__spark_entry__.py`` re-exports the
two maps.

Oracle-parity ground rules (applied in every spec, both engines):

- output columns are only string / int / bigint / double -- never raw
  timestamp or date (timezone + dtype drift across engines);
- every derived integer is cast to BIGINT on the Spark side (Spark
  ``size``/``length``/``year`` return int32, DuckDB returns int64);
- every float aggregate is ``round(x, N)`` with the same N on both
  sides (summation order differs across engines; rounding makes the
  hash stable);
- collected lists are sorted then joined to a single string
  (``array_join(sort_array(collect_list(..)))`` vs
  ``string_agg(.. ORDER BY ..)``) -- list order is nondeterministic in
  any parallel engine, exactly as it was in the reference's
  thread-pool (reference etl_pipeline.py:39-41).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in _REGISTRY:
        raise ValueError(f"duplicate query name {spec.name!r}")
    _REGISTRY[spec.name] = spec
    return spec


def query(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator form of :func:`register`."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        register(QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc, tags=tags))
        return fn

    return deco


def _load_all() -> None:
    """Import every module that registers specs (idempotent).

    Import order matters only as a tiebreak inside the two verification
    tiers (see ``all_specs``); modules whose queries still need a first
    driver verdict are imported first.
    """
    from . import stats_queries  # noqa: F401
    from . import events_queries  # noqa: F401
    from . import graph_queries  # noqa: F401
    from . import curation_queries  # noqa: F401
    from . import scd_queries  # noqa: F401
    from . import tpch_gap_queries  # noqa: F401
    from . import streaming_queries  # noqa: F401
    from . import text_queries  # noqa: F401
    from . import sampling_queries  # noqa: F401
    from . import similarity_queries  # noqa: F401
    from . import relational  # noqa: F401
    from . import pipeline_queries  # noqa: F401
    from . import extended_queries  # noqa: F401
    from . import dedup_queries  # noqa: F401
    from . import multimodal_queries  # noqa: F401


# Queries that already have a green rows+schema+hash verdict in
# CORRECTNESS_r01.json. The driver's correctness pass walks the
# queries() dict in order and has a bounded budget (round 1 stopped
# after the first 50 entries), so queries WITHOUT a verdict yet are
# ordered first -- across rounds every name then has a green row.
# _verified_names() extends this baseline from any CORRECTNESS_r*.json
# found in the repo root, so later rounds re-prioritize automatically.
_R1_VERIFIED = frozenset(
    {
        "dedup_exact",
        "dedup_minhash_bands",
        "dedup_minhash_lsh",
        "dedup_cluster_components",
        "dedup_ngram_jaccard",
        "dedup_simhash",
        "join_asof",
        "window_range_frame",
        "json_struct_extract",
        "text_chunking",
        "dedup_embedding_cosine",
        "grouped_map_rank",
        "pandas_udf_scalar",
        "hypertable_rollup",
        "skew_salted_join",
        "map_functions",
        "unpivot_melt",
        "join_interval_bucketed",
        "sql_passthrough",
        "source_format_roundtrip",
        "multimodal_media_meta",
        "multimodal_frame_sample",
        "multimodal_resize",
        "syllabus_calendar",
        "syllabus_quarantine_counts",
        "q1_pricing_summary",
        "agg_distinct",
        "agg_rollup",
        "agg_cube",
        "agg_grouping_sets",
        "agg_percentiles",
        "q3_shipping_priority",
        "q5_region_revenue",
        "join_semi",
        "join_anti",
        "join_range_nonequi",
        "join_broadcast_dims",
        "join_left_groupby",
        "window_running_sum",
        "window_topk_per_group",
        "window_lag_delta",
        "sort_topk",
        "scan_filter_project",
        "case_when_bands",
        "agg_stats",
        "window_ntile_dist",
        "q4_priority_exists",
        "q6_forecast_revenue",
        "q13_order_distribution",
    }
)


# Names the round-3 VERDICT identified as broken against the regenerated
# events fixture whose NEWEST CORRECTNESS entry is nonetheless a stale
# green (they fell outside the r3 bounded check window, or failed
# silently -- 1970-era windows -- rather than erroring). Forced to round
# 0 so the r4 re-check window is guaranteed to refresh them; the driver
# writing fresh green entries for them makes this set a no-op afterward.
_STALE_GREEN_BROKEN = frozenset(
    {
        "try_cast_quarantine",
        "stream_sessionization",
        "stream_window_counts",
        "stream_sliding_window",
        "stream_stream_join",
    }
)


# Sanctioned plan+oracle swaps: name -> round the swap shipped in.
# A swapped query's green history belongs to the PRE-swap plan shape,
# so until the driver records a verdict from the swap round or later,
# the name is forced to tier 0 (ahead of every cohort) -- the swap
# round's bounded ~50-entry window then verifies the new fn against
# the new oracle together. Only a GREEN verdict at/after the swap
# round lifts the demotion (review r12: a broken or rows-only record
# does not -- the new plan is unverified until it hash-matches its
# new oracle); after that the normal ordering takes back over.
_PLAN_SWAPPED: dict[str, int] = {
    # r12: banded corpus-scaled LSH replaced the fixed 8-plane
    # single-band shape (VERDICT r10 item 3 sanction; executed r12 --
    # see extended_queries.py docstring)
    "dedup_embedding_cosine": 12,
}


def _verification_rounds(root: str | None = None) -> dict[str, int]:
    """name -> effective verification round for re-check ordering.

    Reads the driver-written CORRECTNESS_r*.json files from ``root``
    (default: the repo root) when present: a green rows+schema+hash
    verdict advances the name to that round (folding in the static r1
    baseline at round 1). A name whose NEWEST entry is broken (``err``
    recorded or ``hash_match`` explicitly false) maps to round 0
    regardless of any older green verdict -- a stale green must never
    outrank a fresh failure, or a regression (like the r3 fixture-type
    change) could sit outside the driver's bounded ~50-query re-check
    window while looking verified. The ``root`` parameter exists so
    tests can exercise this logic against synthetic records (ADVICE
    r4) instead of the live repo files.
    """
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    rounds: dict[str, int] = {name: 1 for name in _R1_VERIFIED}
    latest: dict[str, tuple[int, bool]] = {}  # name -> (round, broken)
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 1
        try:
            with open(path, encoding="utf-8") as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if isinstance(data, dict):
            for k, v in data.items():
                if not isinstance(v, dict):
                    continue
                if v.get("hash_match") is True:
                    rounds[k] = max(rounds.get(k, 0), rnd)
                broken = v.get("err") is not None or v.get("hash_match") is False
                if k not in latest or rnd > latest[k][0]:
                    latest[k] = (rnd, broken)
    for k, (_, broken) in latest.items():
        if broken:
            rounds[k] = 0
    for k in _STALE_GREEN_BROKEN:
        # trust any round-4+ driver record over the static r3 verdict
        if k not in latest or latest[k][0] <= 3:
            rounds[k] = 0
    for k, swap_round in _PLAN_SWAPPED.items():
        # pre-swap green verdicts vouch for the OLD plan shape only:
        # demote unless a GREEN verdict exists at/after the swap round
        # (review r12: keying on latest-record EXISTENCE left a
        # neither-green-nor-broken >=swap-round record -- e.g. a
        # rows-only check -- cancelling the demotion with the new plan
        # still unverified)
        if rounds.get(k, 0) < swap_round:
            rounds[k] = 0
    return rounds


def _verified_names() -> frozenset[str]:
    """Names whose CURRENT plan shape has a standing green verdict.

    Tier-0 names are excluded (review r12): a name demoted to round 0
    -- broken-latest, stale-green-broken, or a _PLAN_SWAPPED entry
    whose green history belongs to the pre-swap plan -- is exactly
    what ``verify_local --unverified`` exists to re-run, so counting
    its key as 'verified' would hide it from the one tool meant to
    catch it.
    """
    return frozenset(k for k, v in _verification_rounds().items() if v > 0)


def all_specs() -> dict[str, QuerySpec]:
    """Registry contents, stalest-verdict-first.

    The driver verifies the FIRST ~50 entries each round, so ordering
    is the re-verification schedule: never-verified names first, then
    verified names by ascending last-green round (r1-verified before
    r2-verified, ...), so the bounded per-round pass always refreshes
    the entries whose verdicts are oldest. Registration order is
    preserved within each tier (stable sort).
    """
    _load_all()
    rounds = _verification_rounds()
    items = sorted(_REGISTRY.items(), key=lambda kv: rounds.get(kv[0], 0))
    return dict(items)


def queries_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql_map() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None}
