"""Non-finite embedding posture (r9 probe, tools/nan_probe.py).

Two hostile element classes the r8 sweeps never injected:

- **NaN / +-Infinity elements** (fp16 overflow at export, broken
  normalizers): measured 11/11 value-parity across engines on the full
  embedding-reading registry family -- both Spark and DuckDB order NaN
  greater than every double and agree on round(NaN)/round(inf), so
  rankings and hashes match. Pinned here on a representative subset.
- **NULL elements inside a non-NULL vector** (parquet allows them;
  pandas->Arrow conversion PRODUCES them silently from NaN): was
  measured divergence in r9 (Spark's zip_with/aggregate
  null-propagated whole dot products while SQL SUM skipped NULLs,
  plus a driver-side TypeError in the PQ family's codebook collect).
  The r10 element-level contract (operators/similarity.py
  ``indexable``: a vector with any NULL element is non-indexable,
  excluded on BOTH engine sides; a corrupt prefix SEED drops out of
  the codebook with its original id preserved as the code) turned
  the full probe green: ``nan_probe --mode elemnull`` reads 11/11
  oracle parity. Pinned here on a representative subset plus the
  corrupt-seed codebook semantics.

The events leg's pandas-rank divergence (grouped_map_rank) is also
closed in r10: the JVM sort ahead of the scan puts NaN FIRST under
DESC, matching both engines' NaN-greater-than-all convention (events
probe 32/38, all 6 residuals loud DECIMAL/BIGINT cast refusals + the stateful mid-batch
death, guarded by quarantine_nonfinite).
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from nan_probe import build_nonfinite_fixture  # noqa: E402

from etl_upc_syllabus_spark.plans import all_specs

from .oracle_harness import compare, duckdb_run

NAN_SUBSET = [
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    "similarity_topk_ivf_pq_rerank",
    "embedding_outlier_detection",
]


@pytest.fixture(scope="module")
def nan_fixture(tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("nanfix"))
    build_nonfinite_fixture("/root/testdata/sf0.001", dest, mode="nan")
    return dest


@pytest.fixture(scope="module")
def elemnull_fixture(tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("elemnullfix"))
    build_nonfinite_fixture("/root/testdata/sf0.001", dest, mode="elemnull")
    return dest


@pytest.mark.parametrize("name", NAN_SUBSET)
def test_nan_inf_embeddings_keep_oracle_parity(spark, nan_fixture, name):
    spec = all_specs()[name]
    sdf = spec.fn(spark, nan_fixture)
    odf = duckdb_run(spec.oracle, nan_fixture)
    compare(sdf, odf, f"{name}@nan")


ELEMNULL_SUBSET = [
    # the r9 TypeError class (driver-side codebook collect), incl. the
    # corrupt-SEED case: fixture id 2 sits in every prefix codebook
    "embedding_pq_encode",
    "similarity_topk_ivf_pq",
    # the r9 silent-divergence class (null-propagated dot products)
    "similarity_topk_bruteforce",
    "similarity_kmeans_lloyd",
    "dedup_embedding_cosine",
]


@pytest.mark.parametrize("name", ELEMNULL_SUBSET)
def test_element_null_vectors_keep_oracle_parity(spark, elemnull_fixture, name):
    """The r10 element-level NULL contract, pinned (flipped from the r9
    documented-UB crash pin on purpose): vectors with NULL elements are
    non-indexable on BOTH engine sides (similarity.indexable /
    _fragments.dims_cte), so the formerly silent-divergent dot-product
    family and the formerly TypeError-crashing PQ family now match the
    oracle value-for-value. Full family: nan_probe --mode elemnull,
    11/11."""
    spec = all_specs()[name]
    sdf = spec.fn(spark, elemnull_fixture)
    odf = duckdb_run(spec.oracle, elemnull_fixture)
    compare(sdf, odf, f"{name}@elemnull")


def test_corrupt_prefix_seed_drops_with_original_ids(spark):
    """A prefix-seed vector that EXISTS but is non-indexable drops out
    of the PQ codebook with the surviving seeds' ORIGINAL ids as codes
    (the oracle's cdims carries vec_id as cid, so a positional renumber
    would silently mis-join the ADC LUT); an id ABSENT from the corpus
    must still raise the loud configuration error."""
    from etl_upc_syllabus_spark.operators import similarity as sim

    rows = [(i, [float(i * 8 + j) for j in range(8)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    poisoned = df.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 2,
            F.array(*([F.lit(None).cast("double")] + [F.lit(float(j)) for j in range(7)])),
        ).otherwise(F.col("embedding")),
    )
    out = sim.pq_encode(poisoned, m=2, k=4, dim=8)
    codes = {r["code"] for r in out.collect()}
    ids = {r["id"] for r in out.select("id").distinct().collect()}
    assert codes <= {0, 1, 3}, f"corrupt seed 2 must vanish from codes, got {codes}"
    assert 2 not in ids, "the corrupt vector itself must not be encoded"
    assert 3 in codes, "surviving seed keeps its ORIGINAL id as the code"

    # an id absent from the corpus is still a loud configuration error
    gapped = df.filter(F.col("vec_id") != 2)
    with pytest.raises(ValueError, match="seed vectors"):
        sim.pq_encode(gapped, m=2, k=4, dim=8).count()


def test_whole_null_prefix_seed_raises_loudly(spark):
    """The prefix-seed asymmetry, pinned as the chosen contract
    (ADVICE r10): a WHOLE-NULL seed vector raises the same loud
    configuration error as an absent id (the ungated-corpus signature;
    the DuckDB oracle would silently build a smaller codebook -- the
    divergence is loud, never silent), while an ELEMENT-NULL seed
    drops (test_corrupt_prefix_seed_drops_with_original_ids above).
    The all-NULL corpus must KEEP routing to the clean empty-encode
    branch -- the isNotNull prefilter in _prefix_vectors is what makes
    that guard ("no indexable vector exists, nothing collected") hold,
    which is why the asymmetry is load-bearing, not an oversight."""
    from etl_upc_syllabus_spark.operators import similarity as sim

    rows = [(i, [float(i * 8 + j) for j in range(8)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    whole_null = df.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 2, F.lit(None).cast("array<double>")).otherwise(
            F.col("embedding")
        ),
    )
    # pq_encode, ADC, and IVFADC+rerank all share _prefix_vectors: the
    # whole-NULL seed must be loud on each entry point
    with pytest.raises(ValueError, match="seed vectors"):
        sim.pq_encode(whole_null, m=2, k=4, dim=8).count()
    with pytest.raises(ValueError, match="codebook ids missing"):
        sim.pq_adc_topk(whole_null, m=2, kc=4, dim=8, n_queries=4, k=3).count()

    # ...and the all-NULL corpus still takes the clean empty branch
    all_null = df.withColumn("embedding", F.lit(None).cast("array<double>"))
    assert sim.pq_encode(all_null, m=2, k=4, dim=8).count() == 0
    assert sim.pq_adc_topk(all_null, m=2, kc=4, dim=8, n_queries=4, k=3).count() == 0


def test_indexable_predicate(spark):
    """indexable() = non-NULL and no NULL element; the empty vector is
    (vacuously) indexable -- its exclusion elsewhere is by zero dims
    rows, not by this predicate."""
    from etl_upc_syllabus_spark.operators.similarity import indexable

    rows = [
        (1, [1.0, 2.0]),
        (2, None),
        (3, [1.0, None]),
        (4, []),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = {r["id"]: r["ok"] for r in df.select("id", indexable("v").alias("ok")).collect()}
    assert got == {1: True, 2: False, 3: False, 4: True}


def test_grouped_map_rank_nan_sorts_first_like_sql(spark, tmp_path):
    """The r9 events-probe divergence, closed: pandas sort_values puts
    NaN last by default where SQL row_number(ORDER BY value DESC) puts
    NaN first (NaN > every double in Spark AND DuckDB) -- the JVM sort
    ahead of the scan ranks a poisoned value 1 in both engines. Also
    run at 2-row Arrow batches, where a NULL-user run and a non-NULL
    run each continue across batches, so the rank carry is checked
    against DuckDB row_number() too."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    import duckdb

    ts = pd.Timestamp("2024-01-01")
    users = [7] * 4 + [None] * 5 + [3] * 5 + [5]
    values = [5.0, float("nan"), 9.0, 1.0, 3.0, 2.0, 8.0, 2.0, 6.0, 1.0, 1.0, 1.0, 4.0, 0.0, 2.0]
    n = len(users)
    tbl = pa.table(
        {
            "event_id": pa.array(range(1, n + 1), type=pa.int64()),
            "ts": pa.array([ts] * n, type=pa.timestamp("us")),
            "user_id": pa.array(users, type=pa.int64()),
            "event_type": pa.array(["a"] * n),
            "value": pa.array(values, type=pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    spec = all_specs()["grouped_map_rank"]
    want = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"""SELECT event_id, row_number() OVER (
                    PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
                FROM '{tmp_path}/events.parquet'"""
        ).fetchall()
    }
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    try:
        for batch_rows in (saved, "2"):
            spark.conf.set(key, batch_rows)
            got = {
                r["event_id"]: r["rnk"] for r in spec.fn(spark, str(tmp_path)).collect()
            }
            assert got == want, batch_rows
            assert got[2] == 1, "NaN must take rank 1 under DESC, as in SQL"
    finally:
        spark.conf.set(key, saved)


def test_quarantine_nonfinite_splits_and_names_culprits(spark):
    """The ingestion guard the events probe motivates: non-finite
    scalars split from the clean stream with per-column culprit names;
    NULL stays clean (absent is legal, poisoned is not); downstream
    decimal aggregation of the CLEAN side then agrees across engines
    by construction."""
    from etl_upc_syllabus_spark.operators.curation import quarantine_nonfinite

    rows = [
        (1, 1.0, 2.0),
        (2, float("nan"), 2.0),
        (3, 1.0, float("inf")),
        (4, float("-inf"), float("nan")),
        (5, None, 2.0),
    ]
    df = spark.createDataFrame(rows, "id long, a double, b double")
    clean, quar = quarantine_nonfinite(df)
    assert sorted(r["id"] for r in clean.collect()) == [1, 5]
    got = {r["id"]: r["quarantine_reason"] for r in quar.collect()}
    assert got == {2: "nonfinite:a", 3: "nonfinite:b", 4: "nonfinite:a,b"}

    # no float columns: everything is clean, empty quarantine
    ints = spark.createDataFrame([(1,)], "id long")
    c2, q2 = quarantine_nonfinite(ints)
    assert c2.count() == 1 and q2.count() == 0


EVENTS_NAN_SUBSET = [
    "events_hourly_profile",
    "events_funnel_conversion",
    "window_lag_delta",
    "events_debounce",
]


@pytest.fixture(scope="module")
def events_nan_fixture(tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("evnanfix"))
    build_nonfinite_fixture("/root/testdata/sf0.001", dest, mode="events")
    return dest


@pytest.mark.parametrize("name", EVENTS_NAN_SUBSET)
def test_nonfinite_event_values_keep_oracle_parity(spark, events_nan_fixture, name):
    """The 31-green leg of the events probe, pinned on a subset: NaN /
    +-Inf event values flow through windows, funnels, debounce, and
    hourly profiles identically in both engines (the 7 measured
    exceptions -- poisoned DECIMAL/BIGINT casts and pandas rank -- are
    documented UB in BASELINE.md, guarded by quarantine_nonfinite)."""
    spec = all_specs()[name]
    sdf = spec.fn(spark, events_nan_fixture)
    odf = duckdb_run(spec.oracle, events_nan_fixture)
    compare(sdf, odf, f"{name}@events-nan")


def test_quarantine_gate_keeps_stateful_stream_alive(spark, events_nan_fixture):
    """The probe's worst measured posture, then the guard fixing it:
    a single poisoned event value kills the stateful
    applyInPandasWithState stream mid-batch (loud, but in production
    that is an outage); the same stream behind quarantine_nonfinite
    completes and its totals equal the batch groupBy over the clean
    rows -- the documented pre-aggregation composition."""
    from etl_upc_syllabus_spark.operators.curation import quarantine_nonfinite
    from etl_upc_syllabus_spark.sources.tables import load_table
    from etl_upc_syllabus_spark.streaming import stateful as st
    from etl_upc_syllabus_spark.streaming.events import (
        read_events_stream,
        run_stream_to_table,
    )

    # posture: ungated stream dies on the poisoned micro-batch
    with pytest.raises(Exception):
        st.stream_user_totals(spark, events_nan_fixture).collect()

    # the documented one-knob form (r10): gated=True survives and
    # equals the explicit composition below
    knob = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in st.stream_user_totals(
            spark, events_nan_fixture, gated=True
        ).collect()
    }

    # guard: gate the stream, run to completion
    stream = read_events_stream(spark, events_nan_fixture)
    clean, _ = quarantine_nonfinite(stream, cols=["value"])
    out = run_stream_to_table(st.running_user_totals(clean), "update")
    got = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_cents").alias("total_cents"),
        )
        .collect()
    }

    # oracle: batch groupBy over the same gated rows
    batch = load_table(spark, events_nan_fixture, "events")
    bclean, _ = quarantine_nonfinite(batch, cols=["value"])
    want = {
        r["user_id"]: (r["n"], r["cents"])
        for r in bclean.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    assert got == want and got
    assert knob == want, "gated=True must equal the explicit composition"


def test_quarantine_nonfinite_no_float_cols_is_stream_safe(spark, events_nan_fixture):
    """Review fix: the no-float-columns branch used limit(0), which is
    unsupported on streaming Datasets -- the empty split must stay
    startable as a stream on both sides."""
    from etl_upc_syllabus_spark.operators.curation import quarantine_nonfinite
    from etl_upc_syllabus_spark.streaming.events import (
        read_events_stream,
        run_stream_to_table,
    )

    stream = read_events_stream(spark, events_nan_fixture).select(
        "event_id", "ts", "event_type"
    )  # no float columns left
    clean, quar = quarantine_nonfinite(stream)
    assert clean.isStreaming and quar.isStreaming
    out = run_stream_to_table(
        clean.withWatermark("ts", "10 seconds")
        .groupBy("event_type")
        .count(),
        "update",
    )
    assert out.count() > 0


# --- ragged vector widths (r10 probe: nan_probe --mode ragged) --------------


@pytest.fixture(scope="module")
def ragged_fixture(tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("raggedfix"))
    build_nonfinite_fixture("/root/testdata/sf0.001", dest, mode="ragged")
    return dest


def test_quarantine_vector_width_splits_and_derives_mode(spark):
    """The ragged-width ingestion gate: modal-width derivation (ties to
    the larger width), explicit dim override, NULL vectors stay clean
    (absent is legal, mis-shaped is not), uniform 'width:<w>!=<dim>'
    reason format, and a streaming input without dim= raises."""
    from etl_upc_syllabus_spark.operators.curation import quarantine_vector_width

    rows = [
        (1, [1.0, 2.0, 3.0]),
        (2, [1.0, 2.0, 3.0]),
        (3, [1.0, 2.0, 3.0]),
        (4, [1.0, 2.0]),
        (5, [1.0, 2.0, 3.0, 4.0, 5.0]),
        (6, None),
        (7, []),
    ]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    clean, quar = quarantine_vector_width(df)
    assert sorted(r["id"] for r in clean.collect()) == [1, 2, 3, 6]
    got = {r["id"]: r["quarantine_reason"] for r in quar.collect()}
    assert got == {4: "width:2!=3", 5: "width:5!=3", 7: "width:0!=3"}

    # explicit contract width overrides the modal derivation
    clean2, quar2 = quarantine_vector_width(df, dim=2)
    assert sorted(r["id"] for r in clean2.collect()) == [4, 6]

    # tie between widths breaks to the LARGER (truncation is the
    # common corruption, so the longer side is the likelier contract)
    tie = spark.createDataFrame(
        [(1, [1.0]), (2, [1.0, 2.0])], "id long, embedding array<double>"
    )
    c3, _ = quarantine_vector_width(tie)
    assert [r["id"] for r in c3.collect()] == [2]

    # all-NULL / empty corpus: schema-stable no-op split
    c4, q4 = quarantine_vector_width(df.filter(F.col("id") == 6))
    assert c4.count() == 1 and q4.count() == 0
    assert "quarantine_reason" in q4.columns

    # streaming without dim= cannot derive a mode: loud, not wrong
    from etl_upc_syllabus_spark.streaming.events import read_events_stream

    stream = read_events_stream(spark, "/root/testdata/sf0.001").withColumn(
        "embedding", F.array(F.col("value"))
    )
    with pytest.raises(ValueError, match="streaming input needs an explicit dim"):
        quarantine_vector_width(stream)
    gc, gq = quarantine_vector_width(stream, dim=1)  # explicit dim: fine
    assert gc.isStreaming and gq.isStreaming


def test_ragged_vectors_gated_restores_parity(spark, ragged_fixture, tmp_path):
    """The documented composition closes the measured ragged UB (1/11
    parity, 6 silent, 4 loud -- nan_probe --mode ragged): ANN over the
    gate's CLEAN side equals the oracle over a corpus with the ragged
    rows physically absent. Registry plans stay untouched (frozen
    cohorts); the gate is where the contract is enforced."""
    import shutil

    import pyarrow.parquet as pq

    from etl_upc_syllabus_spark.operators import similarity as sim
    from etl_upc_syllabus_spark.operators.curation import quarantine_vector_width
    from etl_upc_syllabus_spark.sources.tables import TABLES, load_table

    # oracle-side corpus: the ragged fixture with the mutated ids
    # physically removed (what the gate's clean side SHOULD equal)
    cleaned = str(tmp_path / "cleaned")
    os.makedirs(cleaned)
    for t in TABLES:
        src = os.path.join(ragged_fixture, f"{t}.parquet")
        dst = os.path.join(cleaned, f"{t}.parquet")
        if t == "embeddings":
            tbl = pq.read_table(src)
            mask = [v not in (2, 12, 30, 31) for v in tbl.column("vec_id").to_pylist()]
            pq.write_table(tbl.filter(mask), dst)
        elif os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copyfile(src, dst)

    emb = load_table(spark, ragged_fixture, "embeddings")
    clean, quar = quarantine_vector_width(emb)
    assert sorted(r["vec_id"] for r in quar.select("vec_id").collect()) == [2, 12, 30, 31]

    spec = all_specs()["similarity_topk_bruteforce"]
    sdf = sim.cosine_topk_bruteforce(clean, k=5)
    odf = duckdb_run(spec.oracle, cleaned)
    compare(sdf, odf, "bruteforce@ragged-gated")


def test_all_corrupt_prefix_codebook_raises_loudly(spark):
    """Review r10 finding #1: when EVERY prefix seed exists but is
    non-indexable, there is no codebook at all -- that much data loss
    must raise the configuration error, not build a zero-struct
    candidate array (pq_encode) or silently return an empty top-k
    (the ADC paths)."""
    from etl_upc_syllabus_spark.operators import similarity as sim

    rows = [(i, [float(i * 8 + j) for j in range(8)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    poisoned = df.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") < 4,
            F.array(*([F.lit(None).cast("double")] * 8)),
        ).otherwise(F.col("embedding")),
    )
    for op in (
        lambda: sim.pq_encode(poisoned, m=2, k=4, dim=8),
        lambda: sim.pq_adc_topk(poisoned, m=2, kc=4, dim=8),
        lambda: sim.ivf_pq_adc_topk(poisoned, m=2, kc=4, dim=8),
    ):
        with pytest.raises(ValueError, match="non-indexable"):
            op().count()


def test_all_empty_width_corpus_raises_loudly(spark):
    """Review r10 finding #2 companion: a corpus whose every non-NULL
    vector is EMPTY has no derivable width contract -- loud, not a
    dim=0 election that would quarantine healthy vectors on a
    majority-empty corpus."""
    from etl_upc_syllabus_spark.operators.curation import quarantine_vector_width

    df = spark.createDataFrame(
        [(1, []), (2, []), (3, None)], "id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="every non-NULL vector is empty"):
        quarantine_vector_width(df)
    # majority-empty corpus: mode derives over POSITIVE widths only
    df2 = spark.createDataFrame(
        [(1, []), (2, []), (3, [1.0, 2.0])], "id long, embedding array<double>"
    )
    clean, quar = quarantine_vector_width(df2)
    assert [r["id"] for r in clean.collect()] == [3]
    assert sorted(r["id"] for r in quar.collect()) == [1, 2]


# --- extreme timestamps (r10 probe: tools/ts_probe.py) ----------------------


def test_quarantine_timestamp_range_splits_and_is_stream_safe(spark, tmp_path):
    """The calendar-edge gate: out-of-range timestamps split with the
    uniform reason, NULL stays clean, bounds are half-open, and the
    gate is a pure filter so it starts on a stream (it belongs BEFORE
    the watermark)."""
    import datetime as dt

    from etl_upc_syllabus_spark.operators.curation import quarantine_timestamp_range
    from etl_upc_syllabus_spark.streaming.events import read_events_stream

    rows = [
        (1, dt.datetime(2024, 5, 1)),
        (2, dt.datetime(1899, 12, 31, 23, 59, 59)),
        (3, dt.datetime(9999, 12, 31)),
        (4, dt.datetime(1900, 1, 1)),       # lo is inclusive
        (5, dt.datetime(2100, 1, 1)),       # hi is exclusive
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    clean, quar = quarantine_timestamp_range(df)
    assert sorted(r["id"] for r in clean.collect()) == [1, 4, 6]
    got = {r["id"]: r["quarantine_reason"] for r in quar.collect()}
    assert set(got) == {2, 3, 5}
    assert all(v.startswith("ts_out_of_range:") for v in got.values())

    stream = read_events_stream(spark, "/root/testdata/sf0.001")
    sc, sq = quarantine_timestamp_range(stream)
    assert sc.isStreaming and sq.isStreaming


def test_year_10000_formatting_split_is_real(spark):
    """Root fact (ts_probe, stream_sessionization divergence):
    arithmetic that crosses year 10000 renders with an ISO explicit
    '+' five-digit year in Spark but without it in DuckDB -- flipping
    string sorts and hashes. If this pin fails, the engines changed
    and the probe posture should be re-measured."""
    import duckdb

    sp = spark.sql(
        "SELECT cast(timestamp'9999-12-31 23:59:59' + interval 5 minutes AS string) AS t"
    ).collect()[0]["t"]
    du = duckdb.sql(
        "SELECT cast(timestamp '9999-12-31 23:59:59' + interval 5 minutes AS varchar)"
    ).fetchone()[0]
    assert sp.startswith("+10000-"), sp
    assert du.startswith("10000-"), du


def test_pre_epoch_event_is_unconditionally_late_on_fresh_streams(spark, tmp_path):
    """Root fact (ts_probe gated residual): a fresh Structured
    Streaming query starts with watermark = epoch ZERO, so any event
    whose window ends at or before 1970-01-01 00:00:00 is dropped as
    late in its very first micro-batch -- while the batch oracle
    counts it. One fat-fingered pre-epoch timestamp silently loses a
    window; trusted-pre-epoch history must be processed in BATCH, or
    the stream gated with quarantine_timestamp_range and the
    quarantined side reconciled separately."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = {
        "event_id": [1, 2, 3],
        "ts": [dt.datetime(1969, 12, 31, 23, 59, 59), base,
               base + dt.timedelta(minutes=1)],
        "user_id": [7, 7, 7],
        "event_type": ["a", "a", "a"],
        "value": [1.0, 1.0, 1.0],
        "props": ["{}", "{}", "{}"],
    }
    tbl = pa.table({
        "event_id": pa.array(rows["event_id"], pa.int64()),
        "ts": pa.array(rows["ts"], pa.timestamp("us")),
        "user_id": pa.array(rows["user_id"], pa.int64()),
        "event_type": pa.array(rows["event_type"]),
        "value": pa.array(rows["value"], pa.float64()),
        "props": pa.array(rows["props"]),
    })
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    spec = all_specs()["stream_window_counts"]
    stream_windows = spec.fn(spark, str(tmp_path)).count()
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    batch_windows = len(con.execute(spec.oracle).fetchall())
    assert batch_windows == stream_windows + 1, (
        f"expected the pre-epoch window to be dropped by the fresh "
        f"stream (batch {batch_windows} vs stream {stream_windows})"
    )


# --- malformed JSON (r10 probe: tools/json_probe.py) ------------------------


def test_malformed_json_row_degrades_and_gate_quarantines(spark, tmp_path):
    """Root facts (json_probe): on malformed props payloads the two
    engines take OPPOSITE philosophies -- Spark's from_json/variant
    path degrades PER ROW (NULL) so every query completes and the
    repo's own gate (try_cast_quarantine) routes the bad rows to
    'quarantine', while DuckDB's strict json_extract refuses the WHOLE
    query at the first malformed byte. Not a correctness defect here:
    the engine-side behavior is the desired 100 TB posture (one bad
    payload must not kill a scan) and is pinned; the oracle refusal is
    pinned as the cross-engine fact."""
    import sys

    import duckdb
    import pytest

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    from json_probe import JSON_MUTATIONS, build_json_fixture

    fixture = str(tmp_path / "jsonfix")
    build_json_fixture("/root/testdata/sf0.001", fixture)

    spec = all_specs()["try_cast_quarantine"]
    out = spec.fn(spark, fixture)
    routes = {r["props"]: (r["route"], r["k_val"]) for r in out.collect()}
    # the measured per-class table (json_probe, r10): 8 classes
    # quarantine; two parse to a VALUE -- duplicate keys are RFC-legal
    # and BOTH engines take the FIRST key (k=1, verified below), and
    # trailing garbage is Spark-lenient (leading valid JSON wins)
    # where DuckDB refuses loudly -- never silent-wrong on either side
    expected = {
        "truncated": ("quarantine", None),
        "garbage": ("quarantine", None),
        "wrong_type": ("quarantine", None),
        "nested": ("quarantine", None),
        "empty_string": ("quarantine", None),
        "bare_null": ("quarantine", None),
        "duplicate_keys": ("ok", 1),
        "trailing_garbage": ("ok", 1),
        "overflow_number": ("quarantine", None),
        "lone_surrogate_escape": ("quarantine", None),
    }
    for _id, (label, payload) in JSON_MUTATIONS.items():
        if payload in routes:
            assert routes[payload] == expected[label], (label, routes[payload])

    # dup-keys parity fact: DuckDB also takes the FIRST key
    assert duckdb.sql(
        """SELECT json_extract('{"k":1,"k":2}', '$.k')"""
    ).fetchone()[0] == "1"

    # the other two JSON readers complete row-degraded (no crash)
    assert all_specs()["json_struct_extract"].fn(spark, fixture).count() == 1000

    # cross-engine fact: strict json_extract refuses the whole corpus
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{fixture}/events.parquet'")
    with pytest.raises(duckdb.InvalidInputException):
        con.execute(spec.oracle).fetchall()


def test_swapped_cosine_holds_the_hostile_contracts(spark, elemnull_fixture, nan_fixture):
    """The banded dedup_embedding_cosine (live in the registry since
    the r12 swap) holds the element-NULL and NaN/Inf contracts the
    pre-swap shape was pinned on: oracle parity on both hostile
    fixtures (the fn filters similarity.indexable; its oracle shares
    the dims CTE guard and counts indexable vectors for the ppb
    derivation)."""
    from etl_upc_syllabus_spark.plans import all_specs

    spec = all_specs()["dedup_embedding_cosine"]
    for label, fixture in (("elemnull", elemnull_fixture), ("nan", nan_fixture)):
        sdf = spec.fn(spark, fixture)
        odf = duckdb_run(spec.oracle, fixture)
        compare(sdf, odf, f"staged_twin@{label}")
