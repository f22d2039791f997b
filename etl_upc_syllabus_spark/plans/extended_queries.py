"""Extended operator coverage: as-of join, range window frames,
from_json, document chunking (UDTF shape), embedding-cosine near-dup,
grouped-map rank (sorted-group scan), and the Arrow scalar-UDF seam
(SURVEY.md 2.3 absent-joins, 2.5 frames, 2.8 json, 2.10 UDF surface).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from ..operators.asof import asof_join
from ..operators.sessions import sorted_group_scan
from ..operators import textanalysis as ta
from ..sources.tables import fan_out, load_table
from . import _fragments as fr
from .registry import query


@query(
    "join_asof",
    """
    SELECT p.event_id, p.user_id,
           coalesce(c.event_id, -1) AS last_click_id,
           coalesce(epoch_us(p.ts) - epoch_us(c.ts), -1) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
    doc="As-of join (absent in both the reference and native Spark): for "
    "each purchase, the user's most recent click at-or-before it. "
    "Composed as union + tag-sort + last(ignorenulls) over an unbounded "
    "frame -- one shuffle on the key, no Python (operators/asof.py). "
    "Oracle uses DuckDB's native ASOF JOIN.",
    tags=("join", "asof"),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    joined = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts", right_cols=["event_id", "ts"]
    )
    return joined.select(
        "event_id",
        "user_id",
        F.coalesce("asof_event_id", F.lit(-1)).alias("last_click_id"),
        F.coalesce(
            F.unix_micros("ts") - F.unix_micros("asof_ts"), F.lit(-1)
        ).alias("gap_us"),
    )


@query(
    "window_range_frame",
    """
    SELECT event_id, user_id,
           count(*) OVER w AS n_last_hour,
           CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS val_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    doc="RANGE window frame (value-based, vs the ROWS frames elsewhere): "
    "per-user trailing-hour event count and exact-decimal value sum, "
    "ordered by epoch microseconds so the frame bound is integer-exact.",
    tags=("window", "range-frame"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.sum(F.col("value").cast("decimal(12,2)")).over(w).cast("double").alias("val_last_hour"),
    )


@query(
    "json_struct_extract",
    """
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(length(props) AS BIGINT)                         AS props_len
    FROM events
    """,
    doc="Schema-on-read JSON: from_json with an explicit struct schema "
    "(never schema inference on a 100 TB column). The reference's "
    "json.load reads (etl_infrastructure.py:162-165) upgraded to "
    "columnar extraction.",
    tags=("scalar", "json"),
)
def json_struct_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", T.StructType([T.StructField("k", T.LongType())]))
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k"),
        F.length("props").cast("long").alias("props_len"),
    )


@query(
    "text_chunking",
    f"""
    SELECT doc_id,
           CAST((i - 1) // 100 AS BIGINT) AS chunk_idx,
           substr({fr.NORM}, i, 120)      AS chunk
    FROM documents,
         UNNEST(range(1, greatest(length({fr.NORM}) - 119, 1) + 1, 100)) r(i)
    """,
    doc="Doc->chunks fan-out (the UDTF shape of an LLM-pipeline chunker) "
    "expressed relationally: overlapping 120-char windows at stride "
    "100, built by the linear chunk-assembly shingler and posexploded "
    "-- no Python UDTF needed, so it stays in whole-stage codegen. "
    "The earlier sequence + substr(norm, i, 120) form was quadratic in "
    "document length (substr's codepoint addressing scans from the "
    "string start, O(i) per window) and carried the full document "
    "through the generate; chunking before the explode is O(len) and "
    "the exploded rows hold only their 120-char window.",
    tags=("text", "chunking", "udtf"),
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.posexplode(ta.char_shingles("text", k=120, stride=100)).alias(
            "chunk_idx", "chunk"
        ),
    ).select(
        "doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"), "chunk"
    )


@query(
    "dedup_embedding_cosine",
    f"""
    WITH {fr.dims_cte()},
    nv AS (SELECT count(*) AS n FROM embeddings
           WHERE embedding IS NOT NULL
             AND len(list_filter(embedding, e -> e IS NULL)) = 0),
    ppb AS (SELECT CASE WHEN n > 64
                        THEN GREATEST(8, CAST(CEIL(LOG2(n / 64.0)) AS BIGINT))
                        ELSE 8 END AS k
            FROM nv),
    {fr.banded_plane_weights_cte(64, 4)},
    proj AS (SELECT vec_id, p, sum(x * wt) AS dot
             FROM dims JOIN w USING (i) GROUP BY vec_id, p),
    sig AS (SELECT vec_id, p // k AS band,
                   string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
            FROM proj, ppb GROUP BY vec_id, p // k),
    cand AS (SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
             FROM sig a JOIN sig b ON a.band = b.band AND a.bucket = b.bucket
                                  AND a.vec_id < b.vec_id),
    norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM dims GROUP BY vec_id),
    dots AS (SELECT cand.a, cand.b, sum(da.x * db.x) AS dot
             FROM cand JOIN dims da ON da.vec_id = cand.a
                       JOIN dims db ON db.vec_id = cand.b AND db.i = da.i
             GROUP BY 1, 2)
    SELECT d.a, d.b,
           round(d.dot / (na.nrm * nb.nrm), 6) AS cosine,
           d.dot / (na.nrm * nb.nrm) >= 0.95   AS is_dup
    FROM dots d JOIN norms na ON na.vec_id = d.a
                JOIN norms nb ON nb.vec_id = d.b
    """,
    doc="Embedding-cosine near-dup (the semantic-dedup pass of an LLM data "
    "pipeline): banded corpus-scaled LSH candidates with exact cosine "
    "verification and a 0.95 duplicate threshold. Swapped onto the "
    "scale path in r12 (sanctioned by VERDICT r10 item 3, staged+"
    "rehearsed r11, precondition met by the r11 re-check of the frozen "
    "shape): candidates come from operators/dedup.py "
    "embedding_cosine_pairs_scaled (4 bands, planes_per_band = "
    "max(8, ceil(log2(n/64))), single corpus scan via posexplode) "
    "instead of the former fixed single-band 8-plane bucket join whose "
    "candidate volume measured ~101x per corpus decade vs 19.5x banded "
    "(BASELINE.md r10/r12). The oracle mirrors the derivation in SQL: "
    "the ppb CTE computes planes-per-band from the indexable-vector "
    "count exactly as the Spark sizing job does, and band b's planes "
    "are the absolute indices [b*k, (b+1)*k) -- band 0 IS the former "
    "frozen plane set, so at gate SFs (k=8) the result is a superset "
    "of the pre-swap query's pairs, and bands=1/planes_per_band=8 "
    "reproduces it exactly (tests/test_dedup.py); sf1 recall is "
    "strictly better (100% of the frozen pairs + 543 it missed, "
    "BASELINE.md).",
    tags=("dedup", "embedding", "lsh"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import embedding_cosine_pairs_scaled

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs_scaled(
        emb, dim=64, threshold=0.95, bands=4, target_bucket=64
    )


@query(
    "grouped_map_rank",
    """
    SELECT event_id, user_id,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY value DESC, event_id) AS BIGINT) AS rnk
    FROM events
    """,
    doc="Grouped-map rank through the Arrow boundary (SURVEY 2.10 "
    "UDAF/grouped seam): per-user ranks computed in Python/pandas, "
    "deliberately integer-exact so the Python path is fully "
    "oracle-checkable. The hot-path equivalent stays JVM-side "
    "(window_topk_per_group); this query exists to exercise the seam. "
    "Runs as the shared sorted_group_scan (operators/sessions.py) "
    "over (user, value DESC, event_id) with a vectorised rank counter "
    "carried across Arrow batches -- one Python call per batch instead "
    "of one per user key (measured 4.4 s -> ~0.6 s at sf0.1, "
    "byte-identical). NaN posture "
    "(r10, nan_probe events leg): Spark's sort treats NaN as greater "
    "than every finite double, so value DESC places NaN first -- the "
    "same NaN-greater-than-all convention DuckDB applies, poisoned "
    "values rank identically cross-engine. True-NULL values (absent "
    "from every fixture) now sort NULLS LAST under the JVM desc sort, "
    "matching the oracle's default -- the old pandas path's NaN/NULL "
    "conflation (both ranked first) is gone.",
    tags=("udf", "map-in-pandas", "pandas"),
)
def grouped_map_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")

    def rank_step(pdf: pd.DataFrame, starts, last_rnk):
        i = np.arange(len(pdf))
        # index of each row's run start; a run continued from the
        # previous batch began last_rnk rows before this batch
        run_start = np.maximum.accumulate(np.where(starts, i, -(last_rnk or 0)))
        rnk = i - run_start + 1
        return pdf[["event_id", "user_id"]].assign(rnk=rnk), int(rnk[-1])

    # value DESC: Spark orders NaN above every finite double (NaN
    # first), NULL last -- both matching the DuckDB oracle; ties broken
    # by event_id ASC as in the oracle's ORDER BY
    order = [F.col("value").desc(), F.col("event_id").asc_nulls_last()]
    return sorted_group_scan(
        ev, "user_id", order, rank_step, "event_id long, user_id long, rnk long"
    )


@query(
    "pandas_udf_scalar",
    f"""
    SELECT doc_id, {fr.N_TOKENS} AS n_tokens_udf FROM documents
    """,
    doc="Arrow scalar pandas_udf seam (SURVEY 2.10): vectorized token "
    "count in Python, oracle-checked against the SQL tokenizer. The "
    "production tokenizer is the JVM expression (text_token_count); "
    "this exercises the Arrow batch path the PDF/multimodal stages use.",
    tags=("udf", "pandas", "arrow"),
)
def pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    @F.pandas_udf(T.LongType())
    def n_tokens(texts: pd.Series) -> pd.Series:
        normed = texts.fillna("").map(lambda s: re.sub(r"\s+", " ", s.lower()).strip())
        return normed.map(lambda s: len(s.split(" ")) if s else 0)

    d = fan_out(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", n_tokens("text").alias("n_tokens_udf"))


@query(
    "hypertable_rollup",
    """
    WITH b AS (SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS day,
                      CAST(hour(ts) AS BIGINT) AS hr,
                      value
               FROM events)
    SELECT coalesce(day, '(all)') AS day,
           coalesce(hr, -1)       AS hr,
           CAST(GROUPING(day, hr) AS BIGINT) AS lvl,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM b GROUP BY ROLLUP(day, hr)
    """,
    doc="Hypertable-style continuous-aggregate rollup over the events "
    "table: (day, hour) -> (day) -> grand total in ONE pass. Spark plans "
    "rollup as Expand + a single shuffle whose key domain is the bucket "
    "hierarchy -- at 100 TB this replaces three separate scans, and the "
    "day/hour buckets are what a time-partitioned layout would prune on.",
    tags=("agg", "rollup", "timeseries"),
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.hour("ts").cast("bigint").alias("hr"),
        "value",
    )
    # two-level rollup (r16, same rewrite as agg_rollup): partial
    # groupBy(day, hr) first, so the grouping-set Expand multiplies
    # ~|day x hr| aggregate rows instead of every event; sum/count are
    # decomposable and the decimal re-sum is exact, so values are
    # bit-identical (the grand-total count coalesces to 0 on empty
    # input, matching count(*)'s empty-rollup behavior)
    base = ev.groupBy("day", "hr").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("_s"),
    )
    return (
        base.rollup("day", "hr")
        .agg(
            F.grouping_id().cast("bigint").alias("lvl"),
            F.coalesce(F.sum("_n"), F.lit(0)).alias("n"),
            F.sum("_s").cast("double").alias("total_value"),
        )
        .select(
            F.coalesce("day", F.lit("(all)")).alias("day"),
            F.coalesce("hr", F.lit(-1)).alias("hr"),
            "lvl",
            "n",
            "total_value",
        )
    )


@query(
    "skew_salted_join",
    """
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="Salted join (operators/skew.py): the large side is sharded into 8 "
    "deterministic salts, the small side replicated 8 ways, so one hot "
    "key spreads over 8 tasks instead of pinning one executor. The "
    "oracle is the PLAIN join -- proving salting is semantics-"
    "preserving. Use when the small side exceeds broadcast and AQE's "
    "skew splitting can't kick in (e.g. pre-shuffled inputs).",
    tags=("join", "skew", "scale"),
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = salted_join(o, c, F.col("o_custkey") == F.col("c_custkey"), n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double").alias("revenue"),
    )


@query(
    "map_functions",
    """
    SELECT o_orderkey,
           o_orderstatus             AS status,
           upper(o_orderstatus)      AS status_upper,
           o_orderpriority           AS priority,
           CAST(2 AS BIGINT)         AS n_keys,
           'priority,status'         AS keys_csv
    FROM orders
    """,
    doc="MapType battery (maps are transient dicts in the reference, "
    "SURVEY 1.2): create_map + map_from_arrays + map_concat build a "
    "per-row map; element_at / transform_values / map_keys read it "
    "back. The oracle computes the same values relationally -- the map "
    "round-trip must be lossless. All JVM-side expressions; MapType "
    "columns shuffle like any other (no UDFs).",
    tags=("map", "functions"),
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = F.map_concat(
        F.create_map(F.lit("status"), F.col("o_orderstatus")),
        F.map_from_arrays(F.array(F.lit("priority")), F.array(F.col("o_orderpriority"))),
    )
    o = o.select("o_orderkey", m.alias("m"))
    upper_m = F.transform_values("m", lambda _, v: F.upper(v))
    return o.select(
        "o_orderkey",
        F.element_at("m", "status").alias("status"),
        F.element_at(upper_m, "status").alias("status_upper"),
        F.element_at("m", "priority").alias("priority"),
        F.size(F.map_keys("m")).cast("bigint").alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys("m")), ",").alias("keys_csv"),
    )


@query(
    "unpivot_melt",
    """
    WITH s AS (SELECT l_returnflag,
                      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)      AS qty,
                      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS price,
                      CAST(sum(CAST(l_tax AS DECIMAL(4,2))) AS DOUBLE)            AS tax
               FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'qty' AS measure, qty AS val FROM s
    UNION ALL SELECT l_returnflag, 'price', price FROM s
    UNION ALL SELECT l_returnflag, 'tax', tax FROM s
    """,
    doc="Unpivot/melt: wide aggregate -> long (measure, val) rows via "
    "df.unpivot -- planned as a single Expand over the aggregated "
    "(tiny) input, so the melt itself is shuffle-free. The inverse of "
    "pivot_agg.",
    tags=("unpivot", "reshape"),
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double").alias("price"),
        F.sum(F.col("l_tax").cast("decimal(4,2)")).cast("double").alias("tax"),
    )
    return wide.unpivot(["l_returnflag"], ["qty", "price", "tax"], "measure", "val")


@query(
    "join_interval_bucketed",
    """
    WITH err AS (SELECT event_id, ts FROM events WHERE event_type = 'error'),
    clk AS (SELECT ts FROM events WHERE event_type = 'click'),
    hits AS (SELECT e.event_id, count(*) AS n
             FROM err e JOIN clk c
               ON c.ts BETWEEN e.ts - INTERVAL 60 SECOND
                           AND e.ts + INTERVAL 60 SECOND
             GROUP BY e.event_id)
    SELECT e.event_id,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_within
    FROM err e LEFT JOIN hits h ON h.event_id = e.event_id
    """,
    doc="Interval join via time-bucketing (operators/asof.py "
    "interval_count_join): clicks within +/-60 s of each error. The "
    "range condition becomes an equi-join on tolerance-width buckets "
    "(right side replicated x3) plus an exact residual filter -- "
    "O(3|R|) instead of the oracle's O(|L| x |R|) range join, and it "
    "shuffles on the bucket like any equi-join at 100 TB.",
    tags=("join", "interval", "timeseries"),
)
def join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import interval_count_join

    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error")
    clk = ev.filter(F.col("event_type") == "click")
    return interval_count_join(err, clk, "event_id", "ts", "ts", 60)


_PORTABLE_SQL = """
    WITH rev AS (
      SELECT c_nationkey AS nk,
             CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey)
    SELECT n_name, total,
           CAST(rank() OVER (ORDER BY total DESC, n_name) AS BIGINT) AS rnk
    FROM rev JOIN nation ON nk = n_nationkey
"""


@query(
    "sql_passthrough",
    _PORTABLE_SQL,
    doc="The SQL layer itself: spark.sql() over registered views, running "
    "the LITERAL SAME ANSI string the DuckDB oracle runs (one shared "
    "constant -- join, CTE, window rank, exact-decimal sum). This is "
    "the switch-engines contract: a user's ANSI SQL ports verbatim; "
    "Catalyst still plans it like the DataFrame form (same pushdown, "
    "same broadcast).",
    tags=("sql", "window", "join"),
)
def sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import register_views

    register_views(spark, sf_dir, ("orders", "customer", "nation"))
    return spark.sql(_PORTABLE_SQL)


@query(
    "source_format_roundtrip",
    """
    SELECT f.fmt, n.n_nationkey, n.n_name, n.n_regionkey
    FROM nation n CROSS JOIN (VALUES ('csv'), ('json'), ('orc')) f(fmt)
    """,
    doc="Non-parquet sources (SURVEY 2.1 'absent' list): nation written "
    "to and re-read from CSV, JSON-lines, and ORC with a declared "
    "schema (never inferSchema -- that double-reads the data and "
    "makes types run-dependent at scale), tagged and unioned. The "
    "oracle is the original table x 3 format tags: any loss or type "
    "drift in a round-trip breaks the hash.",
    tags=("source", "formats"),
)
def source_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..sources.formats import roundtrip

    nation = load_table(spark, sf_dir, "nation")
    out = None
    base = tempfile.mkdtemp(prefix="spark_fmt_rt_")
    for fmt in ("csv", "json", "orc"):
        back = roundtrip(nation, f"{base}/{fmt}", fmt).select(
            F.lit(fmt).alias("fmt"), "n_nationkey", "n_name", "n_regionkey"
        )
        out = back if out is None else out.unionByName(back)
    return out


@query(
    "recursive_cte_ancestry",
    """
    WITH RECURSIVE anc AS (
      SELECT p_partkey AS node, p_partkey // 2 AS parent, CAST(1 AS BIGINT) AS depth
      FROM part WHERE p_partkey >= 1 AND p_partkey < 1024
      UNION ALL
      SELECT node, parent // 2 AS parent, depth + 1 FROM anc WHERE parent >= 1)
    SELECT depth,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(node) AS BIGINT) AS node_checksum
    FROM anc GROUP BY depth
    """,
    doc="Iterative graph query as a RECURSIVE CTE (Spark 4.x): ancestry "
    "walk over an implicit binary tree on part keys (parent = key DIV "
    "2), one UNION ALL step per level until the root. The engine "
    "executes each recursion step as a distributed join/scan -- the "
    "same per-round shape as operators/components.py, but declared in "
    "SQL and planned by Catalyst. Depth is bounded by log2(max key), "
    "so the recursion terminates in ~10 rounds regardless of row "
    "count; per-level frontiers shrink geometrically. Oracle runs the "
    "same recursion in DuckDB (// is integer division in both).",
    tags=("sql", "recursive-cte", "graph"),
)
def recursive_cte_ancestry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import register_views

    register_views(spark, sf_dir, ("part",))
    return spark.sql(
        """
        WITH RECURSIVE anc AS (
          SELECT p_partkey AS node, p_partkey DIV 2 AS parent, CAST(1 AS BIGINT) AS depth
          FROM part WHERE p_partkey >= 1 AND p_partkey < 1024
          UNION ALL
          SELECT node, parent DIV 2 AS parent, depth + 1 FROM anc WHERE parent >= 1)
        SELECT depth,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(node) AS BIGINT) AS node_checksum
        FROM anc GROUP BY depth
        """
    )


@query(
    "variant_schema_on_read",
    """
    SELECT event_type,
           CAST(count(k) AS BIGINT) AS n_with_k,
           CAST(sum(k) AS BIGINT)   AS k_total,
           CAST(min(k) AS BIGINT)   AS k_min,
           CAST(max(k) AS BIGINT)   AS k_max
    FROM (SELECT event_type, TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
    GROUP BY event_type
    """,
    doc="Spark 4 VARIANT type, the schema-on-read path for heterogeneous "
    "JSON: parse_json shreds each props payload into the open binary "
    "VARIANT encoding at scan time and variant_get extracts typed "
    "paths -- NO declared schema, unlike json_struct_extract's "
    "from_json(schema) sibling. At 100 TB this is the difference "
    "between re-inferring/declaring a schema for every producer "
    "variation and ingesting arbitrary JSON once; VARIANT columns "
    "support pushdown-friendly shredded storage in parquet. Oracle: "
    "DuckDB json_extract of the same paths. Extraction uses "
    "try_variant_get / TRY_CAST on both sides (ADVICE r4) so an "
    "unexpected $.k payload degrades to NULL instead of erroring one "
    "engine; exact cross-engine agreement is guaranteed for "
    "integral-or-absent k (the fixture invariant) -- fractional "
    "payloads would round in DuckDB vs null in Spark.",
    tags=("json", "variant", "schema-on-read"),
)
def variant_schema_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("try_variant_get(parse_json(props), '$.k', 'long')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("k_total"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


@query(
    "join_asof_forward",
    """
    SELECT c.event_id, c.user_id,
           coalesce(p.event_id, -1) AS next_purchase_id,
           coalesce(epoch_us(p.ts) - epoch_us(c.ts), -1) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND p.ts >= c.ts
    """,
    doc="Forward as-of join ('at or after'): for each click, the user's "
    "NEXT purchase -- time-to-conversion attribution. Same one-shuffle "
    "union + window composition as the backward join with the frame and "
    "side-tag ordering flipped (operators/asof.py direction='forward'); "
    "oracle uses DuckDB's native forward ASOF (p.ts >= c.ts).",
    tags=("join", "asof"),
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    joined = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["event_id", "ts"], direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.coalesce("asof_event_id", F.lit(-1)).alias("next_purchase_id"),
        F.coalesce(
            F.unix_micros("asof_ts") - F.unix_micros("ts"), F.lit(-1)
        ).alias("gap_us"),
    )


@query(
    "profile_table_columns",
    """
    SELECT 'l_quantity' AS column, count(*) AS n_rows,
           CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           count(DISTINCT l_quantity) AS n_distinct,
           min(CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR)) AS min_s,
           max(CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR)) AS max_s
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(*),
           CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT l_discount),
           min(CAST(CAST(l_discount AS DECIMAL(12,2)) AS VARCHAR)),
           max(CAST(CAST(l_discount AS DECIMAL(12,2)) AS VARCHAR))
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', count(*),
           CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT l_returnflag), min(l_returnflag), max(l_returnflag)
    FROM lineitem
    UNION ALL
    SELECT 'l_linestatus', count(*),
           CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT l_linestatus), min(l_linestatus), max(l_linestatus)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', count(*),
           CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT l_shipdate),
           strftime(min(l_shipdate), '%Y-%m-%d'), strftime(max(l_shipdate), '%Y-%m-%d')
    FROM lineitem
    """,
    doc="Table profiling: null counts, distinct cardinalities, and "
    "rendered min/max per column as UNION'd single-column hash "
    "aggregates -- on a columnar source each branch scans exactly one "
    "column (ReadSchema-pruned), so five branches read the same bytes "
    "as one five-column scan. The one-.agg() multi-distinct "
    "formulation plans as Expand + multi-key SortAggregates: measured "
    "4x slower at sf0.1 and a full-width expanded sort at 100 TB "
    "(operators/profiling.py profile_columns).",
    tags=("profiling", "observability", "agg"),
)
def profile_table_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profiling import profile_columns

    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(12,2)").cast("string")  # noqa: E731
    specs = [
        ("l_quantity", F.col("l_quantity"), dec("l_quantity")),
        ("l_discount", F.col("l_discount"), dec("l_discount")),
        ("l_returnflag", F.col("l_returnflag"), F.col("l_returnflag")),
        ("l_linestatus", F.col("l_linestatus"), F.col("l_linestatus")),
        ("l_shipdate", F.col("l_shipdate"), F.date_format("l_shipdate", "yyyy-MM-dd")),
    ]
    return profile_columns(li, specs)


@query(
    "feature_standardize",
    """
    WITH s AS (SELECT l_returnflag,
                      count(*) AS n,
                      CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sx,
                      CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                               * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sxx
               FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           round((l.l_extendedprice - s.sx / s.n)
                 / sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1)), 6) AS z_price
    FROM lineitem l JOIN s USING (l_returnflag)
    """,
    doc="Group-wise z-score standardization (feature engineering for "
    "model inputs): per-group mean/std derived from EXACT decimal power "
    "sums (the agg_stats technique -- identical float operands in both "
    "engines), broadcast back onto the fact rows, z computed row-local. "
    "One shuffle for the 3-row stats aggregate; the 100 TB fact table "
    "is never shuffled -- versus the window-function formulation that "
    "re-sorts the whole table per group.",
    tags=("feature", "standardize", "agg"),
)
def feature_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast("decimal(14,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    std = F.sqrt((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1))
    return li.join(F.broadcast(s), "l_returnflag").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round((F.col("l_extendedprice") - mean) / std, 6).alias("z_price"),
    )


@query(
    "feature_quantile_bucket",
    """
    WITH q AS (SELECT quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]) AS b
               FROM lineitem),
    rb AS (SELECT [round(b[1], 6), round(b[2], 6), round(b[3], 6)] AS b FROM q),
    assigned AS (SELECT l_extendedprice AS x,
                        1 + len(list_filter(rb.b, v -> l_extendedprice > v)) AS bucket
                 FROM lineitem, rb)
    SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
           min(CAST(CAST(x AS DECIMAL(14,2)) AS VARCHAR)) AS lo_s,
           max(CAST(CAST(x AS DECIMAL(14,2)) AS VARCHAR)) AS hi_s
    FROM assigned GROUP BY 1
    """,
    doc="Quantile discretization (equi-depth bucketing, the "
    "feature-engineering binning step): exact interpolated quartile "
    "boundaries from ONE aggregation, broadcast as a 1-row scalar onto "
    "the fact rows (the broadcast-of-scalar-aggregate pattern -- the "
    "fact table is never sorted or shuffled for the assignment), bucket "
    "via a HOF count-of-smaller-boundaries. Boundaries are rounded at "
    "6 dp in both engines before comparison. The percentile input is "
    "the (value, frequency) pre-aggregate -- bounded by the distinct "
    "domain, not the row count -- so the exact path survives scale; "
    "unbounded-domain columns swap in approx_percentile, same plan "
    "shape.",
    tags=("feature", "quantile", "bucketing"),
)
def feature_quantile_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # exact percentile over the (value, frequency) pre-aggregate, not
    # the raw rows: Spark's exact percentile materializes a per-task
    # value->count map, and feeding it 60M raw rows OOMed the sf10
    # bench; the distinct-value domain is bounded (prices), so one
    # cheap groupBy turns the percentile input into |distinct| rows
    # with identical semantics (frequency-weighted exact percentile).
    vc = li.groupBy("l_extendedprice").agg(F.count(F.lit(1)).alias("cnt"))
    # Exact interpolated quartiles via SORT + running count instead of
    # the percentile UDAF (r17): percentile(..., cnt) builds an
    # OpenHashMap of the whole |distinct| domain per partial state and
    # merges 32 of them serially in the final buffer -- measured 2.7 s
    # of this query's 3.4 s at sf0.1 (583k distinct prices). The
    # replacement sorts the distinct-value table once (single ordered
    # window over |distinct| narrow rows -- the same final-buffer
    # bound, but a sort that spills gracefully instead of a map merge)
    # and reads each quartile as an order statistic of the expanded
    # multiset: value_at(k) = min v with cum >= k+1. The interpolation
    # replicates Percentile.getPercentile BIT-FOR-BIT:
    # (higher - pos) * lower + (pos - lower) * higher, degenerate to
    # the exact value when pos is integral -- verified element-equal
    # against the UDAF at sf0.1 (2.8x on the boundary stage).
    w = W.orderBy("l_extendedprice").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = vc.select(
        F.col("l_extendedprice").alias("v"), F.sum("cnt").over(w).alias("cum")
    )
    total = vc.agg(F.sum("cnt").alias("N"))
    boundary_exprs = []
    for p in (0.25, 0.5, 0.75):
        pos = F.lit(p) * (F.col("N").cast("double") - F.lit(1.0))
        lo_i, hi_i = F.floor(pos), F.ceil(pos)
        vlo = F.min(F.when(F.col("cum") >= lo_i + F.lit(1), F.col("v")))
        vhi = F.min(F.when(F.col("cum") >= hi_i + F.lit(1), F.col("v")))
        boundary_exprs.append(
            F.round(
                F.when(lo_i == hi_i, vlo).otherwise(
                    (hi_i.cast("double") - pos) * vlo
                    + (pos - lo_i.cast("double")) * vhi
                ),
                6,
            )
        )
    q = (
        cum.crossJoin(F.broadcast(total))
        .groupBy("N")
        .agg(F.array(*boundary_exprs).alias("b"))
        .select("b")
    )
    # bucket the DISTINCT-value table and weight by frequency (r7): the
    # raw fact never flows through the bucket assignment or the final
    # groupBy -- |distinct| rows do. The vc subtree feeds both q and
    # the assignment; the plans are canonically equal, so the shuffle
    # is a ReusedExchange, not a second scan.
    assigned = vc.crossJoin(F.broadcast(q)).select(
        F.col("l_extendedprice").alias("x"),
        F.col("cnt"),
        (
            1
            + F.size(F.filter("b", lambda v: F.col("x") > v))
        ).cast("long").alias("bucket"),
    )
    return assigned.groupBy("bucket").agg(
        F.sum("cnt").alias("n"),
        F.min(F.col("x").cast("decimal(14,2)").cast("string")).alias("lo_s"),
        F.max(F.col("x").cast("decimal(14,2)").cast("string")).alias("hi_s"),
    )


@query(
    "source_schema_evolution",
    """
    SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS pop
    FROM nation WHERE n_nationkey % 2 = 0
    UNION ALL
    SELECT n_nationkey, n_name, n_nationkey * 1000 AS pop
    FROM nation WHERE n_nationkey % 2 = 1
    """,
    doc="Schema evolution on read: two parquet batches land with "
    "DIFFERENT schemas (the second adds a `pop` column -- the standard "
    "additive drift of a long-lived ingest), and a single "
    "mergeSchema+recursiveFileLookup read reconciles them, NULL-filling "
    "the pre-drift batch. The oracle spells the reconciliation "
    "explicitly. At 100 TB this is why the reader declares "
    "mergeSchema rather than trusting the first footer -- silent "
    "column loss is the alternative. (Runtime schema-drift handling "
    "for the events fixture itself lives in sources/tables.py "
    "events_ts_kind.)",
    tags=("source", "schema-evolution"),
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    nation = load_table(spark, sf_dir, "nation")
    base = tempfile.mkdtemp(prefix="spark_schema_evo_")
    v1 = nation.filter(F.col("n_nationkey") % 2 == 0).select("n_nationkey", "n_name")
    v2 = nation.filter(F.col("n_nationkey") % 2 == 1).select(
        "n_nationkey", "n_name", (F.col("n_nationkey") * 1000).alias("pop")
    )
    v1.write.mode("overwrite").parquet(f"{base}/batch1")
    v2.write.mode("overwrite").parquet(f"{base}/batch2")
    back = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(base)
    )
    return back.select("n_nationkey", "n_name", F.col("pop").cast("long"))


@query(
    "join_null_safe",
    """
    WITH a AS (SELECT c_custkey, nullif(c_nationkey % 5, 0) AS k FROM customer),
    b AS (SELECT n_nationkey, nullif(n_nationkey % 5, 0) AS k FROM nation)
    SELECT coalesce(a.k, -1) AS k, count(*) AS n_pairs
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY 1
    """,
    doc="Null-safe equi-join (<=> / IS NOT DISTINCT FROM): planted NULL "
    "keys on both sides match each other instead of vanishing -- the "
    "semantics entity-resolution joins need for optional keys. Spark "
    "plans <=> as a hash join (null hashes to a bucket) rather than "
    "the null-dropping equi-join; the small side broadcasts.",
    tags=("join", "null-safe"),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey") % 5, F.lit(0)).alias("k")
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.nullif(F.col("n_nationkey") % 5, F.lit(0)).alias("k")
    )
    joined = cust.join(F.broadcast(nat), cust["k"].eqNullSafe(nat["k"]))
    return joined.groupBy(F.coalesce(cust["k"], F.lit(-1)).alias("k")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@query(
    "dq_expectations_audit",
    """
    SELECT 'qty_in_range' AS rule, count(*) AS n_checked,
           CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'price_positive', count(*),
           CAST(sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'discount_unit_interval', count(*),
           CAST(sum(CASE WHEN l_discount BETWEEN 0.0 AND 1.0
                         THEN 0 ELSE 1 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'returnflag_domain', count(*),
           CAST(sum(CASE WHEN l_returnflag IN ('A', 'N', 'R')
                         THEN 0 ELSE 1 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orderkey_not_null', count(*),
           CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'fk_order_exists', count(*),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    FROM lineitem
    """,
    doc="Data-contract validation (expectations audit): range, domain, "
    "null, and referential-integrity rules evaluated as counting "
    "aggregates -- the row-level rules fuse into single scans "
    "(conditional sums, no per-rule rescans of the checked columns), "
    "and the FK orphan check is a left-anti join against the parent "
    "keys, never a row-by-row lookup. The landing-gate every ingest "
    "runs before publishing a partition; violations quarantine rather "
    "than fail (the P7 philosophy applied to relational contracts).",
    tags=("dq", "expectations", "audit"),
)
def dq_expectations_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    viol = lambda ok: F.sum(F.when(ok, 0).otherwise(1)).cast("long")  # noqa: E731
    rules = [
        ("qty_in_range", F.col("l_quantity").between(1, 50)),
        ("price_positive", F.col("l_extendedprice") > 0),
        ("discount_unit_interval", F.col("l_discount").between(0.0, 1.0)),
        ("returnflag_domain", F.col("l_returnflag").isin("A", "N", "R")),
        ("orderkey_not_null", F.col("l_orderkey").isNotNull()),
    ]
    row = li.agg(
        n.alias("_n"),
        *[viol(ok).alias(f"_v_{name}") for name, ok in rules],
    )
    structs = [
        F.struct(
            F.lit(name).alias("rule"),
            F.col("_n").alias("n_checked"),
            F.col(f"_v_{name}").alias("n_violations"),
        )
        for name, _ in rules
    ]
    scalar_rules = row.select(F.explode(F.array(*structs)).alias("r")).select("r.*")
    orphans = (
        li.join(orders.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
    )
    fk = (
        li.agg(n.alias("n_checked"))
        .crossJoin(F.broadcast(orphans))
        .select(F.lit("fk_order_exists").alias("rule"), "n_checked", "n_violations")
    )
    return scalar_rules.unionByName(fk)


@query(
    "privacy_k_anonymity",
    """
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS class_size
      FROM customer GROUP BY 1, 2)
    SELECT c_nationkey, c_mktsegment, class_size,
           CAST(CASE WHEN class_size < 5 THEN 1 ELSE 0 END AS BIGINT) AS below_k
    FROM classes
    """,
    doc="k-anonymity audit (k=5) over the quasi-identifier tuple "
    "(nation, market segment): every equivalence class's size plus a "
    "below-k flag -- classes smaller than k re-identify individuals "
    "and must be suppressed or generalized before release. One "
    "groupBy; the privacy gate a dataset passes before leaving the "
    "trust boundary, complementing the PII scrub (which handles "
    "direct identifiers; this handles linkage risk).",
    tags=("privacy", "k-anonymity", "governance"),
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("class_size"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "class_size",
            F.when(F.col("class_size") < 5, 1).otherwise(0).cast("long").alias("below_k"),
        )
    )


def _zorder_expr() -> str:
    """Bit-interleave of two 10-bit keys (shared Spark/DuckDB SQL text)."""
    return " + ".join(
        f"(((pk >> {b}) & 1) << {2 * b}) + (((sk >> {b}) & 1) << {2 * b + 1})"
        for b in range(10)
    )


@query(
    "layout_zorder_key",
    f"""
    WITH keys AS (SELECT l_orderkey, l_linenumber,
                         l_partkey % 1024 AS pk, l_suppkey % 1024 AS sk
                  FROM lineitem)
    SELECT l_orderkey, l_linenumber,
           CAST(pk AS BIGINT) AS pk, CAST(sk AS BIGINT) AS sk,
           CAST({{z}} AS BIGINT) AS zkey
    FROM keys
    """.replace("{z}", _zorder_expr()),
    doc="Z-order (Morton) clustering key: bit-interleave of two 10-bit "
    "dimension keys, pure integer shifts identical in both engines. "
    "Writing a table sorted by zkey co-locates rows close in BOTH "
    "dimensions into the same files, so min/max file statistics prune "
    "2-D range predicates -- the Delta OPTIMIZE ZORDER layout, "
    "expressed as a derivable column any writer can sortWithinPartitions "
    "by. The query materializes the key itself (value-checkable); the "
    "pruning effect is a property of the files it orders.",
    tags=("layout", "zorder", "pruning"),
)
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    keys = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_partkey") % 1024).cast("long").alias("pk"),
        (F.col("l_suppkey") % 1024).cast("long").alias("sk"),
    )
    return keys.select(
        "l_orderkey", "l_linenumber", "pk", "sk",
        F.expr(_zorder_expr()).cast("long").alias("zkey"),
    )


@query(
    "join_full_outer",
    """
    WITH big AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 7000),
    cnt AS (SELECT o_custkey AS c_custkey, CAST(count(*) AS BIGINT) AS n_orders
            FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01' GROUP BY 1)
    SELECT coalesce(b.c_custkey, cnt.c_custkey) AS custkey,
           CAST(CASE WHEN b.c_custkey IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS in_dim,
           coalesce(cnt.n_orders, 0) AS n_orders
    FROM big b FULL OUTER JOIN cnt ON b.c_custkey = cnt.c_custkey
    """,
    doc="FULL OUTER join, completing the join family: high-balance "
    "customers x recent order counts, keeping unmatched rows from BOTH "
    "sides (dim-only customers with 0 orders; active customers outside "
    "the dim slice). Full outer cannot broadcast either side (both "
    "must produce unmatched rows), so it plans as a shuffle join on "
    "the key -- the one join shape where that is the correct plan at "
    "any scale.",
    tags=("join", "full-outer"),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = cust.filter(F.col("c_acctbal") > 7000).select("c_custkey", "c_name")
    cnt = (
        orders.filter(F.col("o_orderdate") >= "1997-01-01")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    b, c = big.alias("b"), cnt.alias("c")
    return b.join(c, F.col("b.c_custkey") == F.col("c.c_custkey"), "full_outer").select(
        F.coalesce(F.col("b.c_custkey"), F.col("c.c_custkey")).alias("custkey"),
        F.when(F.col("b.c_custkey").isNull(), 0).otherwise(1).cast("long").alias("in_dim"),
        F.coalesce(F.col("c.n_orders"), F.lit(0)).alias("n_orders"),
    )


_LATERAL_SQL = """
    SELECT c.c_custkey, o.o_orderkey, o.price_s
    FROM customer c,
    LATERAL (SELECT o_orderkey,
                    CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS STRING)
                      AS price_s
             FROM orders
             WHERE o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
    WHERE c.c_custkey <= 200
"""


@query(
    "join_lateral_topn",
    _LATERAL_SQL,
    doc="Correlated LATERAL subquery join (per-customer top-2 orders by "
    "price): the SQL-standard per-row dependent join Spark supports "
    "since 3.4, run as the LITERAL SAME string in both engines (the "
    "sql_passthrough contract). Catalyst de-correlates it into a "
    "window-rank plan -- same shape as window_topk_per_group -- so the "
    "lateral surface costs nothing over the DataFrame formulation.",
    tags=("join", "lateral", "sql"),
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import register_views

    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_LATERAL_SQL)


@query(
    "set_ops_all",
    """
    WITH a AS (SELECT o_orderpriority AS p FROM orders
               WHERE year(o_orderdate) = 1996),
    b AS (SELECT o_orderpriority AS p FROM orders
          WHERE year(o_orderdate) = 1997),
    ex AS (SELECT 'except_all' AS op, p
           FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)),
    ia AS (SELECT 'intersect_all' AS op, p
           FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b))
    SELECT op, p, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT * FROM ex UNION ALL SELECT * FROM ia) GROUP BY 1, 2
    """,
    doc="Multiset set operations (EXCEPT ALL / INTERSECT ALL), the bag "
    "semantics the distinct set_ops query cannot express: per-priority "
    "order bags from 1996 vs 1997, surplus and common multiplicities "
    "counted. Spark plans both as aggregate+generate over counted "
    "groups -- no row-by-row anti join -- so cost is bounded by the "
    "distinct domain.",
    tags=("setops", "except-all", "intersect-all"),
)
def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.year("o_orderdate") == 1996).select(
        F.col("o_orderpriority").alias("p")
    )
    b = orders.filter(F.year("o_orderdate") == 1997).select(
        F.col("o_orderpriority").alias("p")
    )
    ex = a.exceptAll(b).select(F.lit("except_all").alias("op"), "p")
    ia = a.intersectAll(b).select(F.lit("intersect_all").alias("op"), "p")
    return ex.unionAll(ia).groupBy("op", "p").agg(F.count(F.lit(1)).alias("n"))


@query(
    "agg_minmax_by",
    """
    WITH keyed AS (
      SELECT c_nationkey,
             c_custkey,
             CAST(round(c_acctbal * 100) AS BIGINT) * 10000000 + c_custkey
               AS k
      FROM customer)
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_cust,
           arg_max(c_custkey, k) AS richest_cust,
           arg_min(c_custkey, k) AS poorest_cust
    FROM keyed GROUP BY 1
    """,
    doc="max_by / min_by (argmax aggregates): per nation, the customer "
    "holding the extreme account balance -- the point-lookup aggregate "
    "that otherwise needs a window + filter pass. Ties are broken "
    "deterministically by folding the row id into the ordering key as "
    "exact integer cents*1e7+custkey (collision-free since custkey < "
    "1e7), because max_by alone is nondeterministic on equal keys in "
    "any parallel engine. One shuffle, map-side combinable.",
    tags=("agg", "max-by", "argmax"),
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    k = (
        F.round(F.col("c_acctbal") * 100).cast("long") * 10000000
        + F.col("c_custkey")
    ).alias("k")
    return (
        cust.select("c_nationkey", "c_custkey", k)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.expr("max_by(c_custkey, k)").alias("richest_cust"),
            F.expr("min_by(c_custkey, k)").alias("poorest_cust"),
        )
    )


@query(
    "window_first_last_value",
    """
    SELECT event_id, user_id,
           round(first_value(value) OVER w, 6) AS day_first,
           round(last_value(value) OVER w, 6) AS day_running_last,
           CAST(nth_value(event_id, 2) OVER w AS BIGINT) AS second_event_id
    FROM events
    WINDOW w AS (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="Navigation window functions (first_value / last_value / "
    "nth_value) completing the window family: per user-day, the "
    "opening value, the running latest, and the second event's id. "
    "The frame is explicit ROWS UNBOUNDED PRECEDING..CURRENT ROW with "
    "a full tie-broken ordering, because last_value over the DEFAULT "
    "frame is the current row by definition -- the classic silent "
    "window bug this query pins down. One shuffle on the key.",
    tags=("window", "navigation"),
)
def window_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id", F.date_format("ts", "yyyy-MM-dd"))
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.first("value").over(w), 6).alias("day_first"),
        F.round(F.last("value").over(w), 6).alias("day_running_last"),
        F.nth_value("event_id", 2).over(w).cast("long").alias("second_event_id"),
    )


@query(
    "agg_bool_countif",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 900) AS all_over_900,
           bool_or(o_totalprice > 400000) AS any_over_400k
    FROM orders GROUP BY 1
    """,
    doc="Predicate aggregates (count_if / bool_and / bool_or), the "
    "assertion-style rollup both engines spell identically: per "
    "priority class, how many big orders, whether every order clears a "
    "floor, whether any clears a ceiling. Map-combinable single "
    "shuffle; the building block of dq_expectations_audit expressed as "
    "first-class aggregate functions.",
    tags=("agg", "count-if", "bool"),
)
def agg_bool_countif(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 900).alias("all_over_900"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
    )


# deterministic malformed-CSV fixture: 8 good rows + 4 broken ones
_BAD_CSV_ROWS = [
    "1,alice,100",
    "2,bob,200",
    "3,carol,300",
    "4,dan,notanumber",      # bad int
    "5,erin,500",
    "6,frank",               # missing column
    "7,grace,700",
    "8,heidi,800.5",         # float into int column
    "9,ivan,900",
    "10,judy,1000,extra",    # extra column
    "11,kate,1100",
    "12,leo,1200",
]


@query(
    "source_csv_malformed_quarantine",
    """
    SELECT * FROM (VALUES
      ('good', CAST(8 AS BIGINT), CAST(5000 AS BIGINT)),
      ('quarantined', CAST(4 AS BIGINT), CAST(1000 AS BIGINT))
    ) t(bucket, n_rows, sum_score)
    """,
    doc="Malformed-input quarantine at the SOURCE level: a CSV batch "
    "with rows that break the declared schema (non-numeric int, "
    "missing column, float into int) is read in PERMISSIVE mode with "
    "columnNameOfCorruptRecord, so broken rows land in a corrupt "
    "column instead of failing the job or being silently dropped -- "
    "the ingest half of the quarantine philosophy (try_cast_quarantine "
    "covers in-flight coercion). The golden oracle pins the exact "
    "contract: type violations, missing columns, AND extra columns "
    "all quarantine (4 of 12 rows), and a quarantined row keeps any "
    "fields that did parse (the extra-column row's score still sums) "
    "-- so quarantine analytics can segment failures. At 100 TB this is why ingest declares "
    "schemas and never infers: inference double-reads AND turns bad "
    "rows into schema drift.",
    tags=("source", "csv", "quarantine", "robustness"),
)
def source_csv_malformed_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from pyspark.sql import types as T

    base = tempfile.mkdtemp(prefix="spark_csv_q_")
    path = os.path.join(base, "batch.csv")
    with open(path, "w") as f:
        f.write("\n".join(_BAD_CSV_ROWS) + "\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()  # SPARK-21610: corrupt-record queries must not prune to the corrupt col alone
    )
    bucket = F.when(F.col("_corrupt_record").isNull(), "good").otherwise("quarantined")
    return df.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("score").alias("sum_score"),
    )


@query(
    "window_running_distinct",
    """
    WITH marked AS (
      SELECT event_id, user_id, event_type, ts,
             CASE WHEN row_number() OVER (
                 PARTITION BY user_id, event_type
                 ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
      FROM events)
    SELECT event_id, user_id,
           CAST(sum(first_seen) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
             AS distinct_types_so_far
    FROM marked
    """,
    doc="Running DISTINCT count per user (how many event types seen so "
    "far): neither engine supports DISTINCT aggregates over windows, "
    "and the collect_set-over-window workaround carries the whole set "
    "as frame state. The scalable formulation marks each (user, type) "
    "FIRST occurrence with one rank window, then running-sums the "
    "markers -- O(1) frame state, two shuffles, and the exact same "
    "plan shape both engines. The feature behind breadth-of-engagement "
    "metrics.",
    tags=("window", "distinct", "events"),
)
def window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    run_w = W.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.row_number().over(first_w) == 1, 1).otherwise(0).alias("first_seen"),
    )
    return marked.select(
        "event_id",
        "user_id",
        F.sum("first_seen").over(run_w).cast("long").alias("distinct_types_so_far"),
    )
