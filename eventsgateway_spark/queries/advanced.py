"""Second-wave operator coverage: outer joins, grouping sets, explode /
array ops, the Python-UDF surface (Arrow-vectorized), and approximate
aggregates (SURVEY §2.5 Q2, Q6, Q7, Q12, Q16).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eventsgateway_spark.queries import query
from eventsgateway_spark.queries._util import as_double, table

# ---------------------------------------------------------------------------
# Q2 — full outer join: daily signup vs error counts
# ---------------------------------------------------------------------------


@query(
    "q19_fullouter_daily_activity",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle="""
    WITH s AS (
        SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_signups
        FROM events WHERE event_type = 'signup' GROUP BY 1
    ), e AS (
        SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_errors
        FROM events WHERE event_type = 'error' GROUP BY 1
    )
    SELECT COALESCE(s.d, e.d) AS event_date,
           COALESCE(s.n_signups, 0) AS n_signups,
           COALESCE(e.n_errors, 0) AS n_errors
    FROM s FULL OUTER JOIN e ON s.d = e.d
    ORDER BY 1
    """,
)
def q19_fullouter_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER equi join of two aggregated branches of the same scan."""
    ev = table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy(F.to_date("ts").alias("sd"))
        .agg(F.count(F.lit(1)).alias("n_signups"))
    )
    e = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.to_date("ts").alias("ed"))
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    return (
        s.join(e, s.sd == e.ed, "full_outer")
        .select(
            F.coalesce("sd", "ed").alias("event_date"),
            F.coalesce("n_signups", F.lit(0)).alias("n_signups"),
            F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
        )
        .orderBy("event_date")
    )


# ---------------------------------------------------------------------------
# Q6 — GROUPING SETS (SQL surface; Catalyst expands to one shuffle)
# ---------------------------------------------------------------------------


@query(
    "q20_grouping_sets_lineitem",
    declared=False,
    oracle="""
    SELECT COALESCE(l_returnflag, '(all)') AS l_returnflag,
           COALESCE(l_shipmode, '(all)') AS l_shipmode,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_shipmode) AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
    FROM (SELECT l_returnflag, l_linestatus AS l_shipmode, l_quantity FROM lineitem)
    GROUP BY GROUPING SETS ((l_returnflag), (l_shipmode), ())
    ORDER BY 3, 1, 2
    """,
)
def q20_grouping_sets_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the sparse cousin of rollup/cube.
    (The fixture lacks l_shipmode; l_linestatus stands in, aliased.)"""
    li = table(spark, sf_dir, "lineitem")
    # DataFrame interpolation (PySpark 3.4+) — no session-global temp
    # view, so concurrent callers can't collide on a view name.
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, '(all)') AS l_returnflag,
               COALESCE(l_shipmode, '(all)') AS l_shipmode,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_shipmode) AS BIGINT) AS gid,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
        FROM (SELECT l_returnflag, l_linestatus AS l_shipmode, l_quantity FROM {li})
        GROUP BY GROUPING SETS ((l_returnflag), (l_shipmode), ())
        ORDER BY 3, 1, 2
        """,
        li=li,
    )


# ---------------------------------------------------------------------------
# Q12 — explode / array ops: token frequencies per language
# ---------------------------------------------------------------------------


@query(
    "q21_token_explode",
    declared=False,
    oracle="""
    SELECT lang AS lang, token AS token, COUNT(*) AS n
    FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    )
    WHERE token <> ''
    GROUP BY 1, 2
    HAVING COUNT(*) >= 5
    ORDER BY 1, 2
    """,
)
def q21_token_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split → explode → grouped count with HAVING — the generate/
    flatten operator class (maps onto props-map explosion for the
    gateway event model, SURVEY §2.5 Q12)."""
    from eventsgateway_spark.queries._util import spread

    docs = spread(table(spark, sf_dir, "documents").select("lang", "text"))
    exploded = docs.select("lang", F.explode(F.split("text", " ")).alias("token"))
    return (
        exploded.filter(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
        .orderBy("lang", "token")
    )


# ---------------------------------------------------------------------------
# Q16 — Arrow-vectorized Python UDF surface (pandas_udf)
# ---------------------------------------------------------------------------


@query(
    "q22_pandas_udf_scoring",
    oracle="""
    SELECT source AS source,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(length(text) AS BIGINT) * 2
                    + CAST(n_chars AS BIGINT) % 7) AS BIGINT) AS score_sum
    FROM documents
    GROUP BY 1
    ORDER BY 1
    """,
)
def q22_pandas_udf_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer scoring in an Arrow-batched pandas_udf, then JVM-side
    aggregation. Demonstrates the UDF seam (SURVEY §2.5 Q16) with an
    exactly-checkable function; real workloads put model scoring here.
    """

    @F.pandas_udf(T.LongType())
    def doc_score(text: pd.Series, n_chars: pd.Series) -> pd.Series:
        return text.str.len().astype("int64") * 2 + n_chars.astype("int64") % 7

    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("source", doc_score("text", "n_chars").alias("score"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("score").cast("bigint").alias("score_sum"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Q7 — approximate aggregates (rows-only driver check; tolerance-tested
# in tests/test_approx.py)
# ---------------------------------------------------------------------------


@query("q23_approx_distinct_users", declared=False)
def q23_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type + approximate value
    percentiles — the 100 TB substitute for exact COUNT(DISTINCT)
    (single pass, fixed-size sketch, no dedup shuffle)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.percentile_approx("value", [0.5, 0.95, 0.99], 10_000).alias("value_pcts"),
            F.count(F.lit(1)).alias("n_events"),
        )
        # scalar percentile columns — array cells are unhashable in the
        # driver's rows-only canonicalizer
        .select(
            "event_type",
            "approx_users",
            F.element_at("value_pcts", 1).alias("p50"),
            F.element_at("value_pcts", 2).alias("p95"),
            F.element_at("value_pcts", 3).alias("p99"),
            "n_events",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q7 — mergeable HLL sketches (partial re-aggregation, the 100 TB pattern)
# ---------------------------------------------------------------------------


@query("q50_hll_sketch_rollup", declared=False)  # no-oracle by nature; pytest tolerance-tested (test_approx.py)
def q50_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (Apache DataSketches HLL via
    ``hll_sketch_agg`` / ``hll_union_agg``): per-(event_type, day) user
    sketches are built in one scan — at scale, an incrementally
    maintained sketch table — then any coarser distinct-user rollup is
    a merge of fixed-size binary sketches, with no re-scan of raw
    events and no dedup shuffle. Unlike ``approx_count_distinct``
    (one-shot), the sketches compose: the same daily partials serve
    weekly, monthly, and all-time rollups. Register-max merging is
    order-insensitive, so the estimate is deterministic under any
    partitioning."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id", 14).alias("sk"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("n").alias("n_events"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q16 — grouped-map applyInPandas (per-group Arrow batch transform)
# ---------------------------------------------------------------------------


@query(
    "q41_grouped_pandas_rank",
    declared=False,  # rotation-pool member (see queries/__init__.py ROTATION)
    oracle="""
    SELECT user_id, event_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY value DESC, event_id) AS BIGINT) AS value_rank,
           CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
    FROM events
    WHERE user_id < 50
    ORDER BY user_id, value_rank
    """,
)
def q41_grouped_pandas_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas``: each user's events arrive as ONE
    Arrow-backed pandas frame; the UDF ranks values per user (integer
    output — exactly checkable against the window-function oracle).
    This is the seam where per-group Python logic that Spark SQL can't
    express (model scoring, curve fitting) plugs in; state stays
    bounded by group size, shuffle is the single groupBy key."""

    def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["value", "event_id"], ascending=[False, True])
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "value_rank": range(1, len(pdf) + 1),
                "n_events": len(pdf),
            }
        )

    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return (
        ev.select("user_id", "event_id", "value")
        .groupBy("user_id")
        .applyInPandas(
            rank_group,
            "user_id bigint, event_id bigint, value_rank bigint, n_events bigint",
        )
        .orderBy("user_id", "value_rank")
    )
