"""UDF-surface queries (SURVEY.md §2.9): vectorized pandas scalar UDF,
grouped-agg pandas UDF, grouped-map applyInPandas, and a Python UDTF —
each with a plain-SQL oracle proving the Python path computes exactly what
the declarative form would.

Determinism: anything summed inside Python uses exact ``decimal.Decimal``
accumulation quantized to 1e-6 — the same contract as ``common.dsum`` — so
Python-side results hash-match the DECIMAL(38,6) SQL oracles.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .common import load, query, sql_davg, sql_dsum

_Q6 = Decimal("0.000001")


def _dec_sum(values) -> float:
    """Exact order-independent sum: quantize each double to 1e-6, sum as
    Decimal, round once back to double — mirrors CAST(SUM(CAST(x AS
    DECIMAL(38,6))) AS DOUBLE)."""
    total = sum(
        (Decimal(float(v)).quantize(_Q6, rounding=ROUND_HALF_UP) for v in values),
        Decimal(0),
    )
    return float(total)


# --------------------------------------------------------------------------
# U1-shape: vectorized pandas scalar UDF (Arrow batches, numpy math) —
# the engine's template for the reference's geometric UDFs
# (street_level_grouping.py:257-299).
# --------------------------------------------------------------------------


@pandas_udf(T.DoubleType())
def _revenue_udf(price: pd.Series, discount: pd.Series) -> pd.Series:
    return price * (1.0 - discount)


@query(
    "U_pandas_scalar_revenue",
    f"""
    SELECT l_returnflag,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           COUNT(*) AS n
    FROM lineitem GROUP BY 1
    """,
)
def pandas_scalar_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_returnflag",
            _revenue_udf("l_extendedprice", "l_discount").alias("rev"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.col("rev").cast("decimal(38,6)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# EXT-U10: grouped-agg pandas UDF (pandas UDAF).
# --------------------------------------------------------------------------


@pandas_udf(T.DoubleType())
def _decimal_mean_udaf(vals: pd.Series) -> float:
    return _dec_sum(vals) / len(vals)


# Spark disallows mixing pandas grouped-agg UDFs with JVM aggregates in one
# agg() (INVALID_PANDAS_UDF_PLACEMENT), so the row count is a pandas UDAF too.
@pandas_udf(T.LongType())
def _count_udaf(vals: pd.Series) -> int:
    return len(vals)


@query(
    "U10_grouped_agg_mean",
    f"""
    SELECT c_nationkey, {sql_davg('c_acctbal', 'mean_bal')},
           COUNT(*) AS n
    FROM customer GROUP BY 1
    """,
)
def grouped_agg_mean(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        _decimal_mean_udaf("c_acctbal").alias("mean_bal"),
        _count_udaf("c_acctbal").alias("n"),
    )


# --------------------------------------------------------------------------
# A1/U5-shape: grouped-map applyInPandas — per-key pandas computation, the
# Spark replacement for the reference's groupby-iterate + joblib
# (street_level_grouping.py:104,191-192).
# --------------------------------------------------------------------------

_USER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("first_ts", T.TimestampNTZType()),
        T.StructField("last_ts", T.TimestampNTZType()),
    ]
)


def _user_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [pdf["user_id"].iloc[0]],
            "n_events": [len(pdf)],
            "sum_value": [_dec_sum(pdf["value"])],
            "first_ts": [pdf["ts"].min()],
            "last_ts": [pdf["ts"].max()],
        }
    )


@query(
    "A1_grouped_map_user_stats",
    f"""
    SELECT user_id, COUNT(*) AS n_events, {sql_dsum('value', 'sum_value')},
           MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events GROUP BY 1
    """,
)
def grouped_map_user_stats(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").applyInPandas(_user_stats, _USER_STATS_SCHEMA)


# --------------------------------------------------------------------------
# EXT-U9: Python UDTF (one row → many), lateral-joined per input row.
# --------------------------------------------------------------------------


@query(
    "U9_udtf_char_ngrams",
    """
    WITH t AS (SELECT doc_id, substring(text, 1, 12) AS head FROM documents
               WHERE doc_id < 20)
    SELECT doc_id,
           CAST(unnest(range(0, greatest(length(head) - 3, 0))) AS INTEGER) AS pos,
           unnest([substring(head, i, 4) for i in range(1, greatest(length(head) - 3, 0) + 1)])
               AS ngram
    FROM t
    """,
)
def udtf_char_ngrams(spark, sf_dir):
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, ngram: string")
    class CharNgrams:
        def eval(self, head: str):
            if head is None:
                return
            for i in range(max(len(head) - 3, 0)):
                yield i, head[i : i + 4]

    docs = load(spark, sf_dir, "documents", scan_parallel=True)
    t = docs.filter(F.col("doc_id") < 20).select(
        "doc_id", F.substring("text", 1, 12).alias("head")
    )
    t.createOrReplaceTempView("_udtf_heads")
    spark.udtf.register("char_ngrams", CharNgrams)
    return spark.sql(
        "SELECT doc_id, g.pos, g.ngram FROM _udtf_heads, "
        "LATERAL char_ngrams(head) AS g"
    )


# --------------------------------------------------------------------------
# EXT-U11: Spark 4 Arrow-optimized scalar Python UDF (useArrow=True) —
# the third Python execution tier next to pandas UDFs (U-scalar) and
# Arrow UDTFs (U9): row-wise Python signature, Arrow-batched transport
# (the plan audit forbids the pickled BatchEvalPython path this replaces).
# The function normalizes a part's type string to a fixed-width code;
# the oracle states the same normalization declaratively, proving the
# Python tier computes exactly what the built-ins would.
# --------------------------------------------------------------------------


@query(
    "U11_arrow_scalar_udf",
    """
    SELECT p_partkey,
           upper(substr(replace(p_type, ' ', '_'), 1, 12)) AS type_code
    FROM part WHERE p_partkey <= 500
    """,
)
def arrow_scalar_udf(spark, sf_dir):
    from pyspark.sql.functions import udf

    @udf(returnType=T.StringType(), useArrow=True)
    def type_code(t: str) -> str:
        return t.replace(" ", "_")[:12].upper()

    part = load(spark, sf_dir, "part")
    return part.filter(F.col("p_partkey") <= 500).select(
        "p_partkey", type_code("p_type").alias("type_code")
    )


# --------------------------------------------------------------------------
# EXT-U12: cogrouped-map applyInPandas — the two-input grouped-map tier
# (§2.9): each customer's orders AND events arrive as two aligned pandas
# frames in one Arrow batch. Scale shape: both sides shuffle once on the
# group key (exactly a key-partitioned join's cost); the Python kernel
# sees one bounded customer at a time, never the corpus. Sums use the
# exact-Decimal contract so the hash matches the DECIMAL(38,6) oracle.
# Cost model (measured): grouped-map Python pays ~1 ms of dispatch PER
# GROUP — fine when per-group logic is genuinely imperative, wasteful
# for aggregations a join expresses (the oracle's join form IS the plan
# you'd run; this query exists to prove the cogroup tier computes the
# same thing). Groups stay bounded (one customer) so executor memory is
# safe at any corpus size.
# --------------------------------------------------------------------------


def _reconcile(key, orders_pdf: pd.DataFrame, events_pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "custkey": [key[0]],
            "n_orders": [len(orders_pdf)],
            "order_total": [_dec_sum(orders_pdf["o_totalprice"])],
            "n_events": [len(events_pdf)],
            "event_value": [_dec_sum(events_pdf["value"])],
        }
    )


@query(
    "U12_cogrouped_reconciliation",
    f"""
    SELECT COALESCE(o.k, e.k) AS custkey,
           COALESCE(o.n_orders, 0) AS n_orders,
           COALESCE(o.order_total, 0.0) AS order_total,
           COALESCE(e.n_events, 0) AS n_events,
           COALESCE(e.event_value, 0.0) AS event_value
    FROM (SELECT o_custkey AS k, COUNT(*) AS n_orders,
                 {sql_dsum('o_totalprice', 'order_total')}
          FROM orders GROUP BY 1) o
    FULL OUTER JOIN
         (SELECT user_id AS k, COUNT(*) AS n_events,
                 {sql_dsum('value', 'event_value')}
          FROM events GROUP BY 1) e
    ON o.k = e.k
    """,
)
def cogrouped_reconciliation(spark, sf_dir):
    orders, events = load(spark, sf_dir, "orders", "events")
    out_schema = T.StructType(
        [
            T.StructField("custkey", T.LongType()),
            T.StructField("n_orders", T.LongType()),
            T.StructField("order_total", T.DoubleType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("event_value", T.DoubleType()),
        ]
    )
    return (
        orders.select(F.col("o_custkey").alias("k"), "o_totalprice")
        .groupBy("k")
        .cogroup(
            events.select(F.col("user_id").alias("k"), "value").groupBy("k")
        )
        .applyInPandas(_reconcile, out_schema)
    )


# --------------------------------------------------------------------------
# EXT-U13: native Arrow UDF (@arrow_udf, Spark 4) — the pyarrow-array
# execution tier: the kernel receives pa.Array columns and runs
# pyarrow.compute vector ops, no pandas conversion at all (one less copy
# than a pandas UDF on the same batch). The oracle states the identical
# IEEE double expression declaratively.
# --------------------------------------------------------------------------


@query(
    "U13_arrow_native_udf",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged
    FROM lineitem WHERE l_linenumber = 1
    """,
)
def arrow_native_udf(spark, sf_dir):
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(T.DoubleType())
    def charge(
        price: pa.Array, discount: pa.Array, tax: pa.Array
    ) -> pa.Array:
        one = pa.scalar(1.0)
        return pc.multiply(
            pc.multiply(price, pc.subtract(one, discount)),
            pc.add(one, tax),
        )

    li = load(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charged"),
    )
