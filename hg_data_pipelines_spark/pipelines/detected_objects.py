"""The warehouse pipeline: results.json → ``detected_objects`` table.

Reference chain (detected_objects_processing.py:17-28):
``json.load`` → ``pd.json_normalize(data, 'objects', 'file_name')`` →
class-name dict map → per-row uuid → polygon→WKT → DuckDB table.

Spark-first translation: JSON source with enforced schema (S1) → explode
(N1) → broadcast dim join (J2) → ``uuid()`` (P3) → WKT Arrow UDF (P4) →
Parquet warehouse sink (S9, DuckDB-attachable). Every step is lazy; Catalyst
prunes the JSON projection to the read columns.

Scale: the explode is row-local (no shuffle); the class dim is 8 rows
(broadcast); the only shuffle in the whole job is the optional output
repartition — this pipeline is embarrassingly parallel at 100 TB.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from ..functions.wkt import polygon_to_wkt
from ..io import class_dim, read_results_json


@arrow_udf(T.StringType())
def _wkt_udf(coords: pa.Array) -> pa.Array:
    # An Arrow UDF (EXT-U13): the typed rings stay Arrow lists, no pandas
    # conversion, so an all-null batch is as legal as any other; a null
    # polygon falls through ``polygon_to_wkt`` to ``POLYGON EMPTY``.
    return pa.array([polygon_to_wkt(c) for c in coords.to_pylist()], pa.string())


def build_detected_objects(
    spark: SparkSession,
    results_json_path: str,
    with_uuid: bool = True,
) -> DataFrame:
    """The ``detected_objects`` table as a lazy DataFrame.

    ``with_uuid=False`` drops the nondeterministic id column (P3) so tests
    and declared queries can hash the output (SURVEY.md §7.2).
    """
    raw = read_results_json(spark, results_json_path)
    exploded = raw.select(
        "file_name", F.explode("objects").alias("o")
    ).select("file_name", "o.*")

    dim = class_dim(spark)
    named = exploded.join(F.broadcast(dim), "class", "left")

    out = named.select(
        "file_name",
        "bbox",
        _wkt_udf("polygon.coordinates").alias("polygon"),
        "score",
        "class",
        "class_name",
    )
    if with_uuid:
        out = out.withColumn("id", F.expr("uuid()"))
    return out


def class_counts(detected: DataFrame) -> DataFrame:
    """The reference's materialize-report value_counts (A2/O1;
    detected_objects_processing.py:26)."""
    return (
        detected.groupBy("class_name")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), "class_name")
    )
