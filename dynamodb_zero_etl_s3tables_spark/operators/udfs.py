"""UDF surface (SURVEY.md §2 D49-D53): scalar Python UDF, vectorized
pandas UDFs, grouped-agg / grouped-map (applyInPandas), mapInPandas.

Pattern source: public PySpark pandas_udf idioms (SNIPPETS.md [1]-[3]).
These exist to prove the slow-path machinery; everything hot in the
engine stays on JVM built-ins. Grouped float math sorts its inputs
first so results don't depend on row arrival order.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from dynamodb_zero_etl_s3tables_spark.operators.registry import query
from dynamodb_zero_etl_s3tables_spark.sources.testdata import load


@query(
    "d49_scalar_python_udf",
    oracle="""
    SELECT o_orderkey,
           CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.07 AS DECIMAL(4,2)), 2)
                AS DOUBLE) AS with_tax
    FROM orders
    """,
)
def d49_scalar_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D49: row-at-a-time Python UDF (baseline; discouraged in hot
    paths). Decimal math inside the UDF keeps it oracle-exact."""
    from decimal import ROUND_HALF_UP, Decimal

    @F.udf(T.DoubleType())
    def with_tax(price):
        if price is None:
            # the NULL propagation every JVM builtin gets for free —
            # Decimal(str(None)) would crash the executor where the
            # oracle returns NULL (r8 review)
            return None
        d = (Decimal(str(price)) * Decimal("1.07")).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP
        )
        return float(d)

    o = load(spark, sf_dir, "orders")
    return o.select("o_orderkey", with_tax("o_totalprice").alias("with_tax"))


@query(
    "d50_pandas_udf_scalar",
    oracle="""
    SELECT event_id,
           ROUND(LN(value + 1.0), 6) AS log_value,
           ROUND(value * 0.5, 6) AS half_value
    FROM events
    """,
)
def d50_pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D50: vectorized (Arrow) scalar pandas UDF — numpy elementwise
    ops match libm/SQL per-element to well beyond 6dp."""

    @pandas_udf("double")
    def log1p_vec(v: pd.Series) -> pd.Series:
        return pd.Series(np.round(np.log(v.to_numpy() + 1.0), 6))

    @pandas_udf("double")
    def half_vec(v: pd.Series) -> pd.Series:
        return pd.Series(np.round(v.to_numpy() * 0.5, 6))

    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        log1p_vec("value").alias("log_value"),
        half_vec("value").alias("half_value"),
    )


@query(
    "d51_pandas_udf_grouped_agg",
    oracle="""
    SELECT user_id,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 4) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def d51_pandas_udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D51: grouped-aggregate pandas UDF (Series -> scalar). Sums in
    sorted order so the float result is partition-order independent,
    then rounds to the decimal oracle's value."""

    @pandas_udf("double")
    def stable_sum(v: pd.Series) -> float:
        return float(np.round(np.sort(v.to_numpy()).sum(), 4))

    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(stable_sum("value").alias("total_value"))


@query(
    "d52_apply_in_pandas",
    oracle="""
    WITH stats AS (
      SELECT label,
             CAST(SUM(CAST(CAST(vec_id AS DOUBLE) AS DECIMAL(25,6))) AS DOUBLE)
               / COUNT(*) AS mu
      FROM embeddings GROUP BY label
    )
    SELECT e.vec_id, e.label,
           ROUND(CAST(e.vec_id AS DOUBLE) - s.mu, 4) AS centered_id
    FROM embeddings e JOIN stats s ON e.label = s.label
    """,
)
def d52_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D52: grouped-map applyInPandas — per-group centering (the
    normalize-per-group demo of SNIPPETS [2]), centering on an exact
    integer-sum mean so it hash-matches the SQL twin."""

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("label", T.IntegerType()),
            T.StructField("centered_id", T.DoubleType()),
        ]
    )

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["vec_id"].to_numpy(dtype="int64")
        mu = float(v.sum()) / len(v)  # integer sum -> exact
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "label": pdf["label"],
                "centered_id": np.round(v.astype("float64") - mu, 4),
            }
        )

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    return e.groupBy("label").applyInPandas(center, schema)


@query(
    "d53_map_in_pandas",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           LENGTH(text) AS n_chars_m
    FROM documents
    """,
)
def d53_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D53: mapInPandas — streaming Arrow batches through a Python
    iterator (the E-row expander shape); per-row outputs only."""

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_tokens", T.IntegerType()),
            T.StructField("n_chars_m", T.IntegerType()),
        ]
    )

    def count_tokens(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": pdf["text"].str.split(" ").map(len).astype("int32"),
                    "n_chars_m": pdf["text"].str.len().astype("int32"),
                }
            )

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", "text").mapInPandas(count_tokens, schema)


@query(
    "d53b_python_udtf",
    oracle="""
    SELECT doc_id,
           CAST(s.i - 1 AS INTEGER) AS sent_idx,
           TRIM(parts[s.i]) AS sentence,
           LENGTH(TRIM(parts[s.i])) AS n_chars
    FROM (SELECT doc_id, string_split(text, '.') AS parts FROM documents),
         (SELECT UNNEST(range(1, 10001)) AS i) s
    WHERE s.i <= len(parts) AND LENGTH(TRIM(parts[s.i])) > 0
    """,
)
def d53b_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D53 (table function): Spark 4 Python UDTF — one input row
    expands to N output rows (document -> non-empty sentences). The
    UDTF runs per-partition in Python workers; no state crosses rows,
    so it parallelizes like any map-side operator."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: bigint, sent_idx: int, sentence: string, n_chars: int")
    class SplitSentences:
        def eval(self, doc_id: int, text: str):
            idx = 0
            for part in text.split("."):
                s = part.strip()
                if s:
                    yield doc_id, idx, s, len(s)
                idx += 1

    d = load(spark, sf_dir, "documents")
    d.select("doc_id", "text").createOrReplaceTempView("__udtf_docs")
    spark.udtf.register("split_sentences", SplitSentences)
    return spark.sql(
        "SELECT s.* FROM __udtf_docs d, "
        "LATERAL split_sentences(d.doc_id, d.text) s"
    )


@query(
    "d53c_map_in_arrow",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(strlen(text) AS INTEGER) AS n_bytes
    FROM documents
    """,
)
def d53c_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D53 (arrow-native): mapInArrow — streams raw
    ``pyarrow.RecordBatch``es through Python with NO pandas
    materialization, the zero-copy lower layer under mapInPandas.
    The batch function stays entirely in Arrow compute kernels
    (split + list-length + binary-length), so per-batch Python cost
    is a handful of vectorized C calls regardless of row width —
    the right shape when the pandas conversion itself (object-dtype
    strings) would dominate, which is exactly the long-document case
    at corpus scale. Output matches d53's token counts, proving the
    two map surfaces agree.

    Scale: per-batch constant memory; batch size bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch; partition-parallel
    like any map operator."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def count_tokens(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            text = batch.column(1)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pc.cast(
                        pc.list_value_length(pc.split_pattern(text, " ")), pa.int32()
                    ),
                    pc.cast(pc.binary_length(text), pa.int32()),
                ],
                names=["doc_id", "n_tokens", "n_bytes"],
            )

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", "text").mapInArrow(
        count_tokens, "doc_id bigint, n_tokens int, n_bytes int"
    )


@query(
    "d100_udtf_table_argument",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM documents
    GROUP BY source
    """,
)
def d100_udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D53 (polymorphic table function): Spark 4 UDTF with a TABLE
    ARGUMENT routed by ``PARTITION BY ... ORDER BY ...`` — the
    SQL-standard PTF surface (SQL:2016 polymorphic table functions;
    Spark's TABLE(...) syntax). Each source's rows stream through ONE
    UDTF instance in doc_id order; per-row state accumulates in
    ``eval`` and ``terminate`` emits the per-partition summary — the
    custom-aggregation escape hatch when logic won't fit builtin
    aggregates. first/last doc columns are ORDER BY-dependent, so the
    oracle hash (min/max under the same order) pins that the engine
    actually routed and ordered partitions, not just grouped.

    Scale: PARTITION BY shuffles once on source exactly like a
    groupBy; each partition streams through its worker row-by-row
    with O(1) state. Python per-row cost makes this the
    LOW-cardinality-partition tool (per-source corpus reports); the
    high-volume twin stays d51/d52's vectorized pandas surface."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="source: string, n_docs: bigint, total_tokens: bigint, "
        "first_doc: bigint, last_doc: bigint"
    )
    class SourceSummary:
        def __init__(self):
            self._src = None
            self._n = 0
            self._tok = 0
            self._first = None
            self._last = None

        def eval(self, row):
            self._src = row["source"]
            self._n += 1
            self._tok += len(row["text"].split(" "))
            if self._first is None:
                self._first = row["doc_id"]
            self._last = row["doc_id"]

        def terminate(self):
            if self._src is not None:
                yield self._src, self._n, self._tok, self._first, self._last

    d = load(spark, sf_dir, "documents")
    d.select("doc_id", "source", "text").createOrReplaceTempView("__ptf_docs")
    spark.udtf.register("source_summary", SourceSummary)
    return spark.sql(
        "SELECT s.* FROM source_summary("
        "TABLE(SELECT doc_id, source, text FROM __ptf_docs) "
        "PARTITION BY source ORDER BY doc_id) s"
    )
