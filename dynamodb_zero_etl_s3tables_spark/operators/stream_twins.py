"""Batch twins of the streaming operators (SURVEY.md §2 H2-H6).

Every streaming op in streaming/ has a deterministic batch-equivalent
here so the DuckDB oracle can check the semantics (FIXTURES.md §C);
the true readStream/writeStream forms are exercised in tests/ with
availableNow triggers and must produce byte-identical results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dynamodb_zero_etl_s3tables_spark.operators.registry import DSUM, dsum, query
from dynamodb_zero_etl_s3tables_spark.operators.scratch import scratch_dir
from dynamodb_zero_etl_s3tables_spark.sources.testdata import load


def _drain(q, timeout_sec: int = 300) -> None:
    """Await an availableNow drain and FAIL LOUDLY on timeout: a
    partially-drained sink would otherwise surface as a confusing
    oracle hash mismatch instead of a clear slow-host error."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming drain exceeded {timeout_sec}s (query {q.name or q.id}); "
            "result would be partial — aborting instead of returning it"
        )


def _orders_cdc_core(spark: SparkSession, sf_dir: str):
    """Shared orders-CDC journey fixture (h07/h17/h21 — r8 review:
    three hand-copies had to be kept in sync by eye with the oracles
    they share): returns (orders frame, mod10 expr, base frame,
    bumped-price expr, chg builder, batch1 frame). ``chg`` takes an
    optional ``segment_col`` for h21's mid-stream schema evolution;
    ``batch1`` is the first wave every journey replays (touch
    m∈{0,1}, tombstone m=2)."""
    o = load(spark, sf_dir, "orders")
    mod10 = F.col("o_orderkey") % 10
    base = o.filter(mod10 <= 7).select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    bumped = (
        F.round(
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("1.5").cast("decimal(2,1)"),
            2,
        ).cast("double")
    )

    def chg(op, seq, cond, status_col, price_col, segment_col=None):
        cols = [
            F.lit(op).alias("op"),
            F.lit(seq).cast("long").alias("seq"),
            F.col("o_orderkey").alias("pk"),
            status_col.alias("status"),
            price_col.alias("price"),
        ]
        if segment_col is not None:
            cols.append(segment_col.alias("segment"))
        return o.filter(cond).select(cols)

    batch1 = chg("MODIFY", 1, mod10.isin(0, 1), F.lit("touched"), bumped).unionByName(
        chg("REMOVE", 1, mod10 == 2, F.col("o_orderstatus"), F.col("o_totalprice"))
    )
    return o, mod10, base, bumped, chg, batch1


def _orders_cdf_table(spark: SparkSession, sf_dir: str, root):
    """Shared changelog-journey table (h20/h25 — they grade against
    the SAME H20_ORACLE, so their histories must be byte-identical;
    r8 review: two hand-copies). Commits bootstrap (pk%3==0) + one
    merge-on-read wave (MODIFY pk%3==1, REMOVE pk%6==0); returns
    (table, manifest path, wave2 frame) with wave 2 (price-doubled
    MODIFY pk%3==2) left for the caller to commit at its journey's
    own point."""
    from dynamodb_zero_etl_s3tables_spark.spec import TableSpec
    from dynamodb_zero_etl_s3tables_spark.table.catalog import Catalog

    t = Catalog(spark, str(root / "wh")).create_table(
        TableSpec(namespace="ns", name="orders_cdf", key_columns=("pk",))
    )
    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    t.bootstrap(base.filter(F.col("pk") % 3 == 0))
    wave1 = (
        base.filter(F.col("pk") % 3 == 1)
        .select(
            F.lit("MODIFY").alias("op"), "pk", "status", "price",
            F.lit(1).alias("ts"), F.col("pk").alias("seq"),
        )
        .unionByName(
            base.filter(F.col("pk") % 6 == 0).select(
                F.lit("REMOVE").alias("op"), "pk",
                F.lit(None).cast("string").alias("status"),
                F.lit(None).cast("double").alias("price"),
                F.lit(1).alias("ts"), F.col("pk").alias("seq"),
            )
        )
    )
    t.apply_changes(wave1, strategy="merge-on-read")
    wave2 = base.filter(F.col("pk") % 3 == 2).select(
        F.lit("MODIFY").alias("op"), "pk", "status",
        (F.col("price") * 2).alias("price"),
        F.lit(2).alias("ts"), F.col("pk").alias("seq"),
    )
    manifest = str(root / "wh" / "ns" / "orders_cdf" / "manifest.json")
    return t, manifest, wave2


@query(
    "h02_watermark_twin",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_recent, {DSUM('value')} AS recent_value
    FROM events
    WHERE ts >= (SELECT MAX(ts) FROM events) - INTERVAL 7 DAY
    GROUP BY user_id
    """,
)
def h02_watermark_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: watermark/late-data-drop twin — keep only rows within the
    watermark horizon of max event time (scalar-subquery max; in
    streaming this is withWatermark state eviction)."""
    e = load(spark, sf_dir, "events")
    horizon = e.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAY")).alias("h")
    )
    return (
        e.join(F.broadcast(horizon))
        .filter(F.col("ts") >= F.col("h"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_recent"), dsum("value").alias("recent_value"))
    )


@query(
    "h03_tumbling_window",
    oracle=f"""
    SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS win_start,
           event_type,
           COUNT(*) AS n_events,
           {DSUM('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def h03_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3: tumbling-window aggregate (1-day) via Spark's window()
    generator — start timestamps equal DuckDB's date_trunc buckets."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "h04_sliding_window",
    oracle=f"""
    WITH buckets AS (
      SELECT e.*, CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP)
                    - (INTERVAL 1 HOUR * x.i) AS win_start
      FROM events e
      CROSS JOIN (SELECT UNNEST([0,1,2,3,4,5]) AS i) x
    )
    SELECT win_start, COUNT(*) AS n_events, {DSUM('value')} AS total_value
    FROM buckets
    WHERE ts >= win_start AND ts < win_start + INTERVAL 6 HOUR
    GROUP BY win_start
    """,
)
def h04_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4: sliding window (6h length, 1h slide) — each event lands in
    6 overlapping windows; Spark's window() generator expands them,
    the oracle replays the expansion with an explicit bucket cross."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "6 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(F.col("w.start").alias("win_start"), "n_events", "total_value")
    )


@query(
    "h05_session_window",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      -- event_id tiebreak in EVERY window (not just the lag): a ROWS
      -- frame over an underspecified tie order could place tied-ts
      -- rows differently from the Spark twin's (ts, event_id) order,
      -- splitting the running flag sum across engines (r8 review)
      SELECT user_id, ts, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events, {DSUM('value')} AS session_value
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def h05_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H5: session windows (30-min gap) via the gap-islands trick —
    lag + cumulative flag sum — checkable in plain SQL, unlike the
    streaming session_window() state (same semantics; tests compare
    the streaming form against this twin)."""
    e = load(spark, sf_dir, "events")
    w_order = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w_order)
    # microsecond-exact gap comparison (second-truncated casts would
    # disagree with the oracle on sub-second boundaries); timestamp_diff
    # accepts both TIMESTAMP and TIMESTAMP_NTZ inputs, unlike unix_micros
    flagged = e.withColumn(
        "new_session",
        F.when(
            prev_ts.isNull()
            | (F.timestamp_diff("MICROSECOND", prev_ts, F.col("ts")) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    w_cum = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sess = flagged.withColumn("session_id", F.sum("new_session").over(w_cum))
    return sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        dsum("value").alias("session_value"),
    )


@query(
    "h06_stream_dedup_twin",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def h06_stream_dedup_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6: streaming dropDuplicates twin — first arrival per
    (user_id, event_type) in event-time order."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


@query(
    "h07_stream_merge_sink",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS pk, o_orderstatus AS status, o_totalprice AS price
      FROM orders WHERE o_orderkey % 10 <= 7
    ), modified AS (
      SELECT pk,
             CASE WHEN pk % 10 IN (0, 1) THEN 'touched' ELSE status END AS status,
             CASE WHEN pk % 10 IN (0, 1)
                  THEN CAST(ROUND(CAST(price AS DECIMAL(18,2))
                                  * CAST(1.5 AS DECIMAL(2,1)), 2) AS DOUBLE)
                  ELSE price END AS price
      FROM base WHERE pk % 10 <> 2
    )
    SELECT pk, status, price FROM modified
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 10 IN (8, 9)
    """,
)
def h07_stream_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H7+H8 under the oracle: the REAL Structured Streaming CDC path
    — a file-source changelog backlog drained with
    ``trigger(availableNow=True)`` through ``foreachBatch`` into a
    manifest-committed table, one merge transaction per microbatch
    (``maxFilesPerTrigger=1`` forces multi-batch). The returned frame
    is the table's final snapshot; the oracle replays the same change
    semantics in SQL, so checkpointing, batch sequencing, and the
    merge are all inside the hash-match.

    The two batches touch disjoint keys (batch 1: updates+deletes,
    batch 2: inserts), so the result is independent of file arrival
    order — the determinism requirement for an oracle-checked stream.
    """

    from pyspark.sql import types as T

    from dynamodb_zero_etl_s3tables_spark.spec import TableSpec
    from dynamodb_zero_etl_s3tables_spark.streaming.cdc import (
        apply_changes_stream,
        read_changelog_stream,
    )
    from dynamodb_zero_etl_s3tables_spark.table.catalog import Catalog

    root = scratch_dir(sf_dir, "h07_stream", wipe=True)
    (root / "changelog").mkdir(parents=True)

    o, mod10, base, bumped, chg, batch1 = _orders_cdc_core(spark, sf_dir)
    batch2 = chg("INSERT", 1, mod10.isin(8, 9), F.col("o_orderstatus"), F.col("o_totalprice"))
    batch1.coalesce(1).write.mode("overwrite").json(str(root / "changelog" / "b1"))
    batch2.coalesce(1).write.mode("overwrite").json(str(root / "changelog" / "b2"))

    cat = Catalog(spark, str(root / "warehouse"))
    t = cat.create_table(
        TableSpec(namespace="stream", name="orders_cdc", key_columns=("pk",), order_columns=("seq",))
    )
    t.bootstrap(base)

    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("pk", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    changes = read_changelog_stream(
        spark,
        str(root / "changelog" / "*"),
        schema,
        fmt="json",
        max_files_per_trigger=1,
    )
    q = apply_changes_stream(t, changes, checkpoint_dir=str(root / "ckpt"))
    _drain(q)
    return t.read().select("pk", "status", "price")


@query(
    "h27_out_of_order_cdc",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS pk, o_orderstatus AS status, o_totalprice AS price
      FROM orders WHERE o_orderkey % 10 <= 7
    ), changes AS (
      -- wave A (delivered FIRST, logically newer: seq 2)
      SELECT 'MODIFY' AS op, 2 AS seq, o_orderkey AS pk, 'winner' AS status,
             CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2))
                        * CAST(1.5 AS DECIMAL(2,1)), 2) AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 10 IN (0, 1)
      UNION ALL
      SELECT 'REMOVE', 2, o_orderkey, NULL, NULL
      FROM orders WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT 'MODIFY', 2, o_orderkey, 'kept', o_totalprice
      FROM orders WHERE o_orderkey % 10 = 4
      -- wave B (delivered SECOND: stale seq 1 + fresh seq 3)
      UNION ALL
      SELECT 'MODIFY', 1, o_orderkey, 'stale', -1.0
      FROM orders WHERE o_orderkey % 10 IN (0, 3)
      UNION ALL
      SELECT 'REMOVE', 1, o_orderkey, NULL, NULL
      FROM orders WHERE o_orderkey % 10 = 4
      UNION ALL
      SELECT 'INSERT', 1, o_orderkey, 'late-new', o_totalprice
      FROM orders WHERE o_orderkey % 10 = 8
      UNION ALL
      SELECT 'MODIFY', 3, o_orderkey, 'freshest',
             CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2))
                        * CAST(1.5 AS DECIMAL(2,1)), 2) AS DOUBLE)
      FROM orders WHERE o_orderkey % 10 = 5
      UNION ALL
      SELECT 'INSERT', 3, o_orderkey, 'resurrected', o_totalprice
      FROM orders WHERE o_orderkey % 10 = 3
    ), last AS (
      -- ORDER-INSENSITIVE one-big-batch LWW: only max(seq) per key
      -- matters, no matter how the feed was split into batches
      SELECT * FROM (
        SELECT c.*, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
        FROM changes c
      ) WHERE rn = 1
    )
    SELECT b.pk, b.status, b.price
    FROM base b LEFT JOIN last l ON b.pk = l.pk WHERE l.pk IS NULL
    UNION ALL
    SELECT pk, status, price FROM last WHERE op <> 'REMOVE'
    """,
)
def h27_out_of_order_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H7 under REVERSED ARRIVAL (r8 verdict #2): the changelog's
    logically-newer wave (seq 2) is delivered in an EARLIER microbatch
    than the stale wave (seq 1, which carries a MODIFY for a key the
    newer wave already REMOVEd, and a REMOVE for a key it already
    re-imaged), plus a genuinely fresh seq-3 sub-wave riding the late
    file — the realistic DynamoDB-Streams shape where cross-shard file
    order is not per-key write order (reference README.md:12,93's
    "data flows automatically" contract). ``tolerate_out_of_order``
    turns on the checkpoint-persisted :class:`VersionState`, so each
    batch applies only rows strictly newer than the key's applied
    version; the oracle is the ORDER-INSENSITIVE one-big-batch LWW
    merge — the hash-match proves arrival order is invisible.

    Exercised inside the match: stale-MODIFY-after-REMOVE suppressed
    (no zombie), stale REMOVE suppressed (newer image survives),
    legitimate resurrection (seq-3 INSERT after seq-2 REMOVE), fresh
    INSERT riding a stale batch, and the watermark/GC code path
    (``late_delay`` set wide enough to admit everything).

    Scale: the state join is one key equi-join of each microbatch
    against an O(keys-in-horizon) side table; with ``late_delay``
    bounding the horizon the state stays small regardless of table
    size, and the merge cost is unchanged from h07."""
    import os as _os

    from pyspark.sql import types as T

    from dynamodb_zero_etl_s3tables_spark.spec import TableSpec
    from dynamodb_zero_etl_s3tables_spark.streaming.cdc import (
        apply_changes_stream,
        read_changelog_stream,
    )
    from dynamodb_zero_etl_s3tables_spark.table.catalog import Catalog

    root = scratch_dir(sf_dir, "h27_ooo", wipe=True)
    (root / "changelog").mkdir(parents=True)

    o, mod10, base, bumped, chg, _b1 = _orders_cdc_core(spark, sf_dir)

    def wave(*parts):
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def chg_seq(op, seq, cond, status_col, price_col):
        return o.filter(cond).select(
            F.lit(op).alias("op"),
            F.lit(seq).cast("long").alias("seq"),
            F.col("o_orderkey").alias("pk"),
            status_col.alias("status"),
            price_col.alias("price"),
        )

    null_d = F.lit(None).cast("double")
    wave_new = wave(  # seq 2 — arrives FIRST
        chg_seq("MODIFY", 2, mod10.isin(0, 1), F.lit("winner"), bumped),
        chg_seq("REMOVE", 2, mod10 == 3, F.lit(None).cast("string"), null_d),
        chg_seq("MODIFY", 2, mod10 == 4, F.lit("kept"), F.col("o_totalprice")),
    )
    wave_old = wave(  # stale seq 1 + fresh seq 3 — arrives SECOND
        chg_seq("MODIFY", 1, mod10.isin(0, 3), F.lit("stale"), F.lit(-1.0)),
        chg_seq("REMOVE", 1, mod10 == 4, F.lit(None).cast("string"), null_d),
        chg_seq("INSERT", 1, mod10 == 8, F.lit("late-new"), F.col("o_totalprice")),
        chg_seq("MODIFY", 3, mod10 == 5, F.lit("freshest"), bumped),
        chg_seq("INSERT", 3, mod10 == 3, F.lit("resurrected"), F.col("o_totalprice")),
    )
    # pin file mtimes so the file source's mtime ordering delivers the
    # NEWER wave first — the adversarial arrival order, deterministic
    for name, df, mtime in (("b_new", wave_new, 1_000_000), ("b_old", wave_old, 1_000_100)):
        d = root / "changelog" / name
        df.coalesce(1).write.mode("overwrite").json(str(d))
        for fn in _os.listdir(d):
            p = d / fn
            _os.utime(p, (mtime, mtime))

    cat = Catalog(spark, str(root / "warehouse"))
    t = cat.create_table(
        TableSpec(namespace="stream", name="orders_ooo", key_columns=("pk",), order_columns=("seq",))
    )
    t.bootstrap(base)

    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("pk", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    changes = read_changelog_stream(
        spark,
        str(root / "changelog" / "*"),
        schema,
        fmt="json",
        max_files_per_trigger=1,
    )
    q = apply_changes_stream(
        t,
        changes,
        checkpoint_dir=str(root / "ckpt"),
        tolerate_out_of_order=True,
        late_delay=1000,
    )
    _drain(q)
    return t.read().select("pk", "status", "price")


@query(
    "h09_stream_static_join",
    oracle=f"""
    SELECT n.n_name, e.event_type, COUNT(*) AS n_events,
           {DSUM('e.value')} AS total_value
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    GROUP BY n.n_name, e.event_type
    """,
)
def h09_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H: stream-static enrichment twin — each change record joins a
    small static dimension (broadcast; in streaming form the same
    ``df.join(static)`` inside the microbatch, exercised in
    tests/test_streaming.py). At scale the dimension broadcasts once
    per executor, so enrichment adds zero shuffles to the stream."""
    e = load(spark, sf_dir, "events")
    n = load(spark, sf_dir, "nation")
    return (
        e.withColumn("nk", F.col("user_id") % 25)
        .join(F.broadcast(n), F.col("nk") == F.col("n_nationkey"))
        .groupBy("n_name", "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
    )


def corpus_gate(d: DataFrame) -> DataFrame:
    """Shared quality gate (batch AND streaming forms take the same
    DataFrame): token-count band + distinct-token ratio, the e05c
    filter predicates in streaming-safe (stateless projection) form;
    then per-language admitted counts/token totals."""
    toks = F.split(F.lower("text"), " ")
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    return (
        d.select("doc_id", "lang", n_tokens.alias("n_tokens"),
                 distinct_ratio.alias("dr"))
        .filter((F.col("n_tokens").between(10, 1000)) & (F.col("dr") > 0.3))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_admitted"),
            F.sum("n_tokens").alias("tokens_admitted"),
        )
    )


@query(
    "h10_corpus_ingest_gate",
    oracle="""
    WITH t AS (
      SELECT lang, len(string_split(LOWER(text), ' ')) AS n_tokens,
             CAST(len(list_distinct(string_split(LOWER(text), ' '))) AS DOUBLE)
               / len(string_split(LOWER(text), ' ')) AS dr
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_admitted,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_admitted
    FROM t
    WHERE n_tokens BETWEEN 10 AND 1000 AND dr > 0.3
    GROUP BY lang
    """,
)
def h10_corpus_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H10: streaming corpus-ingest quality gate twin — the shape of a
    training-data intake pipeline: documents arrive as files, each is
    gated on cheap stateless quality predicates, admitted counts roll
    up per language. The gate is a pure projection+filter (no state),
    so the streaming form is the SAME builder over readStream
    (tests/test_streaming.py::test_corpus_gate_stream_equals_batch);
    only the final counts aggregate carries state, keyed by the tiny
    language cardinality."""
    d = load(spark, sf_dir, "documents")
    return corpus_gate(d)


@query(
    "h11_interval_join_twin",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.ts AS p_ts, c.ts AS c_ts
    FROM events p, events c
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      AND c.user_id = p.user_id
      AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
)
def h11_interval_join_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H11: stream-stream interval join twin — every click by the same
    user within the hour before each purchase (multi-touch
    attribution; d20 is the single-touch as-of variant). The batch
    form here IS the streaming builder
    (streaming/joins.purchase_click_attribution) minus watermarks;
    tests/test_streaming.py drains both sides through readStream and
    asserts equality. In the streaming form the two-sided time bound
    is what lets the watermark GC the per-user buffered state — the
    canonical bounded-state two-stream join."""
    from dynamodb_zero_etl_s3tables_spark.streaming.joins import (
        purchase_click_attribution,
    )

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
    )
    return purchase_click_attribution(purchases, clicks)


@query(
    "h12_interval_left_join_twin",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.ts AS p_ts, c.ts AS c_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
)
def h12_interval_left_join_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H12: stream-stream LEFT OUTER interval join twin — h11 plus the
    purchases with NO qualifying click (null click columns), i.e. the
    unattributed conversions an inner join silently drops. In the
    streaming form Spark holds the purchase in state until its
    watermark passes the end of the lookback window, THEN emits the
    null-padded row — the outer-join-with-watermark-closure semantics
    unique to two-stream joins (stream-static h09 can emit nulls
    immediately). Same builder as h11 (streaming/joins.py,
    how='left_outer'); tests drain the streaming form and assert
    equality with this batch twin."""
    from dynamodb_zero_etl_s3tables_spark.streaming.joins import (
        purchase_click_attribution,
    )

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
    )
    return purchase_click_attribution(purchases, clicks, how="left_outer")


@query(
    "h13_dedup_within_watermark_twin",
    oracle="""
    SELECT DISTINCT user_id, event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS evt_day
    FROM events
    """,
)
def h13_dedup_within_watermark_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H: REAL Structured Streaming ``dropDuplicatesWithinWatermark``
    — the state-evicting dedup Spark added for at-least-once sources
    (a redelivered event may carry a slightly different ingest time,
    so exact-match ``dropDuplicates`` leaks; the WithinWatermark
    variant matches on the business key and lets the watermark bound
    state instead of keeping every key forever). The events backlog is
    drained with ``trigger(availableNow=True)`` through a file sink
    and the final frame read back, so checkpointing and the dedup
    state store are inside the oracle hash-match.

    Determinism: the stream is projected to EXACTLY the dedup key
    (user_id, event_type, event-day) before the dedup, so whichever
    physical row wins the first-arrival race, the emitted row is
    identical — the one construction under which an at-least-once
    dedup has an exact SQL twin (DISTINCT over the key). The
    watermark delay (3650 days) exceeds the FULL event-time span of
    every fixture, not just each intra-key span: availableNow may
    legally split the backlog across microbatches in arbitrary file
    order, and a key first arriving in a later batch with an event
    day older than an already-advanced watermark would otherwise be
    dropped as late data (ADVICE r3 #1) — the oversized delay makes
    the DISTINCT twin hold under ANY batch split. In production the
    delay is tuned to the real out-of-orderness bound instead; the
    state layout is identical.

    Scale: dedup state is one entry per distinct key, hash-partitioned
    across executors by the state store; the 100 TB concern is state
    size, which this key-projection bounds at key-cardinality × a few
    bytes, not corpus size."""

    root = scratch_dir(sf_dir, "h13_dedup_wm", wipe=True)
    root.mkdir(parents=True)

    e = load(spark, sf_dir, "events")
    # NTZ has no watermark support: cast through TIMESTAMP (UTC
    # session) first, then truncate to the event day (the dedup key's
    # time component).
    src = e.select("user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))
    src.write.mode("overwrite").parquet(str(root / "in"))

    stream = (
        spark.readStream.schema(src.schema)
        .parquet(str(root / "in"))
        .withColumn("evt_day", F.date_trunc("day", "ts").cast("timestamp"))
        .withWatermark("evt_day", "3650 days")
        .select("user_id", "event_type", "evt_day")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "evt_day"])
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(root / "out"))
        .option("checkpointLocation", str(root / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    return spark.read.parquet(str(root / "out"))


@query(
    "h14_stateful_totals_twin",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def h14_stateful_totals_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H: REAL ``applyInPandasWithState`` under the oracle gate — the
    custom stateful operator (streaming/stateful.running_totals)
    drains a multi-microbatch events backlog in update mode; each
    batch emits the post-update running totals for the keys it
    touched, and the FINAL emission per key (highest batch_id) must
    equal a plain batch groupBy — the batch-twin law the pytest suite
    asserts, here promoted to the hash-matched driver gate.

    Determinism: float += across microbatches is order-dependent, so
    values are quantized to integer cents BEFORE streaming (the d29c
    pattern) — every partial sum is then an exact integer-valued
    double, associative in IEEE arithmetic, and the /100 rescale is
    the identical final operation in both engines.

    Scale: state is one (count, total) pair per live key in the
    partitioned state store; backlog drain cost is one shuffle per
    microbatch on user_id. The final-emission pick is a key-partition
    window over per-batch rows (keys × batches rows, not events)."""

    from dynamodb_zero_etl_s3tables_spark.streaming.stateful import running_totals

    root = scratch_dir(sf_dir, "h14_stateful", wipe=True)
    root.mkdir(parents=True)

    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").cast("double").alias("value"),
    )
    # 4 input files -> 2 microbatches of 2 files: the running totals
    # genuinely accumulate across state-store commits.
    e.repartition(4).write.mode("overwrite").parquet(str(root / "in"))

    stream = spark.readStream.schema(e.schema).option(
        "maxFilesPerTrigger", "2"
    ).parquet(str(root / "in"))
    totals = running_totals(stream)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(str(root / "out"))

    q = (
        totals.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(root / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)

    out = spark.read.parquet(str(root / "out"))
    w = W.partitionBy("user_id").orderBy(F.col("batch_id").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            (F.col("total_value") / 100.0).alias("total_value"),
        )
    )


@query(
    "h15_session_window_twin",
    oracle=f"""
    WITH g AS (
      SELECT user_id, ts, event_id, value,
             ts + CASE WHEN event_type = 'purchase'
                       THEN INTERVAL 60 MINUTE
                       ELSE INTERVAL 30 MINUTE END AS ind_end
      FROM events
    ),
    m AS (
      SELECT *,
             MAX(ind_end) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS prev_max_end
      FROM g
    ),
    f AS (
      SELECT *, CASE WHEN prev_max_end IS NULL OR ts >= prev_max_end
                     THEN 1 ELSE 0 END AS new_s
      FROM m
    ),
    s AS (
      SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM f
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ind_end) AS session_end,
           COUNT(*) AS n_events,
           {DSUM('value')} AS session_value
    FROM s
    GROUP BY user_id, sid
    """,
)
def h15_session_window_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H5 companion with the REAL operator: ``F.session_window`` with
    a DYNAMIC per-event gap (60 min after a purchase, 30 min
    otherwise) — the exact groupBy(session_window) shape Structured
    Streaming runs with a watermark in front; batch and streaming
    share the operator, so this twin exercises the session-merge
    machinery itself rather than the h05 gap-islands reconstruction.

    Session semantics: each event opens an interval
    [ts, ts + gap(event)); overlapping intervals merge, and the
    session end is the MAX of its members' individual ends (an event
    landing exactly ON the previous max-end starts a NEW session —
    mirrored by the oracle's ``ts >= prev_max_end`` flag over a
    running-max window, the interval-union generalization of
    gap-islands that a fixed-gap lag() check cannot express).

    Scale: one shuffle on user_id; the merge is a per-key sorted scan
    inside each partition — exactly the streaming state layout. The
    dynamic gap is a map-side CASE, so changing session policy per
    event class costs nothing."""
    e = load(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("60 minutes")
    ).otherwise(F.lit("30 minutes"))
    return (
        e.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


@query(
    "h16_chained_window_twin",
    oracle="""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             event_type,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(25,6))) AS v_dec
      FROM events
      GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('day', h) AS TIMESTAMP) AS day_start,
           event_type,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(SUM(v_dec) AS DOUBLE) AS total_value,
           COUNT(*) AS n_hours
    FROM hourly
    GROUP BY 1, 2
    """,
)
def h16_chained_window_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H: CHAINED time-window aggregation — hourly window()
    aggregates re-aggregated into daily windows via ``window_time()``
    (the event-time column of a window struct), the construction
    Spark 3.4+ allows UNMODIFIED in Structured Streaming where a
    naive window-over-window would be rejected (no event-time column
    after the first agg). This is d88's rollup cascade expressed in
    the streaming operator algebra: in streaming mode each level
    carries its own watermark-tracked state and the daily level
    consumes the hourly level's FINALIZED windows — so batch and
    stream share this exact plan, and the twin is what a late-data
    tolerant two-tier dashboard materializes.

    Scale: level-2 input is level-1's output (bounded by bucket
    cardinality x group keys, independent of event count); partials
    are mergeable by construction (counts sum, DECIMAL sums sum).
    Determinism: identical to d88 — exact DECIMAL at level 1, exact
    re-sum at level 2."""
    e = load(spark, sf_dir, "events")
    hourly = (
        e.groupBy(F.window("ts", "1 hour").alias("w1"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("v_dec"),
        )
    )
    daily = (
        hourly.groupBy(
            F.window(F.window_time("w1"), "1 day").alias("w2"), "event_type"
        )
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum("v_dec").cast("double").alias("total_value"),
            F.count("*").alias("n_hours"),
        )
    )
    return daily.select(
        F.col("w2.start").alias("day_start"),
        "event_type",
        "n_events",
        "total_value",
        "n_hours",
    )


@query(
    "h17_gated_cdc_sink",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS pk, o_orderstatus AS status, o_totalprice AS price
      FROM orders WHERE o_orderkey % 10 <= 7
    ),
    merged AS (
      SELECT pk,
             CASE WHEN pk % 10 IN (0, 1) THEN 'touched' ELSE status END AS status,
             CASE WHEN pk % 10 IN (0, 1)
                  THEN CAST(ROUND(CAST(price AS DECIMAL(18,2))
                                  * CAST(1.5 AS DECIMAL(2,1)), 2) AS DOUBLE)
                  ELSE price END AS price
      FROM base WHERE pk % 10 <> 2
    )
    SELECT pk, status, price FROM merged
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 10 = 9
    """,
)
def h17_gated_cdc_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H7 x WAP under the oracle: GATED CDC — the real streaming
    backlog drain (availableNow, one file per microbatch) where every
    microbatch is WAP-STAGED, audited (no negative prices), and then
    published or ABORTED inside foreachBatch. The backlog carries a
    clean update/delete batch, a POISONED insert batch (one negative
    price — the whole batch must bounce, including its clean rows:
    transactional all-or-nothing per microbatch), and a clean insert
    batch. The oracle replays ONLY the surviving batches, so the hash
    proves the aborted batch left zero residue in the readable table
    — checkpointing, staging, audit, abort, and publish are all
    inside the match. Batches touch disjoint key ranges so the final
    state is independent of file arrival order (the determinism
    requirement for an oracle-checked stream).

    Scale: staging costs one merge per microbatch (same plan as the
    ungated h07 path); the audit reads only the staged snapshot;
    publish/abort are O(manifest). This is the shape a table owner
    runs when upstream producers cannot be trusted batch-by-batch."""

    from pyspark.sql import types as T

    from dynamodb_zero_etl_s3tables_spark.spec import TableSpec
    from dynamodb_zero_etl_s3tables_spark.streaming.cdc import (
        read_changelog_stream,
    )
    from dynamodb_zero_etl_s3tables_spark.table.catalog import Catalog

    root = scratch_dir(sf_dir, "h17_gated", wipe=True)
    (root / "changelog").mkdir(parents=True)

    o, mod10, base, bumped, chg, batch1 = _orders_cdc_core(spark, sf_dir)
    # poisoned batch: clean mod10==8 inserts PLUS one negative-price
    # row -> the audit must bounce the whole batch
    poison = chg(
        "INSERT", 1, mod10 == 8, F.col("o_orderstatus"), F.col("o_totalprice")
    ).unionByName(
        spark.createDataFrame(
            [("INSERT", 1, -1, "bad", -1.0)],
            "op string, seq long, pk long, status string, price double",
        )
    )
    batch3 = chg("INSERT", 1, mod10 == 9, F.col("o_orderstatus"), F.col("o_totalprice"))
    batch1.coalesce(1).write.mode("overwrite").json(str(root / "changelog" / "b1"))
    poison.coalesce(1).write.mode("overwrite").json(str(root / "changelog" / "b2"))
    batch3.coalesce(1).write.mode("overwrite").json(str(root / "changelog" / "b3"))

    cat = Catalog(spark, str(root / "warehouse"))
    t = cat.create_table(
        TableSpec(
            namespace="stream",
            name="orders_gated",
            key_columns=("pk",),
            order_columns=("seq",),
        )
    )
    t.bootstrap(base)

    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("pk", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )

    def gated_merge(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        v = t.stage_changes(batch_df, order_cols=("seq",))
        bad = t.read(version=v).filter(F.col("price") < 0).count()
        if bad:
            t.abort_staged(v)
        else:
            t.publish(v)

    changes = read_changelog_stream(
        spark,
        str(root / "changelog" / "*"),
        schema,
        fmt="json",
        max_files_per_trigger=1,
    )
    q = (
        changes.writeStream.foreachBatch(gated_merge)
        .option("checkpointLocation", str(root / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    return t.read().select("pk", "status", "price")


#: h19 drift gate: PSI threshold above which a microbatch is
#: quarantined instead of merged (0.25 = the classic "significant
#: shift" alarm level; hash-sampled clean batches sit near 0).
H19_PSI_MAX = 0.25


@query(
    "h19_drift_gated_ingest",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value,
           CAST(1 AS INT) AS quarantined_batches
    FROM events GROUP BY event_type
    """,
)
def h19_drift_gated_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H x e54: STREAMING DRIFT GATE — continuous ingest where every
    microbatch's `value` distribution is scored against a frozen
    baseline with the Population Stability Index BEFORE it may merge
    (the model-monitoring gate, applied at ingestion time). The
    backlog holds three clean batches (hash-partitioned thirds of the
    corpus — near-uniform samples, PSI ~ 0) and one POISONED batch
    (top-decile values rewritten 100x): the gate must merge the clean
    three and quarantine the drifted one. The oracle restates the
    UNPOISONED corpus aggregate plus the literal quarantine count, so
    the hash-match proves (a) the poison batch left zero residue and
    (b) the gate fired exactly once — a silent pass-through OR an
    over-eager gate both hash-mismatch.

    Determinism: batch membership is one file per trigger, file
    contents are content-hash partitioned; PSI buckets use exact
    corpus decile boundaries (sorted collect of 9 doubles, computed
    once); batches touch disjoint-or-idempotent keys so the final
    state is arrival-order independent.

    Scale: the baseline is 9 boundaries + 10 proportions — a
    broadcast-sized artifact computed once per deployment, exactly
    how production drift monitors ship reference windows; each
    microbatch adds one pass over its own rows (conditional-sum
    bucketing, no shuffle beyond the merge it was already paying).
    Quarantined batches persist to a dead-letter dir for triage, the
    standard quarantine pattern."""

    from dynamodb_zero_etl_s3tables_spark.spec import TableSpec
    from dynamodb_zero_etl_s3tables_spark.table.catalog import Catalog

    from dynamodb_zero_etl_s3tables_spark.operators.sources_sinks import _check

    root = scratch_dir(sf_dir, "h19_drift", wipe=True)
    (root / "in").mkdir(parents=True)

    e = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    # frozen baseline: exact decile boundaries + corpus bucket shares
    bounds = [
        r[0]
        for r in e.selectExpr(
            "explode(percentile(value, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))) AS b"
        ).collect()
    ]

    def bucketize(col):
        # bucket = number of decile boundaries at or below the value
        return sum((col >= F.lit(cut)).cast("int") for cut in bounds)

    base_prop = (
        e.groupBy(bucketize(F.col("value")).alias("bkt"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    total = sum(r.n for r in base_prop)
    p_base = {r.bkt: r.n / total for r in base_prop}

    # backlog: three clean hash-partitioned thirds + one poisoned file
    clean = e.withColumn(
        "part", F.pmod(F.xxhash64("event_id"), F.lit(3)).cast("int")
    )
    clean.repartition(3, "part").drop("part").write.mode("overwrite").parquet(
        str(root / "in")
    )
    poison = e.filter(
        F.col("value") >= F.lit(bounds[-1])
    ).withColumn("value", F.col("value") * 100)
    poison.coalesce(1).write.mode("append").parquet(str(root / "in"))

    wh = str(root / "wh")
    t = Catalog(spark, wh).create_table(
        TableSpec(
            namespace="stream",
            name="events_gated",
            key_columns=("event_id",),
            order_columns=("seq",),
        )
    )
    t.bootstrap(e.limit(0))
    (root / "dead").mkdir()
    quarantined = set()  # keyed on batch_id: replay-idempotent

    def gate(batch_df, batch_id: int) -> None:
        rows = batch_df.groupBy(
            bucketize(F.col("value")).alias("bkt")
        ).agg(F.count("*").alias("n"))
        got = {r.bkt: r.n for r in rows.collect()}
        n = sum(got.values())
        if n == 0:
            return
        # smoothed PSI against the frozen baseline (e54's formula)
        import math

        psi = 0.0
        for bkt in range(10):
            pb = p_base.get(bkt, 0.0) + 0.5 / total
            pa = (got.get(bkt, 0) + 0.5) / (n + 5)
            psi += (pa - pb) * math.log(pa / pb)
        if psi > H19_PSI_MAX:
            # per-batch_id overwrite (h24's replay contract): a
            # microbatch replay after a crash must not double-count
            # the poison batch in the set or the dead-letter dir
            quarantined.add(batch_id)
            batch_df.write.mode("overwrite").parquet(
                str(root / "dead" / f"batch={batch_id}")
            )
            return
        t.apply_changes(
            batch_df.select(
                F.lit("INSERT").alias("op"),
                F.lit(int(batch_id)).cast("long").alias("seq"),
                "event_id",
                "event_type",
                "user_id",
                "value",
            )
        )

    stream = spark.readStream.schema(e.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(root / "in"))
    q = (
        stream.writeStream.foreachBatch(gate)
        .option("checkpointLocation", str(root / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    _check(
        len(quarantined) == 1,
        f"exactly the poisoned batch must quarantine, got {quarantined}",
    )
    dead = spark.read.parquet(str(root / "dead"))
    _check(
        dead.count() > 0 and dead.agg(F.min("value")).collect()[0][0]
        >= bounds[-1] * 100,
        "dead-letter dir must hold exactly the poisoned rows",
    )
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            dsum("value").alias("total_value"),
            F.lit(len(quarantined)).cast("int").alias("quarantined_batches"),
        )
    )


#: h20's relational restatement of the changelog — shared verbatim by
#: h25 (the partitioned-reader drain): both readers owe the SAME rows.
H20_ORACLE = """
    WITH base AS (
      SELECT o_orderkey AS pk, o_orderstatus AS status, o_totalprice AS price
      FROM orders
    )
    SELECT CAST(1 AS BIGINT) AS version, 'INSERT' AS change_op,
           pk, status, price
    FROM base WHERE pk % 3 = 0
    UNION ALL
    SELECT 2, 'UPSERT', pk, status, price FROM base WHERE pk % 3 = 1
    UNION ALL
    SELECT 2, 'DELETE', pk, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
    FROM base WHERE pk % 6 = 0
    UNION ALL
    SELECT 3, 'UPSERT', pk, status, price * 2 FROM base WHERE pk % 3 = 2
    """


@query("h20_table_changelog_stream", oracle=H20_ORACLE)
def h20_table_changelog_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-family capstone: the MANAGED TABLE ITSELF as a streaming
    SOURCE — Delta CDF / Iceberg incremental-read streaming analog on
    the Spark 4 Python DataSource streaming API
    (streaming/table_source.py). Offsets are manifest versions; each
    microbatch emits the change rows of the versions it covers
    (bootstrap -> INSERT, merge-on-read CDC -> UPSERT/DELETE from the
    delta layer, which already IS the per-commit change file — no
    snapshot diffing anywhere).

    The journey proves the two properties a CDF stream owes you:
    (1) completeness — bootstrap + two CDC waves drain into exactly
    the relational changelog the oracle restates from raw orders; and
    (2) incremental RESUME — the second drain reuses the first's
    checkpoint and appends ONLY wave 2's rows (asserted), i.e. a
    restarted consumer continues from its committed version instead
    of replaying history. This is the reference's continuous
    replication (README.md:12,93) surfaced as a consumable stream.
    Drains go through ``drain_changelog``: ranged per-version reads
    under a polling trigger, one microbatch per published version
    (Trigger.AvailableNow would demote Python sources to a single
    batch — see table_source.py module docstring).

    Scale: a microbatch is one CDC batch — O(batch) rows read from
    the delta dir the writer just produced; the documented upgrade
    for fat batches is the partitioned DataSourceStreamReader variant
    (one InputPartition per delta file, d94-style executor fan-out)."""

    from dynamodb_zero_etl_s3tables_spark.streaming.table_source import (
        drain_changelog,
        make_changelog_source,
    )

    root = scratch_dir(sf_dir, "h20_cdf", wipe=True)
    root.mkdir(parents=True)

    t, manifest, wave2 = _orders_cdf_table(spark, sf_dir, root)

    # re-registration under the same name silently replaces (verified),
    # so no exception guard is needed here
    spark.dataSource.register(make_changelog_source())
    stream = (
        spark.readStream.format("table_changelog")
        .option("manifest", manifest)
        .option("keys", "pk")
        .load()
    )

    def drain() -> int:
        batches = drain_changelog(
            stream, str(root / "out"), str(root / "ckpt"), manifest
        )
        if batches < 1:
            raise AssertionError("drain committed no microbatch")
        return spark.read.parquet(str(root / "out")).count()

    n1 = drain()  # bootstrap + wave 1, one microbatch per version
    t.apply_changes(wave2, strategy="merge-on-read")
    n2 = drain()  # resumes from the committed version
    n_wave2 = wave2.count()
    if n2 - n1 != n_wave2:
        raise AssertionError(
            f"checkpoint resume must append exactly wave 2 "
            f"({n_wave2} rows), got {n1} -> {n2}"
        )
    return spark.read.parquet(str(root / "out")).select(
        "version", "change_op", "pk", "status", "price"
    )


@query(
    "h21_schema_evolving_stream",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS pk, o_orderstatus AS status, o_totalprice AS price
      FROM orders WHERE o_orderkey % 10 <= 7
    ), modified AS (
      SELECT pk,
             CASE WHEN pk % 10 IN (0, 1) THEN 'touched' ELSE status END AS status,
             CASE WHEN pk % 10 IN (0, 1)
                  THEN CAST(ROUND(CAST(price AS DECIMAL(18,2))
                                  * CAST(1.5 AS DECIMAL(2,1)), 2) AS DOUBLE)
                  ELSE price END AS price,
             CASE WHEN pk % 10 = 3 THEN 'legacy' ELSE NULL END AS segment
      FROM base WHERE pk % 10 <> 2
    )
    SELECT pk, status, price, segment FROM modified
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           's' || CAST(o_orderkey % 3 AS VARCHAR)
    FROM orders WHERE o_orderkey % 10 IN (8, 9)
    """,
)
def h21_schema_evolving_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 x H7 (VERDICT r5 #5): the h07 CDC drain where a NEW
    attribute (``segment``) first appears in the SECOND microbatch of
    one continuously-running query. The raw-text source + per-batch
    variant inference (``apply_changes_stream_evolving``) widens the
    target additively mid-stream — the reference's
    ``glue:UpdateTable`` contract (src/…s3tables.ts:110-117) without a
    restart. Rows last written before the attribute existed read NULL
    (additive evolution); the m=3 MODIFY wave and the m∈(8,9) inserts
    carry values. The oracle replays the union-schema merge in SQL,
    so inference, evolution, checkpointed sequencing, and the merge
    are all inside the hash-match.

    Scale: per-batch inference is ONE JVM aggregate
    (schema_of_variant_agg) over the microbatch — no second file
    read, no Python row work; merge cost is h07's unchanged.
    """

    from pyspark.sql import types as T

    from dynamodb_zero_etl_s3tables_spark.spec import TableSpec
    from dynamodb_zero_etl_s3tables_spark.streaming.cdc import (
        apply_changes_stream_evolving,
        read_raw_changelog_stream,
    )
    from dynamodb_zero_etl_s3tables_spark.table.catalog import Catalog

    root = scratch_dir(sf_dir, "h21_evolve", wipe=True)
    (root / "changelog").mkdir(parents=True)

    # batch 1 (from the shared core) is the pre-evolution shape — no
    # `segment` anywhere
    o, mod10, base, bumped, chg, batch1 = _orders_cdc_core(spark, sf_dir)
    # batch 2: `segment` appears — inserts carry it, and an update
    # wave backfills it onto existing m=3 rows
    batch2 = chg(
        "INSERT", 2, mod10.isin(8, 9),
        F.col("o_orderstatus"), F.col("o_totalprice"),
        F.concat(F.lit("s"), (F.col("o_orderkey") % 3).cast("string")),
    ).unionByName(
        chg(
            "MODIFY", 2, mod10 == 3,
            F.col("o_orderstatus"), F.col("o_totalprice"), F.lit("legacy"),
        )
    )
    batch1.coalesce(1).write.mode("overwrite").json(str(root / "changelog" / "b1"))
    batch2.coalesce(1).write.mode("overwrite").json(str(root / "changelog" / "b2"))

    cat = Catalog(spark, str(root / "warehouse"))
    t = cat.create_table(
        TableSpec(
            namespace="stream", name="orders_evolve",
            key_columns=("pk",), order_columns=("seq",),
        )
    )
    t.bootstrap(base)

    raw = read_raw_changelog_stream(
        spark, str(root / "changelog" / "*"), max_files_per_trigger=1
    )
    q = apply_changes_stream_evolving(t, raw, checkpoint_dir=str(root / "ckpt"))
    _drain(q)
    out = t.read()
    from dynamodb_zero_etl_s3tables_spark.operators.sources_sinks import _check

    _check(
        "segment" in out.columns,
        "mid-stream attribute must widen the table",
    )
    return out.select("pk", "status", "price", "segment")


def _h22_oracle() -> str:
    from dynamodb_zero_etl_s3tables_spark.operators.llm_dedup import (
        _LONG_BANDS_WITH,
    )

    return (
        _LONG_BANDS_WITH
        + """
    , waved AS (
      SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS wave
      FROM documents
    ), w1_rej AS (
      SELECT DISTINCT a.doc_id
      FROM long_bands a
      JOIN long_bands b
        ON a.band_id = b.band_id AND a.bucket = b.bucket
       AND b.doc_id < a.doc_id
      JOIN waved wa ON wa.doc_id = a.doc_id AND wa.wave = 1
      JOIN waved wb ON wb.doc_id = b.doc_id AND wb.wave = 1
    ), w1_adm AS (
      SELECT doc_id FROM waved
      WHERE wave = 1 AND doc_id NOT IN (SELECT doc_id FROM w1_rej)
    ), w2_rej AS (
      SELECT DISTINCT a.doc_id
      FROM long_bands a
      JOIN long_bands b
        ON a.band_id = b.band_id AND a.bucket = b.bucket
      JOIN waved wa ON wa.doc_id = a.doc_id AND wa.wave = 2
      WHERE b.doc_id IN (SELECT doc_id FROM w1_adm)
         OR (b.doc_id < a.doc_id
             AND b.doc_id IN (SELECT doc_id FROM waved WHERE wave = 2))
    )
    SELECT w.doc_id, w.wave,
           CASE WHEN w.wave = 1
                THEN w.doc_id NOT IN (SELECT doc_id FROM w1_rej)
                ELSE w.doc_id NOT IN (SELECT doc_id FROM w2_rej)
           END AS admitted
    FROM waved w
    """
    )


@query("h22_streaming_dedup_ingest", oracle=_h22_oracle())
def h22_streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 x H7: ONLINE near-dup dedup at ingest — the streaming twin
    of e29's incremental LSH. Documents arrive in waves on a file
    stream; each microbatch MinHash-signs ONLY its own docs
    (minhash_sign — the same pipeline e02/e29 use, one definition),
    probes the STANDING band index of previously-ADMITTED docs, and
    admits a doc iff it collides with no admitted standing doc and no
    smaller doc_id in its own batch (greedy-by-key within batch,
    standing-first across batches — deterministic, so the oracle can
    replay admission exactly). Admitted docs extend the index; near
    -dups never enter it, which is itself the bucket-occupancy
    control: an admission-deduplicated index holds at most one
    representative per near-dup cluster per bucket.

    The two waves drain through ONE checkpointed stream (drain, add
    wave 2, drain again — the restart path), so offsets, the
    standing-index handoff between batches, and the probe are all
    inside the hash-match.

    Scale: per-batch cost is O(batch x standing-bucket occupancy) —
    the e29 bound — and the index is parquet appended per batch (at
    100 TB: a bucketed table on (band_id, bucket), giving the probe a
    shuffle-free co-located join; LSH_BUCKET_CAP applies as in e02b
    if an adversarial corpus defeats the admission control)."""

    from pyspark.sql import types as T

    from dynamodb_zero_etl_s3tables_spark.operators.llm_dedup import (
        _long_bands,
        minhash_sign,
    )

    root = scratch_dir(sf_dir, "h22_ingest", wipe=True)
    src = root / "arrivals"
    index_dir = str(root / "band_index")
    admitted_dir = str(root / "admitted")

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.when(F.col("doc_id") % 2 == 0, F.lit(1)).otherwise(F.lit(2)).alias("wave"),
    )
    d.filter("wave = 1").coalesce(1).write.parquet(str(src / "w1"))

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("wave", T.IntegerType()),
        ]
    )
    band_schema = "doc_id long, band_id int, bucket bigint"

    def admit(batch_df, batch_id) -> None:
        if batch_df.isEmpty():
            return
        spark_b = batch_df.sparkSession
        bands = _long_bands(minhash_sign(batch_df.select("doc_id", "text"))).cache()
        import os as _os

        # standing = every PRIOR batch's band dir — per-batch_id dirs
        # with overwrite (h24's replay contract): a replayed batch must
        # neither see its own half-written index (its docs would
        # self-collide and be rejected) nor append duplicates
        # (r8 review)
        prior = (
            [
                d
                for d in _os.listdir(index_dir)
                if d.startswith("batch=") and d != f"batch={batch_id}"
            ]
            if _os.path.isdir(index_dir)
            else []
        )
        if prior:
            standing = spark_b.read.schema(band_schema).parquet(
                *[f"{index_dir}/{d}" for d in prior]
            )
        else:
            standing = spark_b.createDataFrame([], band_schema)
        rej_standing = (
            bands.join(standing.select("band_id", "bucket").distinct(),
                       ["band_id", "bucket"])
            .select("doc_id")
        )
        a, b = bands.alias("a"), bands.alias("b")
        rej_batch = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("b.doc_id") < F.col("a.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_id"))
        )
        rejected = rej_standing.union(rej_batch).distinct()
        admitted = batch_df.select("doc_id", "wave").join(
            rejected, "doc_id", "left_anti"
        )
        bands.join(admitted.select("doc_id"), "doc_id").write.mode(
            "overwrite"
        ).parquet(f"{index_dir}/batch={batch_id}")
        admitted.write.mode("overwrite").parquet(
            f"{admitted_dir}/batch={batch_id}"
        )
        bands.unpersist()

    def drain() -> None:
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src / "*"))
            .writeStream.foreachBatch(admit)
            .outputMode("update")
            .option("checkpointLocation", str(root / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)

    drain()  # wave 1 against an empty index
    d.filter("wave = 2").coalesce(1).write.parquet(str(src / "w2"))
    drain()  # wave 2 resumes from the checkpoint, probes wave 1's index

    adm = spark.read.schema("doc_id long, wave int").parquet(
        f"{admitted_dir}/batch=*"
    )
    return d.select("doc_id", "wave").join(
        adm.select("doc_id", F.lit(True).alias("admitted")), "doc_id", "left"
    ).select(
        "doc_id", "wave", F.coalesce("admitted", F.lit(False)).alias("admitted")
    )


@query(
    "h23_streaming_kmv_sketch",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT o_orderstatus AS grp,
             ('0x' || substr(md5('kmv|' || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM orders
    ), sk AS (
      SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn
      FROM h
    ), keep AS (SELECT grp, h FROM sk WHERE rn <= 128),
    kth AS (SELECT grp, MAX(h) AS hk, COUNT(*) AS k FROM keep GROUP BY grp)
    SELECT grp,
           CAST(k AS BIGINT) AS sketch_size,
           CAST(CASE WHEN k < 128 THEN k
                ELSE (((k - 1)::HUGEINT * {16 ** 15}::HUGEINT)
                      // hk::HUGEINT)::BIGINT END AS BIGINT) AS est_distinct
    FROM kth
    """,
)
def h23_streaming_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D101 x H7: MERGEABLE-SKETCH maintenance on a stream — the
    production shape of approximate distinct counting at ingest
    (Druid/Pinot-style rollup): each microbatch computes its own
    bottom-K KMV sketch per group and MERGES it into the standing
    sketch (union -> bottom-K, an associative, lossless-for-the-final
    -sketch merge). Because bottom-K merge is exactly associative,
    the drained standing sketch is BYTE-IDENTICAL to the batch sketch
    over all the data — the merge-invariance law — so the oracle is
    simply d101's batch estimator, and the hash match proves the
    streaming merges lost nothing. Two waves drain through one
    checkpoint (drain, add files, drain — the restart path).

    Scale: per-batch state is K rows per group (the standing sketch
    is KB-sized however big history gets); the merge is a union of
    two K-row frames + one bottom-K window; the estimate never
    touches raw history. At 100 TB this is why you keep sketches:
    distinct-users-per-status over a year costs one K-row read."""
    from pyspark.sql import types as T
    from pyspark.sql.window import Window as _W

    from dynamodb_zero_etl_s3tables_spark.operators.aggregates import (
        KMV_DOMAIN,
        KMV_K,
    )
    from dynamodb_zero_etl_s3tables_spark.operators.sources_sinks import _check

    root = scratch_dir(sf_dir, "h23_kmv", wipe=True)
    src = root / "arrivals"
    sketch_dir = str(root / "sketch")

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("grp"),
        F.col("o_custkey").alias("cust"),
        (F.col("o_orderkey") % 2).alias("wave"),
    )
    o.filter("wave = 0").coalesce(1).write.parquet(str(src / "w1"))

    schema = T.StructType(
        [
            T.StructField("grp", T.StringType()),
            T.StructField("cust", T.LongType()),
            T.StructField("wave", T.LongType()),
        ]
    )
    sketch_schema = "grp string, h bigint"

    def _sketch_versions() -> list:
        import os as _os

        if not _os.path.isdir(sketch_dir):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in _os.listdir(sketch_dir)
            if d.startswith("v=")
        )

    def merge_sketch(batch_df, batch_id) -> None:
        if batch_df.isEmpty():
            return
        from dynamodb_zero_etl_s3tables_spark.operators.registry import mh64

        spark_b = batch_df.sparkSession
        batch_sk = batch_df.select(
            "grp",
            mh64(F.concat(F.lit("kmv|"), F.col("cust").cast("string"))).alias(
                "h"
            ),
        ).distinct()
        # standing = newest sketch version BELOW this batch id — the
        # h24 versioned-artifact pattern. The previous delete-then-
        # rename swap had a crash window that silently LOST the
        # standing sketch (the committed wave never replays), and a
        # replayed batch must not merge its own half-written output
        # (r8 review).
        prev = [v for v in _sketch_versions() if v < batch_id]
        if prev:
            standing = spark_b.read.schema(sketch_schema).parquet(
                f"{sketch_dir}/v={max(prev)}"
            )
            batch_sk = standing.unionByName(batch_sk).distinct()
        merged = (
            batch_sk.withColumn(
                "rn", F.row_number().over(_W.partitionBy("grp").orderBy("h"))
            )
            .filter(F.col("rn") <= KMV_K)
            .select("grp", "h")
        )
        # K rows per group: collect-free, tiny; overwrite is replay-
        # idempotent per version dir
        merged.coalesce(1).write.mode("overwrite").parquet(
            f"{sketch_dir}/v={batch_id}"
        )

    def drain() -> None:
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src / "*"))
            .writeStream.foreachBatch(merge_sketch)
            .outputMode("update")
            .option("checkpointLocation", str(root / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)

    drain()  # wave 1 builds the initial sketch
    o.filter("wave = 1").coalesce(1).write.parquet(str(src / "w2"))
    drain()  # wave 2 merges into the standing sketch

    vers = _sketch_versions()
    _check(bool(vers), "no sketch version was committed by the drain")
    keep = spark.read.schema(sketch_schema).parquet(
        f"{sketch_dir}/v={max(vers)}"
    )
    kth = keep.groupBy("grp").agg(
        F.max("h").alias("hk"), F.count("*").alias("k")
    )
    # exact DECIMAL DIV (matches d101 / its HUGEINT oracle): double
    # math on (k-1)*2^60 loses bits past the 2^53 mantissa
    est = F.when(F.col("k") < KMV_K, F.col("k")).otherwise(
        F.expr(
            f"CAST((CAST(k - 1 AS DECIMAL(38,0)) * {KMV_DOMAIN}) DIV hk AS BIGINT)"
        )
    )
    return kth.select(
        "grp",
        F.col("k").cast("long").alias("sketch_size"),
        est.cast("long").alias("est_distinct"),
    )


# ---------------------------------------------------------------------------
# h24: continuous vector-index maintenance off the table changelog
# ---------------------------------------------------------------------------

from dynamodb_zero_etl_s3tables_spark.operators.llm_similarity import (  # noqa: E402
    E52_ORACLE,
)


@query("h24_streaming_index_maintenance", oracle=E52_ORACLE)
def h24_streaming_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H20 x E52 (VERDICT r6 #8): CONTINUOUS index maintenance — the
    production "index follows the table" loop. The vector corpus
    lives in a managed table; its CHANGELOG STREAM (r11: the staged
    JVM file stream over per-version changelog files,
    streaming/changelog_files.py) drives a ``foreachBatch``
    consumer that maintains an IVF-PQ codes index against FROZEN
    artifacts (codebook + coarse centroids, trained once from the
    standing corpus and materialized so microbatches READ them, never
    retrain):

    - the bootstrap version's INSERT rows index with cell = their
      stored label (indexing-time assignment), src='standing';
    - each CDC version's UPSERT rows re-encode delta-only — argmin
      coarse cell over the frozen centroids + PQ codes against the
      frozen codebook — src='delta';
    - DELETE rows tombstone the key out of the index.

    The consumer is idempotent per microbatch (output dir keyed on
    batch_id, overwritten on replay — the restart contract), and the
    final index is last-batch-wins per vec_id minus tombstones.

    THE ORACLE IS E52's, VERBATIM: a full from-scratch re-encode of
    the post-CDC corpus under the same frozen artifacts. The hash
    match proves the streamed loop — bootstrap indexing + two
    incremental waves through one checkpoint — lands on exactly the
    state a rebuild would, which is the law that makes minute-cadence
    index refresh trustworthy at 100 TB (delta-sized work per batch,
    rebuild-identical result).

    Scale: each microbatch is one CDC commit — encode cost is
    O(batch) with the codebook/centroids broadcast from KB-sized
    parquet; the index log appends O(batch) rows per version; the
    reconstruction is one window over the log (production: compact
    the log the same way the table compacts its delta chain)."""

    from dynamodb_zero_etl_s3tables_spark.operators.llm_similarity import (
        _DEC,
        _pq_encode,
        _pq_seed,
        _sub_d2,
        _train_pq_codebook,
        PQ_M,
        PQ_SUB,
    )
    from dynamodb_zero_etl_s3tables_spark.spec import TableSpec
    from dynamodb_zero_etl_s3tables_spark.streaming.changelog_files import (
        changelog_file_stream,
        drain_changelog_files,
        materialize_changelog,
    )
    from dynamodb_zero_etl_s3tables_spark.table.catalog import Catalog

    root = scratch_dir(sf_dir, "h24_index", wipe=True)
    root.mkdir(parents=True)

    e = load(spark, sf_dir, "embeddings")
    ten = F.col("vec_id") % 10
    standing = e.filter(ten != 3)
    label_t = dict(e.dtypes)["label"]

    subvecs = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda m: F.slice(F.col("embedding"), m * PQ_SUB + 1, PQ_SUB),
    )

    # ---- frozen artifacts: trained ONCE, materialized for consumers
    cb_path, cent_path = str(root / "codebook"), str(root / "centroids")
    seed = _pq_seed(standing.select("vec_id", "embedding"), subvecs)
    ssub = standing.select("vec_id", F.posexplode(subvecs).alias("m", "svec"))
    _train_pq_codebook(ssub, seed).write.parquet(cb_path)
    (
        standing.select("label", F.posexplode("embedding").alias("j", "x"))
        .groupBy("label", "j")
        .agg(
            F.round(
                F.sum(F.col("x").cast("double").cast(_DEC)).cast("double")
                / F.count("*"),
                6,
            ).alias("c")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "c"))),
                lambda s: s.getField("c"),
            ).alias("cvecfull")
        )
        .write.parquet(cent_path)
    )

    # ---- the table: bootstrap + two CDC waves (merge-on-read, so the
    # delta layer IS the changelog)
    t = Catalog(spark, str(root / "wh")).create_table(
        TableSpec(namespace="ml", name="vectors", key_columns=("vec_id",))
    )
    t.bootstrap(standing.select("vec_id", "label", "embedding"))
    wave1 = e.filter(ten == 3).select(  # brand-new vectors
        F.lit("MODIFY").alias("op"), "vec_id", "label", "embedding",
        F.lit(1).alias("ts"), F.col("vec_id").alias("seq"),
    )
    t.apply_changes(wave1, strategy="merge-on-read")
    wave2 = (
        e.filter(ten == 4).select(  # re-embedded vectors
            F.lit("MODIFY").alias("op"), "vec_id", "label",
            F.reverse("embedding").alias("embedding"),
            F.lit(2).alias("ts"), F.col("vec_id").alias("seq"),
        )
        .unionByName(
            e.filter(ten == 7).select(  # retracted vectors
                F.lit("REMOVE").alias("op"), "vec_id",
                F.lit(None).cast(label_t).alias("label"),
                F.lit(None).cast("array<float>").alias("embedding"),
                F.lit(2).alias("ts"), F.col("vec_id").alias("seq"),
            )
        )
    )
    t.apply_changes(wave2, strategy="merge-on-read")

    # ---- the consumer: delta-sized encode per microbatch
    log_dir = str(root / "index_log")

    # frozen-by-contract artifacts, read ONCE and cached across every
    # microbatch (VERDICT r7 #7): re-reading the KB-sized codebook and
    # centroid parquet per batch was pure per-batch overhead. cache()
    # + materialize so each microbatch's joins start from the
    # in-memory copy instead of re-planning the scan.
    cb = spark.read.parquet(cb_path).cache()
    cents = spark.read.parquet(cent_path).cache()
    cb.count(), cents.count()

    def maintain(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        ins = batch.filter(F.col("change_op") == "INSERT").select(
            "vec_id", F.col("label").alias("cell"), "embedding",
            F.lit("standing").alias("src"),
        )
        mods = batch.filter(F.col("change_op") == "UPSERT").select(
            "vec_id", "embedding"
        )
        wcell = W.partitionBy("vec_id").orderBy("d2", "label")
        dcell = (
            mods.crossJoin(F.broadcast(cents))
            .withColumn("d2", _sub_d2(F.col("embedding"), F.col("cvecfull")))
            .withColumn("rn", F.row_number().over(wcell))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.col("label").alias("cell"))
        )
        enc_in = ins.unionByName(
            mods.join(dcell, "vec_id").select(
                "vec_id", "cell", "embedding", F.lit("delta").alias("src")
            )
        )
        # cell/src ride THROUGH the encode as extra key columns (they
        # are per-vec_id constants) instead of re-joining enc_in to its
        # own encode — the join evaluated the whole enc_in subtree
        # (union + crossJoin + window) twice per microbatch (r11,
        # guide §2.4/§5)
        codes = _pq_encode(
            enc_in.select(
                "vec_id", "cell", "src",
                F.posexplode(subvecs).alias("m", "svec"),
            ),
            cb,
            ["vec_id", "cell", "src"],
        )
        dels = batch.filter(F.col("change_op") == "DELETE").select(
            "vec_id",
            F.lit(None).cast(label_t).alias("cell"),
            F.lit(None).cast("int").alias("m"),
            F.lit(None).cast("int").alias("cid"),
            F.lit(None).cast("string").alias("src"),
        )
        (
            codes.select("vec_id", "cell", "m", "cid", "src")
            .withColumn("alive", F.lit(True))
            .unionByName(dels.withColumn("alive", F.lit(False)))
            .write.mode("overwrite")  # idempotent on microbatch replay
            .parquet(f"{log_dir}/batch={batch_id}")
        )

    # r11 (guide §4, VERDICT r10 #1): JVM-visible staged changelog —
    # one parquet file per version, drained through a JVM file stream
    # (same per-version microbatches, no Python-source startup premium)
    manifest = str(root / "wh" / "ml" / "vectors" / "manifest.json")
    stage = str(root / "cl_stage")
    materialize_changelog(t, stage)
    stream = changelog_file_stream(spark, manifest, stage)
    try:
        n = drain_changelog_files(
            stream, str(root / "unused"), str(root / "ckpt"),
            foreach_batch=maintain,
        )
        if n < 3:  # bootstrap + 2 CDC versions, one microbatch each
            raise AssertionError(
                f"expected >=3 index-maintenance batches, got {n}"
            )
    finally:
        # unpersist on EVERY path — a failed drain must not leave the
        # two frames pinned in the block manager of the long-lived
        # bench/driver session
        cb.unpersist()
        cents.unpersist()

    # ---- final index: last-batch-wins per key, tombstones drop
    log = spark.read.parquet(log_dir)  # `batch` = partition col from dir
    latest = log.withColumn(
        "maxb", F.max("batch").over(W.partitionBy("vec_id"))
    ).filter(F.col("batch") == F.col("maxb"))
    return latest.filter(F.col("alive")).select("vec_id", "cell", "m", "cid", "src")


@query("h25_partitioned_changelog_drain", oracle=H20_ORACLE)
def h25_partitioned_changelog_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H20's documented scale upgrade, landed (r7): the changelog as a
    PARTITIONED Python DataSource (``DataSourceStreamReader`` +
    ``InputPartition`` per data/delta file) — EXECUTORS read the
    parquet, nothing is materialized driver-side, and a multi-commit
    backlog drains as ONE microbatch whose files load in parallel
    (the catch-up/throughput mode; the simple reader stays the
    per-version-cadence mode). Same offsets, same emission semantics,
    same CoW diff fallback (h26) — and THE SAME ORACLE as h20, verbatim: the two
    readers owe byte-identical changelog rows for the same table
    history, which is exactly what the hash match proves.

    Scale: this is the reader you run when a consumer fell behind by
    a thousand commits on a 100 TB table — partition count tracks the
    delta-file population, each task reads one file, DELETE
    suppression joins only the version's (key-only, small) upsert
    files executor-side."""

    from dynamodb_zero_etl_s3tables_spark.streaming.table_source import (
        drain_changelog,
        make_partitioned_changelog_source,
    )

    root = scratch_dir(sf_dir, "h25_cdf_part", wipe=True)
    root.mkdir(parents=True)

    # the FULL history commits BEFORE the drain — the backlog shape
    t, manifest, wave2 = _orders_cdf_table(spark, sf_dir, root)
    t.apply_changes(wave2, strategy="merge-on-read")

    spark.dataSource.register(make_partitioned_changelog_source())
    stream = (
        spark.readStream.format("table_changelog_part")
        .option("manifest", manifest)
        .option("keys", "pk")
        .load()
    )
    batches = drain_changelog(
        stream, str(root / "out"), str(root / "ckpt"), manifest
    )
    if batches != 1:
        raise AssertionError(
            f"partitioned reader must drain the 3-version backlog as ONE "
            f"fat microbatch, got {batches}"
        )
    return spark.read.parquet(str(root / "out")).select(
        "version", "change_op", "pk", "status", "price"
    )


#: h26's relational restatement: the CoW changelog is a keyed
#: snapshot DIFF per version (INSERT new key / UPSERT changed image /
#: DELETE gone key; the compact version diffs to zero rows, so v3
#: appears nowhere).
H26_ORACLE = """
    WITH base AS (
      SELECT o_orderkey AS pk, o_orderstatus AS status, o_totalprice AS price
      FROM orders
    )
    SELECT CAST(1 AS BIGINT) AS version, 'INSERT' AS change_op,
           pk, status, price
    FROM base WHERE pk % 3 = 0
    UNION ALL
    SELECT 2, 'INSERT', pk, status, price FROM base WHERE pk % 3 = 1
    UNION ALL
    SELECT 2, 'UPSERT', pk, status, price * 2 FROM base WHERE pk % 6 = 3
    UNION ALL
    SELECT 2, 'DELETE', pk, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
    FROM base WHERE pk % 6 = 0
    UNION ALL
    SELECT 4, 'INSERT', pk, status, price * 3 FROM base WHERE pk % 3 = 2
    """


@query("h26_cow_changelog_stream", oracle=H26_ORACLE)
def h26_cow_changelog_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The changelog stream over the DEFAULT write strategy (VERDICT
    r7 #2): h20's journey re-run with COPY-ON-WRITE commits, which
    persist no per-row change files — each CoW version's changelog is
    the KEYED SNAPSHOT DIFF against the previous published version
    (``ManagedTable.read_changes`` semantics, restated reader-side in
    ``table_source._cow_closures``). Previously these versions were
    refused, leaving the reference's continuous-replication promise
    (reference README.md:12,93) with a strategy-shaped hole.

    The journey proves three properties:
    (1) diff completeness — one CoW merge carrying inserts (new keys),
    updates (changed images), and deletes (gone keys) drains into
    exactly the relational diff the oracle restates (INSERT/UPSERT/
    DELETE split per key class);
    (2) maintenance transparency — a ``compact()`` version (v3) diffs
    to ZERO rows (asserted), so table maintenance no longer breaks or
    pollutes downstream consumers — the ordering discipline Delta CDF
    merely documents, enforced here by construction;
    (3) incremental RESUME — the second drain reuses the first's
    checkpoint and appends only the second merge's diff (asserted),
    same as h20.

    Scale, stated honestly: a CoW diff is O(table) per version where
    merge-on-read is O(batch) — the inherent price of
    CoW-without-change-files (Delta CDF refuses outright; this
    fallback is strictly more useful). merge-on-read remains the
    documented production cadence for high-frequency CDC; CoW + diff
    fits the low-cadence bulk-revision shape where rewrite cost
    already dominates.

    r11 (guide §4, VERDICT r10 #1): the drain rides the JVM-visible
    staged changelog (``streaming/changelog_files.py``) — each
    version's diff is computed BY SPARK (``read_changes``: one
    distributed full-outer join, not driver-side Python row dicts),
    staged as one parquet file per version, and drained through a
    standard JVM file stream (one microbatch per version via
    ``maxFilesPerTrigger=1`` + AvailableNow). Same rows, same
    per-version cadence, same checkpoint-resume contract (equivalence
    test: tests/test_changelog_files.py); what disappears is the
    ~1.5 s-per-query Python streaming-source startup premium and the
    Python diff loop. The Python DataSource readers remain the
    registry's API-demonstration surface (h20/h25)."""

    from dynamodb_zero_etl_s3tables_spark.spec import TableSpec
    from dynamodb_zero_etl_s3tables_spark.streaming.changelog_files import (
        changelog_file_stream,
        drain_changelog_files,
        materialize_changelog,
    )
    from dynamodb_zero_etl_s3tables_spark.table.catalog import Catalog

    root = scratch_dir(sf_dir, "h26_cow_cdf", wipe=True)
    root.mkdir(parents=True)

    t = Catalog(spark, str(root / "wh")).create_table(
        TableSpec(namespace="ns", name="orders_cow", key_columns=("pk",))
    )
    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    t.bootstrap(base.filter(F.col("pk") % 3 == 0))                 # v1
    wave1 = (
        base.filter(F.col("pk") % 3 == 1)                          # new keys
        .select(
            F.lit("MODIFY").alias("op"), "pk", "status", "price",
            F.lit(1).alias("ts"), F.col("pk").alias("seq"),
        )
        .unionByName(
            base.filter(F.col("pk") % 6 == 3).select(              # changed images
                F.lit("MODIFY").alias("op"), "pk", "status",
                (F.col("price") * 2).alias("price"),
                F.lit(1).alias("ts"), F.col("pk").alias("seq"),
            )
        )
        .unionByName(
            base.filter(F.col("pk") % 6 == 0).select(              # gone keys
                F.lit("REMOVE").alias("op"), "pk",
                F.lit(None).cast("string").alias("status"),
                F.lit(None).cast("double").alias("price"),
                F.lit(1).alias("ts"), F.col("pk").alias("seq"),
            )
        )
    )
    t.apply_changes(wave1)                                         # v2: CoW merge
    t.compact()                                                    # v3: must diff empty

    manifest = str(root / "wh" / "ns" / "orders_cow" / "manifest.json")
    stage = str(root / "cl_stage")

    def drain() -> int:
        materialize_changelog(t, stage)  # Spark-side diff, 1 file/version
        stream = changelog_file_stream(spark, manifest, stage)
        batches = drain_changelog_files(
            stream, str(root / "out"), str(root / "ckpt")
        )
        if batches < 1:
            raise AssertionError("drain committed no microbatch")
        return spark.read.parquet(str(root / "out")).count()

    n1 = drain()  # v1 + v2 + v3, one microbatch per version
    out1 = spark.read.parquet(str(root / "out"))
    if out1.filter(F.col("version") == 3).count() != 0:
        raise AssertionError(
            "compact must be changelog-transparent (v3 diffs to zero rows)"
        )
    wave2 = base.filter(F.col("pk") % 3 == 2).select(              # second revision
        F.lit("MODIFY").alias("op"), "pk", "status",
        (F.col("price") * 3).alias("price"),
        F.lit(2).alias("ts"), F.col("pk").alias("seq"),
    )
    t.apply_changes(wave2)                                         # v4: CoW merge
    n2 = drain()  # resumes from the committed version
    n_wave2 = wave2.count()
    if n2 - n1 != n_wave2:
        raise AssertionError(
            f"checkpoint resume must append exactly the second merge's "
            f"diff ({n_wave2} rows), got {n1} -> {n2}"
        )
    return spark.read.parquet(str(root / "out")).select(
        "version", "change_op", "pk", "status", "price"
    )


@query(
    "h28_nested_changelog_stream",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS pk, o_orderstatus AS status,
             o_orderpriority AS prio,
             CAST(o_custkey % 100 AS INTEGER) AS pr
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    ins AS (
      SELECT CAST(1 AS BIGINT) AS version, 'INSERT' AS change_op,
             pk, status, prio, pr
      FROM base
    ),
    ups AS (
      SELECT CAST(2 AS BIGINT), 'UPSERT', pk, 'X', prio, pr
      FROM base WHERE pk % 6 = 0 AND pk % 9 <> 0
    ),
    dels AS (
      SELECT CAST(2 AS BIGINT), 'DELETE', pk, CAST(NULL AS VARCHAR),
             CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER)
      FROM base WHERE pk % 9 = 0
    )
    SELECT * FROM ins UNION ALL SELECT * FROM ups UNION ALL
    SELECT * FROM dels
    """,
)
def h28_nested_changelog_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-family r10 (VERDICT r9 #5): a user-created table with NESTED
    columns — a struct and a map — consumed as a changelog STREAM. The
    python-runner readers cannot ship nested values with vouchable
    fidelity (only flat values survive the arrow->pylist->pickle round
    trip), so the source serializes each nested column to canonical
    JSON executor/driver-side and the consumer restores it with
    ``from_json`` against the table schema
    (``restore_nested_columns``) — the same shim the B3 codec applies
    to deep DynamoDB M/L values, now covering tables users create
    directly. The journey bootstraps orders with ``meta =
    struct(status, orderpriority)`` and ``tags = map('pr', shippriority)``,
    commits one MoR wave (MODIFY flips meta.status to 'X'; REMOVE
    drops pk%9==0), drains the changelog with restoration applied
    INSIDE the streaming plan, and returns the flattened change rows;
    the oracle restates them relationally — a hash match proves the
    JSON round trip is value-exact, field by field.

    Scale: serialization happens where the rows already are;
    ``from_json`` is a codegen'd JVM expression inside the microbatch
    plan — no extra pass, no Python in the restore path.

    r11 (guide §4, VERDICT r10 #1): the drain rides the JVM-visible
    staged changelog (``streaming/changelog_files.py``) — the shim
    half becomes a codegen'd ``to_json`` inside the staging write
    (executor-side, no Python row work at all), the restore half is
    unchanged, and the stream is a standard JVM parquet file stream
    (one microbatch per version). Same rows, same string-shimmed
    stream schema (asserted below), no Python streaming-source
    startup premium."""
    from dynamodb_zero_etl_s3tables_spark.operators.sources_sinks import _check
    from dynamodb_zero_etl_s3tables_spark.spec import TableSpec
    from dynamodb_zero_etl_s3tables_spark.streaming.changelog_files import (
        changelog_file_stream,
        drain_changelog_files,
        materialize_changelog,
    )
    from dynamodb_zero_etl_s3tables_spark.streaming.table_source import (
        restore_nested_columns,
    )
    from dynamodb_zero_etl_s3tables_spark.table.catalog import Catalog

    root = scratch_dir(sf_dir, "h28_nested_cdf", wipe=True)
    root.mkdir(parents=True)
    t = Catalog(spark, str(root / "wh")).create_table(
        TableSpec(namespace="ns", name="orders_nested", key_columns=("pk",))
    )
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    base = o.select(
        F.col("o_orderkey").alias("pk"),
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("prio"),
        ).alias("meta"),
        F.create_map(
            F.lit("pr"), (F.col("o_custkey") % 100).cast("int")
        ).alias("tags"),
    )
    t.bootstrap(base)
    mod = (F.col("pk") % 6 == 0) & (F.col("pk") % 9 != 0)
    wave = (
        base.filter(mod)
        .select(
            F.lit("MODIFY").alias("op"), "pk",
            F.struct(
                F.lit("X").alias("status"),
                F.col("meta.prio").alias("prio"),
            ).alias("meta"),
            "tags",
            F.lit(1).alias("ts"), F.col("pk").alias("seq"),
        )
        .unionByName(
            base.filter(F.col("pk") % 9 == 0).select(
                F.lit("REMOVE").alias("op"), "pk",
                F.lit(None).cast("struct<status:string,prio:string>").alias(
                    "meta"
                ),
                F.lit(None).cast("map<string,int>").alias("tags"),
                F.lit(1).alias("ts"), F.col("pk").alias("seq"),
            )
        )
    )
    t.apply_changes(wave, strategy="merge-on-read")
    manifest = str(root / "wh" / "ns" / "orders_nested" / "manifest.json")

    stage = str(root / "cl_stage")
    materialize_changelog(t, stage)  # to_json shim rides the staging write
    raw_stream = changelog_file_stream(spark, manifest, stage)
    # the shim is visible in the source schema: nested cols ride as
    # JSON strings until restored
    _check(
        dict(raw_stream.dtypes)["meta"] == "string"
        and dict(raw_stream.dtypes)["tags"] == "string",
        f"nested columns must ride shimmed, got {raw_stream.dtypes}",
    )
    restored = restore_nested_columns(raw_stream, manifest)
    _check(
        dict(restored.dtypes)["meta"] == "struct<status:string,prio:string>"
        and dict(restored.dtypes)["tags"] == "map<string,int>",
        f"restore must rebind the table types, got {restored.dtypes}",
    )
    batches = drain_changelog_files(
        restored, str(root / "out"), str(root / "ckpt")
    )
    if batches < 2:
        raise AssertionError(
            f"expected >=2 microbatches (bootstrap + wave), got {batches}"
        )
    out = spark.read.parquet(str(root / "out"))
    return out.select(
        "version",
        "change_op",
        "pk",
        F.col("meta.status").alias("status"),
        F.col("meta.prio").alias("prio"),
        F.element_at(F.col("tags"), "pr").alias("pr"),
    )
