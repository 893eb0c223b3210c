"""Deduplication operators for training-data pipelines
(SURVEY.md §2 E1-E2): exact hash dedup, MinHash-LSH near-dup,
SimHash, and n-gram Jaccard.

Portability note: MinHash traditionally uses k random permutations;
here each "permutation" i is the affine map ``(A_i*h + B_i) mod M31``
over a single 31-bit base hash ``h = md5-prefix(shingle)``, and the
signature component is the MIN over the doc's shingles. md5 and int64
arithmetic are identical in Spark and DuckDB, so the whole pipeline —
shingle, sign, band, bucket, estimate — is oracle-checkable.

Scale posture: everything is explode -> partial-aggregated groupBy ->
bucket grouping. Candidate pairs form only inside LSH buckets
(candidates << n^2); no self-join recomputation, no driver-side state.
The full dedup pipeline: e01 exact -> e02 sign -> e02b candidates ->
e02f estimate -> e02c exact-verify; e02d SimHash and e02e
embedding-cosine (llm_similarity) are the alternative families.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamodb_zero_etl_s3tables_spark.operators.registry import fan_out, query
from dynamodb_zero_etl_s3tables_spark.sources.testdata import load

#: MinHash/LSH parameters, env-overridable so a deployment can match
#: them to its corpus. Defaults are production-shaped, not toy-shaped:
#: 64 signature components in 16 bands of 4 rows puts the LSH
#: S-curve threshold near (1/16)^(1/4) ~ 0.5 Jaccard — the standard
#: near-dup operating point — with enough components that the e02f
#: estimator has ~1/sqrt(64) resolution. (Both the Spark pipeline and
#: the DuckDB oracle SQL are generated from these at import, so any
#: override keeps the two sides consistent.)
N_HASHES = int(os.environ.get("SPARK_GRAFT_MINHASH_HASHES", "64"))
BAND_ROWS = int(os.environ.get("SPARK_GRAFT_MINHASH_BAND_ROWS", "4"))
N_BANDS = N_HASHES // BAND_ROWS
SHINGLE_W = int(os.environ.get("SPARK_GRAFT_SHINGLE_W", "3"))
#: LSH buckets larger than this are dropped before the in-bucket pair
#: expansion (with an observed overflow count): a degenerate corpus
#: slice — N near-identical docs — would otherwise concentrate
#: O(bucket^2) pair expansion in one task. Anything that similar is
#: exact-dup territory (e01 runs first in the pipeline); capping here
#: bounds the worst task at O(cap^2) regardless of corpus shape.
LSH_BUCKET_CAP = int(os.environ.get("SPARK_GRAFT_LSH_BUCKET_CAP", "1000"))
#: Shingles appearing in more documents than this are dropped before
#: the inverted-index self-join (e02c): a boilerplate shingle shared
#: by k docs emits k^2 join rows — one hot key can dominate the whole
#: stage at corpus scale. Stop-shingle removal is also standard
#: near-dup practice (boilerplate carries no dedup signal).
SHINGLE_DF_CAP = int(os.environ.get("SPARK_GRAFT_SHINGLE_DF_CAP", "1000"))


@query(
    "e01_exact_dedup",
    oracle="""
    SELECT content_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS keeper_doc_id
    FROM (SELECT doc_id, md5(text) AS content_hash FROM documents)
    GROUP BY content_hash
    """,
)
def e01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: exact dedup — group documents by content hash; keeper =
    lowest doc_id. One shuffle on the 128-bit hash: uniform keys, no
    skew, scales linearly."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
    )


def _shingles(df: DataFrame, text_col: str = "text") -> DataFrame:
    """word w-shingles via sequence+transform (JVM-side, no UDF):
    shingle i = tokens[i : i+w] joined with spaces.

    The token array is materialized by a projection *before* the
    generator expression references it (4 references): leaving
    ``split(lower(text))`` inline re-evaluates it per reference inside
    Generate, which is not whole-stage-codegen'd and gets no
    common-subexpression elimination — measured 7x slower at sf0.1.
    """
    base = df.withColumn("__toks", F.split(F.lower(F.col(text_col)), " "))
    toks = F.col("__toks")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - SHINGLE_W, F.lit(0)))
    sh = F.when(
        n >= SHINGLE_W,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, SHINGLE_W)))
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return base.withColumn("shingle", F.explode(sh)).drop("__toks")


# the canonical cross-engine 60-bit hash pair now lives in
# registry.py next to dsum/DSUM (r8 review: one definition); these
# module-local names are kept for the many existing call sites
from dynamodb_zero_etl_s3tables_spark.operators.registry import (  # noqa: E402
    MH64 as _MH64,
    mh64 as _mh64,
)


#: Mersenne-style modulus + per-permutation affine constants. Each
#: "permutation" i is h_i(s) = (A_i * h(s) + B_i) mod M31 over the
#: single 31-bit base hash h(s) — one md5 per shingle instead of
#: N_HASHES of them, with exact int64 arithmetic in both engines
#: (A_i * h < 2^62, no overflow under ANSI mode).
M31 = 2_147_483_647
#: polynomial combiner for token-hash -> shingle-hash folds
P_TOK = 1_000_003
_AFFINE = [(1_299_721 + 2 * i, 15_485_863 + 7 * i) for i in range(N_HASHES)]


def _doc_shingle_fn():
    """Per-document DISTINCT w-shingle hashes as a plain Python
    function (text -> sorted int64 numpy array) — the single source
    of truth the Arrow kernels below wrap. Token hash is the
    md5-prefix int mod M31 (hashlib, byte-identical to Spark's
    ``md5``/``conv`` and the DuckDB twin); shingles fold tokens
    left-to-right as ``(acc * P_TOK + t) % M31`` seeded at 0 — all
    exact int64 (a < 2^31, a*P_TOK < 2^51, no overflow). Documents
    shorter than the window fold ALL their tokens into one hash,
    mirroring the expression fallback."""
    import hashlib

    import numpy as np

    W, P, MOD = SHINGLE_W, P_TOK, M31

    def shingles(text):
        if text is None:
            return None
        toks = text.lower().split(" ")
        th = np.fromiter(
            (
                int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16) % MOD
                for t in toks
            ),
            dtype=np.int64,
            count=len(toks),
        )
        n = len(th)
        if n < W:
            acc = 0
            for t in th:
                acc = (acc * P + int(t)) % MOD
            return np.array([acc], dtype=np.int64)
        acc = th[: n - W + 1].copy()
        for j in range(1, W):  # left-to-right fold, vectorized over windows
            acc = (acc * P + th[j : n - W + 1 + j]) % MOD
        return np.unique(acc)

    return shingles


def _shingles_udf():
    """Arrow-batched kernel: text -> array<bigint> of distinct
    w-shingle hashes. Why a pandas UDF (r7): the expression form
    (md5-per-token inside ``transform`` + a ``transform`` of
    polynomial folds) evaluates INTERPRETED per element in Catalyst;
    the kernel is the same exact-int math vectorized — hash-identical
    output (set semantics per doc; np.unique's sort order is
    irrelevant to every consumer, which aggregates or joins on h)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    shingles = _doc_shingle_fn()

    @F.pandas_udf(ArrayType(LongType()))
    def _sh(texts: pd.Series) -> pd.Series:
        return pd.Series([shingles(t) for t in texts], dtype=object)

    return _sh


def _sigs_udf():
    """Arrow-batched kernel: text -> array<bigint> of the N_HASHES
    MinHash signature values, min((a_i*h + b_i) % M31) over the
    document's distinct shingle hashes — one per-row projection, NO
    explode/shuffle/aggregate (the expression form shuffled every
    shingle row to a 64-aggregate groupBy: ~1.25 s at sf0.1 vs ~0.3 s
    for this kernel). Exact int64 throughout (a*h < 2^52)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    shingles = _doc_shingle_fn()
    a = np.array([x for x, _ in _AFFINE], dtype=np.int64)
    b = np.array([y for _, y in _AFFINE], dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            h = shingles(t)
            if h is None:
                out.append(None)
                continue
            out.append(((h[:, None] * a + b) % M31).min(axis=0))
        return pd.Series(out, dtype=object)

    return _sig


def _shingle_hashes(
    df: DataFrame, text_col: str = "text", keys: tuple = ("doc_id",)
) -> DataFrame:
    """(doc_id, h): base hash per distinct w-shingle, from the
    vectorized kernel (:func:`_shingles_udf`; exact-int semantics and
    the DuckDB twin's math documented there and at
    :func:`_doc_shingle_fn`). fan_out stays: the explode inflates
    ~50x downstream, and a small corpus arrives as fewer splits than
    cores (measured 0.62 vs 0.83 s at sf0.1) — at real scale the scan
    already has more splits and this is a no-op."""
    return fan_out(df).select(
        *keys, F.explode(_shingles_udf()(F.col(text_col))).alias("h")
    )


_FOLD_SQL = f"(a, x) -> (a * {P_TOK} + x) % {M31}"

#: DuckDB twin of :func:`_shingle_hashes` — ends in hashed(doc_id, h).
#: NULL-text docs are dropped HERE to mirror minhash_sign's filter:
#: without it, list_prepend(0, NULL) -> [0] folds every NULL-text doc
#: to the same shingle hash 0, and the oracle would emit signatures
#: (and spurious candidate pairs among NULL-text docs) the engine
#: correctly does not (r8 review).
_HASHED_CTE = f"""
    WITH tokh AS (
      SELECT doc_id,
             list_transform(string_split(LOWER(text), ' '),
                            s -> ({_MH64('s')} % {M31})) AS th
      FROM documents
      WHERE text IS NOT NULL
    ), hashed AS (
      SELECT doc_id,
             UNNEST(CASE WHEN len(th) >= {SHINGLE_W}
                  THEN list_distinct(list_transform(
                         range(1, len(th) - {SHINGLE_W} + 2),
                         i -> list_reduce(
                                list_prepend(CAST(0 AS BIGINT), th[i:i+{SHINGLE_W}-1]),
                                {_FOLD_SQL})))
                  ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), th),
                                    {_FOLD_SQL})] END) AS h
      FROM tokh
    )
"""

_SIG_COLS_SQL = ", ".join(
    f"MIN(({a} * h + {b}) % {M31}) AS sig_{i}" for i, (a, b) in enumerate(_AFFINE)
)
@query(
    "e02_minhash_signatures",
    oracle=_HASHED_CTE
    + f"""
    SELECT doc_id, {_SIG_COLS_SQL}
    FROM hashed
    GROUP BY doc_id
    """,
)
def e02_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 stage 1: MinHash signature per document — min of N_HASHES
    affine permutations of a single polynomial base hash per shingle,
    one BIGINT column per permutation.

    Three deliberate plan choices (measured at sf0.1):
    * shingle hashes come from per-TOKEN md5 hashes combined by an
      integer fold (:func:`_shingle_hashes`) — no per-shingle string
      construction or per-shingle md5;
    * permutations are integer affine maps over that one base hash
      (~3x over salted-md5-per-permutation);
    * no ``distinct`` before the aggregate — MIN is duplicate-
      insensitive, and skipping it lets the partial (map-side)
      aggregation collapse each doc's shingles to N mins *before*
      the only shuffle: at 100 TB the shuffle carries one row per
      doc, not one per shingle. BIGINT (not string) signatures keep
      the aggregate in HashAggregate; min(STRING) would fall back to
      SortAggregate and sort every shingle row.
    """
    return minhash_sign(load(spark, sf_dir, "documents"))


def minhash_sign(df: DataFrame) -> DataFrame:
    """e02's signature pipeline over an arbitrary (doc_id, text)
    frame — the reusable form the incremental (e29) and streaming
    (h22) dedup paths sign their DELTA batches with, so a signing
    change cannot fork the batch path from the ingest paths."""
    # NULL-text docs produce NO signature row — the pre-r7 contract
    # (the expression form's explode of a null shingle array emitted
    # no rows). Without this filter the kernel's NULL sig arrays
    # would survive as 64 NULL sig_i columns and LSH banding would
    # bucket every null-text doc together as spurious candidates.
    sigs = df.filter(F.col("text").isNotNull()).select(
        "doc_id", _sigs_udf()(F.col("text")).alias("__sigs")
    )
    return sigs.select(
        "doc_id",
        *[F.col("__sigs")[i].alias(f"sig_{i}") for i in range(N_HASHES)],
    )


_BAND_KEYS_SQL = ", ".join(
    _MH64(
        " || '|' || ".join(
            f"CAST(sig_{b * BAND_ROWS + r} AS VARCHAR)" for r in range(BAND_ROWS)
        )
    )
    + f" AS band_{b}"
    for b in range(N_BANDS)
)

#: shared CTE chain ending in long_bands(doc_id, band_id, bucket) —
#: reused by the candidate-pair and cluster-rep oracles
_LONG_BANDS_WITH = (
    _HASHED_CTE
    + f"""
    , sigs AS (
      SELECT doc_id, {_SIG_COLS_SQL}
      FROM hashed GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, {_BAND_KEYS_SQL} FROM sigs
    ), long_bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_id, band_{b} AS bucket FROM bands" for b in range(N_BANDS))}
    )
"""
)

_CAND_SQL = (
    _LONG_BANDS_WITH
    + f"""
    , sized AS (
      SELECT band_id, bucket, COUNT(*) AS n
      FROM long_bands GROUP BY band_id, bucket
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM long_bands a
    JOIN long_bands b
      ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    JOIN sized s
      ON s.band_id = a.band_id AND s.bucket = a.bucket
    WHERE s.n <= {LSH_BUCKET_CAP}
"""
)


def _long_bands(sigs: DataFrame, *extra) -> DataFrame:
    """(doc_id, [extra...], band_id, bucket): hash each BAND_ROWS-wide
    slice of the signature to its LSH bucket and explode to long form
    — the shared band expansion every LSH consumer (e02b/e02f/e02g/
    e29, the overflow monitor) builds on. ``extra`` columns (e.g. the
    full signature array for e02f's estimator) travel with the band
    rows. ONE definition so a banding change (layout, bucket hash)
    cannot silently fork the incremental path from the batch path."""
    band_cols = [
        _mh64(
            F.concat_ws(
                "|", *[F.col(f"sig_{b * BAND_ROWS + r}") for r in range(BAND_ROWS)]
            )
        ).alias(f"band_{b}")
        for b in range(N_BANDS)
    ]
    return sigs.select(
        "doc_id",
        *extra,
        F.posexplode(F.array(*band_cols)).alias("band_id", "bucket"),
    )


def _capped_members(
    long_bands: DataFrame, member, observe_name: str | None = None
) -> DataFrame:
    """(band_id, bucket, members) for LSH cells with occupancy in
    [2, LSH_BUCKET_CAP]: occupancy comes from a WINDOW COUNT over the
    bucket key and the cap filters rows BEFORE any membership is
    collected — a degenerate cell (the exact shape the cap exists
    for) never materializes its member array inside an aggregation
    buffer. Hash-agg array buffers cannot spill mid-group, so the
    old collect-then-filter shape could still OOM an executor on one
    boilerplate mega-bucket despite the cap; the window buffers ROWS
    with disk spill, and the collect only ever sees in-cap cells, so
    the worst task is O(cap^2) in MEMORY as well as CPU (r8 review).
    Same exchange count (the groupBy reuses the window's hash
    partitioning) and still no join, preserving e02b's no-join plan
    law. ONE definition shared by the candidate generator (e02b),
    the incremental probe (e29), and the estimators (e02f/e76/e79)
    so cap semantics cannot fork.

    ``observe_name`` attaches an ``overflow_buckets`` observation:
    each row of an over-cap cell contributes 1/n, summing to the
    dropped CELL count (exact up to fp accumulation; the exact
    audited count is :func:`lsh_overflow_buckets`)."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("band_id", "bucket")
    annotated = long_bands.withColumn("n", F.count(F.lit(1)).over(w))
    if observe_name:
        annotated = annotated.observe(
            observe_name,
            F.sum(
                F.when(
                    F.col("n") > LSH_BUCKET_CAP, 1.0 / F.col("n")
                ).otherwise(0.0)
            ).alias("overflow_buckets"),
        )
    return (
        annotated.filter((F.col("n") > 1) & (F.col("n") <= LSH_BUCKET_CAP))
        .groupBy("band_id", "bucket")
        .agg(F.array_sort(F.collect_set(member)).alias("members"))
    )


def _bucket_pairs(members_df: DataFrame, pair_struct_sql: str) -> DataFrame:
    """Ordered unique pairs from each bucket's sorted member array —
    the ONE flatten/transform/slice expansion every LSH consumer
    rides (a change to pair ordering or the expansion expression
    cannot silently fork the estimators from the candidate
    generator). ``pair_struct_sql`` maps member elements ``m``/``n``
    (scalars or structs) to the emitted struct fields."""
    return (
        members_df.select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (m, i) -> "
                    "transform(slice(members, i + 2, size(members)), "
                    f"n -> {pair_struct_sql})))"
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct()
    )


@query("e02b_minhash_lsh_pairs", oracle=_CAND_SQL)
def e02b_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 stage 2: LSH banding — hash each band of the signature to a
    bucket, group docs per (band, bucket), expand in-bucket pairs.

    Plan shape: ONE pass over the signature pipeline (no self-join, so
    nothing is recomputed), one shuffle on the uniformly-distributed
    bucket hash, then an array combination expansion per bucket. At
    scale, bucket sizes stay small (only near-dups collide) and the
    LSH_BUCKET_CAP guard drops degenerate buckets BEFORE any
    membership is collected (observed as ``overflow_buckets``;
    memory-safety argument: :func:`_capped_members`), so the worst
    task is O(cap^2) regardless of corpus shape; exact-dup removal
    (e01) runs first in the pipeline precisely to keep buckets small.
    """
    sigs = e02_minhash_signatures(spark, sf_dir)
    members = _capped_members(
        _long_bands(sigs), F.col("doc_id"), observe_name="e02b_lsh"
    )
    return _bucket_pairs(members, "struct(m AS doc_a, n AS doc_b)")


def lsh_overflow_buckets(spark: SparkSession, sf_dir: str) -> int:
    """Ops-surface twin of e02b's observed ``overflow_buckets``: the
    number of (band, bucket) cells whose occupancy exceeds
    LSH_BUCKET_CAP — i.e. degenerate cells the pair expansion dropped.
    The registered query reports it via ``DataFrame.observe`` (free,
    rides the same job); this standalone count exists for monitoring
    and for tests that pin the cap contract empirically."""
    sigs = e02_minhash_signatures(spark, sf_dir)
    long_bands = _long_bands(sigs)
    return (
        long_bands.groupBy("band_id", "bucket")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > LSH_BUCKET_CAP)
        .count()
    )


@query(
    "e02c_ngram_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(LOWER(text), ' ') AS t FROM documents
    ), shingles AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               UNNEST(CASE WHEN len(t) >= {SHINGLE_W}
                    THEN list_distinct(list_transform(
                           range(1, len(t) - {SHINGLE_W} + 2),
                           i -> array_to_string(t[i:i+{SHINGLE_W}-1], ' ')))
                    ELSE [array_to_string(t, ' ')] END) AS shingle
        FROM toks
      )
    ), kept AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM shingles
      ) WHERE df <= {SHINGLE_DF_CAP}
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM kept a JOIN kept b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= 2
    )
    SELECT i.doc_a, i.doc_b, i.n_common,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    """,
)
def e02c_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 companion: exact n-gram Jaccard on shingle-sharing pairs —
    the verifier for MinHash candidates. Inverted-index join (explode
    shingle -> join on shingle) so only overlapping docs pair up.

    Hot-key guard: shingles with document frequency above
    SHINGLE_DF_CAP are dropped before the self-join (one window count
    over the shingle partitioning — the same shuffle key the join
    uses, and O(df) per key, vs the O(df^2) the join would emit).
    Jaccard is then computed over the kept-shingle space on both
    sides, the standard stop-shingle-removal semantics."""
    from pyspark.sql.window import Window as W

    d = load(spark, sf_dir, "documents")
    sh = (
        _shingles(d)
        .select("doc_id", "shingle")
        .distinct()
        .withColumn("df", F.count("*").over(W.partitionBy("shingle")))
        .filter(F.col("df") <= SHINGLE_DF_CAP)
        .drop("df")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "e02d_simhash",
    oracle="""
    WITH tokens AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM (SELECT doc_id, UNNEST(string_split(LOWER(text), ' ')) AS token
            FROM documents)
      GROUP BY doc_id, token
    ), bits AS (
      SELECT doc_id, b.i AS bit_pos,
             SUM(CASE WHEN (('0x' || substr(md5(token), 1, 8))::BIGINT >> b.i) & 1 = 1
                      THEN tf ELSE -tf END) AS weight
      FROM tokens
      CROSS JOIN (SELECT UNNEST(range(0, 32)) AS i) b
      GROUP BY doc_id, b.i
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN weight > 0 THEN CAST(POW(2, bit_pos) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS simhash32
    FROM bits
    GROUP BY doc_id
    """,
)
def e02d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 companion: 32-bit SimHash fingerprint — per-token md5 bits
    weighted by term frequency, sign-aggregated per bit position.
    Near-dups differ in few bits (checked by hamming distance in
    tests). All JVM-side; the bit expansion is a 32-way generator."""
    d = load(spark, sf_dir, "documents")
    tokens = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    # token -> 32-bit int from the first 8 hex chars of md5 (portable)
    tok_hash = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("bigint")
    bits = (
        tokens.withColumn("h", tok_hash)
        .select(
            "doc_id",
            "tf",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(31))).alias("bit_pos"),
        )
        .withColumn(
            "signed_tf",
            F.expr("CASE WHEN shiftright(h, bit_pos) & 1 = 1 THEN tf ELSE -tf END"),
        )
        .groupBy("doc_id", "bit_pos")
        .agg(F.sum("signed_tf").alias("weight"))
    )
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("weight") > 0, F.pow(F.lit(2.0), F.col("bit_pos")).cast("bigint"))
            .otherwise(F.lit(0))
        ).alias("simhash32")
    )


_SIG_ARRAY_SQL = "[" + ", ".join(f"sig_{i}" for i in range(N_HASHES)) + "]"

#: shared candidate-pair WITH-prefix where signatures travel with the
#: band rows — final SELECTs differ per estimator (e02f full, e76
#: b-bit). Distinct from _CAND_SQL above (the complete e02b pair
#: SELECT that downstream oracles embed as a CTE).
_SIG_CAND_PREFIX_SQL = (
    _HASHED_CTE
    + f"""
    , sigs AS (
      SELECT doc_id, {_SIG_COLS_SQL}
      FROM hashed GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, {_BAND_KEYS_SQL}, {_SIG_ARRAY_SQL} AS sig FROM sigs
    ), long_bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_id, band_{b} AS bucket, sig FROM bands" for b in range(N_BANDS))}
    ), sized AS (
      SELECT band_id, bucket, COUNT(*) AS n
      FROM long_bands GROUP BY band_id, bucket
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM long_bands a
      JOIN long_bands b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      JOIN sized s
        ON s.band_id = a.band_id AND s.bucket = a.bucket
      WHERE s.n <= {LSH_BUCKET_CAP}
    )
"""
)

_EST_SQL = (
    _SIG_CAND_PREFIX_SQL
    + f"""
    SELECT doc_a, doc_b,
           ROUND(CAST(len(list_filter(range(1, {N_HASHES} + 1),
                                      i -> sig_a[i] = sig_b[i])) AS DOUBLE)
                 / {N_HASHES}, 6) AS est_jaccard
    FROM cand
"""
)


@query("e02f_minhash_estimate", oracle=_EST_SQL)
def e02f_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 stage 3: estimated Jaccard for each LSH candidate pair —
    the fraction of agreeing signature components (the MinHash
    estimator). Completes the dedup pipeline: sign (e02) -> candidates
    (e02b) -> estimate/threshold (here) -> exact verify (e02c).

    Signatures travel WITH the band rows as a fixed N_HASHES-element
    array, so the corpus is read and signed exactly ONCE — no re-join
    of a separately-computed signature table (at 100 TB that re-join
    re-reads the corpus per reference; Catalyst has no cross-branch
    CSE). The estimate is computed per bucket-collision BEFORE pair
    dedup, so the final distinct shuffles (doc_a, doc_b, est) triples,
    not kilobyte signature structs; duplicate collisions across bands
    agree on the estimate by construction.
    """
    sigs = e02_minhash_signatures(spark, sf_dir)
    sig_arr = F.array(*[F.col(f"sig_{i}") for i in range(N_HASHES)])
    members = _capped_members(
        _long_bands(sigs, sig_arr.alias("sig")),
        F.struct(F.col("doc_id"), F.col("sig")),
    )
    scored = _bucket_pairs(
        members,
        "struct(m.doc_id AS doc_a, n.doc_id AS doc_b, "
        "size(filter(zip_with(m.sig, n.sig, (x, y) -> x = y), "
        "eq -> eq)) AS n_agree)",
    )
    return scored.select(
        "doc_a",
        "doc_b",
        F.round(F.col("n_agree").cast("double") / N_HASHES, 6).alias("est_jaccard"),
    )


@query(
    "e02g_lsh_cluster_reps",
    oracle=_LONG_BANDS_WITH
    + """
    , bucket_min AS (
      SELECT band_id, bucket, MIN(doc_id) AS bmin
      FROM long_bands GROUP BY band_id, bucket
    )
    SELECT lb.doc_id,
           MIN(bm.bmin) AS cluster_rep,
           MIN(bm.bmin) <> lb.doc_id AS is_duplicate
    FROM long_bands lb
    JOIN bucket_min bm ON lb.band_id = bm.band_id AND lb.bucket = bm.bucket
    GROUP BY lb.doc_id
    """,
)
def e02g_lsh_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 stage 3: cluster representatives — each document's rep is
    the smallest doc_id sharing any LSH band bucket with it; docs
    whose rep is not themselves are the droppable near-duplicates.
    This is the per-bucket collapse production dedup runs after
    candidate generation (full transitive closure would iterate this
    min-propagation to fixpoint; one pass already collapses every
    bucket). Two shuffles — bucket-min aggregate, then per-doc min —
    both on uniformly-hashed keys, no pair expansion at all."""
    sigs = e02_minhash_signatures(spark, sf_dir)
    long_bands = _long_bands(sigs)
    bucket_min = long_bands.groupBy("band_id", "bucket").agg(
        F.min("doc_id").alias("bmin")
    )
    return (
        long_bands.join(bucket_min, ["band_id", "bucket"])
        .groupBy("doc_id")
        .agg(
            F.min("bmin").alias("cluster_rep"),
            (F.min("bmin") != F.col("doc_id")).alias("is_duplicate"),
        )
    )


@query(
    "e02h_dedup_components",
    oracle=f"""
    WITH RECURSIVE cand AS ({_CAND_SQL}),
    und AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, u.dst
      FROM reach r
      JOIN und u ON r.b = u.src
    )
    SELECT a AS doc_id,
           MIN(b) AS component_rep,
           MIN(b) <> a AS is_duplicate
    FROM reach
    GROUP BY a
    """,
)
def e02h_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 stage 3b: TRUE connected components over the LSH candidate
    graph — the fixpoint e02g's one-pass bucket collapse approximates.
    A chain A~B~C where A,C never share a bucket still lands in one
    component here.

    Iterative min-label propagation (the simple variant of the
    large-star/small-star algorithm): each round, every doc takes the
    min of its own label and its neighbors' labels — one join on the
    uniformly-hashed doc_id plus one groupBy-min per round, never a
    pair-pair expansion. Rounds needed = graph diameter (near-dup
    clusters are bucket-overlap cliques, so 2-4 in practice; capped
    at 12 with a convergence check). Each round ends in an EAGER
    ``localCheckpoint`` — without it the plan doubles per iteration
    and the final DAG would replan the whole history (on a cluster,
    use a checkpoint dir for fault tolerance instead). The driver-side
    loop is control flow only; all data stays distributed. Oracle:
    DuckDB recursive-CTE reachability (fixture-scale transitive
    closure) aggregated to the same min-reachable-id labels."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    pairs = e02b_minhash_lsh_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    edges = edges.localCheckpoint(eager=True)  # candidate gen runs once
    from pyspark.sql import Observation

    # Convergence via the LABEL-SUM invariant: every round takes
    # per-doc mins, so each label either stays or strictly decreases —
    # the total sum of labels is strictly monotone until the fixpoint,
    # and an unchanged sum proves NO label moved. Observing the sum
    # rides the same job that materializes the round, replacing the
    # previous old-vs-new join (one fewer shuffle per round). The sum
    # is a DECIMAL(38,0) aggregate: at extreme doc_id magnitudes an
    # int64 sum of 10^12 labels could overflow, the decimal cannot.
    # prev_sum seeds from the INITIAL labels (observed on the same job
    # that checkpoints them), so an already-converged graph — no
    # edges, or none that lower any label — exits after ONE round
    # instead of always paying two (ADVICE r3 #2).
    obs0 = Observation("e02h-round-init")
    labels = (
        d.select("doc_id", F.col("doc_id").alias("comp"))
        .observe(
            obs0, F.sum(F.col("comp").cast("decimal(38,0)")).alias("label_sum")
        )
        .localCheckpoint(eager=True)
    )
    s0 = obs0.get["label_sum"]
    prev_sum = int(s0) if s0 is not None else 0
    converged = False
    for i in range(12):
        nbr = (
            edges.join(labels, edges.src == labels.doc_id)
            .select(F.col("dst").alias("doc_id"), "comp")
        )
        obs = Observation(f"e02h-round-{i}")
        new_labels = (
            labels.unionAll(nbr)
            .groupBy("doc_id")
            .agg(F.min("comp").alias("comp"))
            .observe(
                obs,
                F.sum(F.col("comp").cast("decimal(38,0)")).alias("label_sum"),
            )
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        # SUM over zero rows observes None (empty corpus): normalized
        # to 0 so the second all-zero round hits s == prev_sum
        s = obs.get["label_sum"]
        s = int(s) if s is not None else 0
        if s == prev_sum:
            converged = True
            break
        prev_sum = s
    if not converged:
        # the loop KNOWS the fixpoint was not reached (labels still
        # moved on the last round); returning the intermediate labels
        # would silently split one true component into several —
        # refuse loudly instead (r8 review). Diameter > 12 means a
        # pathological chain-of-near-dups corpus; raise the cap.
        raise RuntimeError(
            "e02h: min-label propagation did not converge within 12 "
            "rounds (candidate-graph diameter exceeds the cap) — "
            "raise the round cap for this corpus"
        )
    return labels.select(
        "doc_id",
        F.col("comp").alias("component_rep"),
        (F.col("comp") != F.col("doc_id")).alias("is_duplicate"),
    )


@query(
    "e16_dedup_pipeline",
    oracle=_LONG_BANDS_WITH
    + """
    , bucket_min AS (
      SELECT band_id, bucket, MIN(doc_id) AS bmin
      FROM long_bands GROUP BY band_id, bucket
    ), reps AS (
      SELECT lb.doc_id, MIN(bm.bmin) AS cluster_rep
      FROM long_bands lb
      JOIN bucket_min bm ON lb.band_id = bm.band_id AND lb.bucket = bm.bucket
      GROUP BY lb.doc_id
    ), exact AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS exact_keeper,
             len(string_split(text, ' ')) AS n_words
      FROM documents
    )
    SELECT e.doc_id, e.n_words
    FROM exact e JOIN reps r ON e.doc_id = r.doc_id
    WHERE e.doc_id = e.exact_keeper
      AND r.cluster_rep = e.doc_id
      AND e.n_words BETWEEN 10 AND 100000
    """,
)
def e16_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone corpus curation: the surviving documents after the
    full dedup pipeline — exact-dup keeper (md5 group minimum) AND
    near-dup cluster representative (LSH bucket collapse, e02g) AND
    the length gate. One query composes three pipeline stages; at
    100 TB each stage is the same partition-parallel shape it has
    standalone, and the conjunction is two joins on doc_id — the
    natural key both sides are already aggregated by."""
    d = load(spark, sf_dir, "documents")
    from pyspark.sql.window import Window as W

    exact = d.select(
        "doc_id",
        F.min("doc_id").over(W.partitionBy(F.md5("text"))).alias("exact_keeper"),
        F.size(F.split("text", " ")).alias("n_words"),
    )
    reps = e02g_lsh_cluster_reps(spark, sf_dir).select("doc_id", "cluster_rep")
    return (
        exact.join(reps, "doc_id")
        .filter(
            (F.col("doc_id") == F.col("exact_keeper"))
            & (F.col("cluster_rep") == F.col("doc_id"))
            & F.col("n_words").between(10, 100000)
        )
        .select("doc_id", "n_words")
    )


_E24_ORACLE = (
    _LONG_BANDS_WITH
    + f"""
    , sized AS (
      SELECT band_id, bucket, COUNT(*) AS n
      FROM long_bands GROUP BY band_id, bucket
    )
    , cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM long_bands a
      JOIN long_bands b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      JOIN sized s
        ON s.band_id = a.band_id AND s.bucket = a.bucket
      WHERE s.n <= {LSH_BUCKET_CAP}
    )
    SELECT c.doc_a, c.doc_b,
           levenshtein(da.text, db.text) AS edit_dist,
           1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
                 / GREATEST(len(da.text), len(db.text), 1) AS edit_sim
    FROM cand c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
"""
)


@query("e24_editdist_verify", oracle=_E24_ORACLE)
def e24_editdist_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 stage 4 (alternative verifier): exact edit-distance scoring
    of the LSH candidate pairs — the character-level complement of
    e02c's token-level Jaccard verify (catches near-dups that differ
    by in-token edits, which token shingles miss). levenshtein is
    engine-native in BOTH Spark and DuckDB, and the normalized
    similarity is an IEEE division of exact ints (no rounding — same
    bit pattern both sides). Scale: O(len^2) per pair but only over
    LSH candidates (<< n^2); the two doc_id joins shuffle pair rows,
    never the corpus."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    cand = e02b_minhash_lsh_pairs(spark, sf_dir)
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    lev = F.levenshtein(F.col("ta"), F.col("tb"))
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            lev.alias("edit_dist"),
            # GREATEST(..., 1): two EMPTY texts are guaranteed LSH
            # candidates (identical signatures) and 0/0 would be NaN
            # here vs NULL in DuckDB — the floor makes the pair a
            # clean sim=1.0 exact duplicate on both engines
            (
                F.lit(1.0)
                - lev.cast("double")
                / F.greatest(F.length("ta"), F.length("tb"), F.lit(1))
            ).alias("edit_sim"),
        )
    )


@query(
    "e26_minhash_containment",
    oracle=_LONG_BANDS_WITH
    + f"""
    , sized AS (
      SELECT band_id, bucket, COUNT(*) AS n
      FROM long_bands GROUP BY band_id, bucket
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM long_bands a
      JOIN long_bands b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      JOIN sized s
        ON s.band_id = a.band_id AND s.bucket = a.bucket
      WHERE s.n <= {LSH_BUCKET_CAP}
    ), counts AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM hashed GROUP BY doc_id
    ), inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN hashed ha ON ha.doc_id = c.doc_a
      JOIN hashed hb ON hb.doc_id = c.doc_b AND hb.h = ha.h
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           ca.n_sh AS n_a, cb.n_sh AS n_b, i.n_inter,
           CAST(i.n_inter AS DOUBLE) / ca.n_sh AS containment_a,
           CAST(i.n_inter AS DOUBLE) / cb.n_sh AS containment_b
    FROM inter i
    JOIN counts ca ON ca.doc_id = i.doc_a
    JOIN counts cb ON cb.doc_id = i.doc_b
    """,
)
def e26_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 stage 4 (containment verifier): exact shingle CONTAINMENT
    for each LSH candidate pair — |A∩B|/|A| and |A∩B|/|B|. Jaccard
    (e02c/e02f) is symmetric and misses the asymmetric case a crawl
    corpus is full of: a short document quoted wholesale inside a
    long one (containment_a ≈ 1 while Jaccard is small). Public
    dedup pipelines (e.g. the suffix-array and CCNet lines of work)
    treat containment as the signal for quote/boilerplate removal.

    Plan: candidates come from the capped LSH buckets (never
    all-pairs); shingle-hash sets ride :func:`_shingle_hashes` (one
    scan, integer folds); the intersection is two equi-joins on
    (doc_id) then (doc_id, h) — (pair × shingle) rows, bounded by
    candidate count × doc shingle count, partition-parallel
    throughout. Containment values are IEEE divisions of exact ints
    (no ROUND — FIXTURES.md rule). Pairs whose band collision carries
    zero shared shingles drop out in BOTH engines (inner join)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    hashed = _shingle_hashes(d)  # (doc_id, h), distinct per doc
    cand = e02b_minhash_lsh_pairs(spark, sf_dir)
    counts = hashed.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    ha = hashed.select(F.col("doc_id").alias("doc_a"), "h")
    hb = hashed.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        cand.join(ha, "doc_a")
        .join(hb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            "n_inter",
            (F.col("n_inter").cast("double") / F.col("n_a")).alias("containment_a"),
            (F.col("n_inter").cast("double") / F.col("n_b")).alias("containment_b"),
        )
    )


#: e29: documents with doc_id % INCR_MOD == 0 play the "newly arrived
#: CDC batch"; the rest are the standing corpus with stored signatures.
INCR_MOD = 10


@query(
    "e29_incremental_lsh",
    oracle=_CAND_SQL
    + f"""
      AND (a.doc_id % {INCR_MOD} = 0 OR b.doc_id % {INCR_MOD} = 0)
    """,
)
def e29_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup candidates for a CDC batch — the LSH probe
    a continuously-replicated corpus runs per ingest batch instead of
    re-deduplicating from scratch: ONLY the newly-arrived documents
    (here: doc_id % {INCR_MOD} == 0, standing in for a changelog
    batch) are shingled and signed; their band rows probe the standing
    band index on (band, bucket) equality, yielding exactly the e02b
    candidate pairs that involve at least one new document. This is
    the operator that makes dedup compatible with the engine's CDC
    cadence (B5/B10b): per-batch cost is O(batch x bucket occupancy),
    never O(corpus).

    Plan: one signature pass over the full table builds the band long
    form (in production the standing side is ALREADY stored — the
    manifest table from a prior run; the builder recomputes it here so
    the query is self-contained on the driver's parquet); the bucket
    cap applies to TOTAL occupancy (delta + standing), matching batch
    semantics, so incremental output == batch output restricted to
    pairs touching the delta. Probe is an equi-join: delta band rows
    vs in-cap buckets."""
    sigs = e02_minhash_signatures(spark, sf_dir)
    long_bands = _long_bands(sigs)
    # bucket occupancy over the WHOLE corpus (cap semantics == e02b);
    # the standing band index would carry these counts pre-aggregated.
    # _capped_members drops over-cap cells BEFORE collecting ids —
    # same memory-safety argument as e02b.
    members = _capped_members(long_bands, F.col("doc_id"))
    delta = long_bands.filter(F.col("doc_id") % INCR_MOD == 0).select(
        F.col("doc_id").alias("new_doc"), "band_id", "bucket"
    )
    pairs = (
        delta.join(members, ["band_id", "bucket"])
        .select(
            "new_doc",
            F.explode("members").alias("other"),
        )
        .filter(F.col("new_doc") != F.col("other"))
        .select(
            F.least("new_doc", "other").alias("doc_a"),
            F.greatest("new_doc", "other").alias("doc_b"),
        )
        .distinct()
    )
    return pairs


@query(
    "e31_dup_graph_degree",
    oracle=_LONG_BANDS_WITH
    + f"""
    , sized AS (
      SELECT band_id, bucket, COUNT(*) AS n
      FROM long_bands GROUP BY band_id, bucket
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM long_bands a
      JOIN long_bands b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      JOIN sized s
        ON s.band_id = a.band_id AND s.bucket = a.bucket
      WHERE s.n <= {LSH_BUCKET_CAP}
    ), deg AS (
      SELECT doc_id, COUNT(*) AS degree FROM (
        SELECT doc_a AS doc_id FROM cand
        UNION ALL
        SELECT doc_b AS doc_id FROM cand
      ) GROUP BY doc_id
    )
    SELECT degree, COUNT(*) AS n_docs
    FROM deg GROUP BY degree
    """,
)
def e31_dup_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-duplication diagnostic: the DEGREE DISTRIBUTION of the
    near-dup candidate graph — for each degree d, how many documents
    have exactly d near-dup candidates. The shape tells a curator
    what kind of duplication the corpus carries before any removal
    runs: a fat tail means boilerplate families (template pages,
    mirrors — candidates for cluster-level removal via e02g/e02h), a
    thin head means pairwise near-copies (pair-verify via e02f/e26
    suffices). Cost: e02b's candidate pairs + one degree aggregate +
    one histogram aggregate — pair-bounded, never corpus-squared."""
    pairs = e02b_minhash_lsh_pairs(spark, sf_dir)
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_docs"))


@query(
    "e33_ngram_novelty",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(LOWER(text), ' ') AS toks
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(
               toks[CAST(i AS INTEGER):CAST(i AS INTEGER)+7], ' ')) AS h
      FROM t, UNNEST(range(1, len(toks) - 6)) AS u(i)
    ),
    fs AS (SELECT h, MIN(doc_id) AS first_doc FROM g GROUP BY h)
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN fs.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN fs.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS novelty_ratio
    FROM g JOIN fs ON g.h = fs.h
    GROUP BY g.doc_id
    """,
)
def e33_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-family: per-document n-gram novelty — for each document, the
    fraction of its distinct 8-gram hashes whose FIRST corpus
    occurrence (minimum doc_id) is this document. The novelty curve is
    the standard diagnostic for ordering-sensitive dedup pipelines
    (documents arriving later contribute fewer novel n-grams as the
    corpus saturates); a near-zero ratio marks a document that is
    wholly reassembled from earlier material even when no single
    near-duplicate exists (which is why MinHash misses it — pairwise
    similarity to every individual source stays low).

    Scale: one explode to distinct (doc, gram) pairs, one hash-agg
    shuffle on the gram hash for first-seen, one co-partitioned join
    back (AQE reuses the exchange), one doc_id agg. The corpus text is
    scanned once; everything downstream carries 16-byte hashes. The
    novelty ratio is IEEE division of two exact ints — bit-identical
    across engines, no ROUND (FIXTURES.md rule)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    base = d.select("doc_id", toks.alias("t")).filter(F.size("t") >= 8)
    idx = F.sequence(F.lit(0), F.size("t") - 8)
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.md5(F.concat_ws(" ", F.slice("t", i + 1, 8))))
    )
    g = base.select("doc_id", F.explode(grams).alias("h"))
    fs = g.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        g.join(fs, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(novel).alias("n_novel"),
            (F.sum(novel).cast("double") / F.count("*").cast("double")).alias(
                "novelty_ratio"
            ),
        )
    )


#: probe lengths for the common-span probe, ASCENDING — both engines
#: define n_shared_min positionally as the count at SPAN_LENGTHS[0],
#: the smallest window (reordering this tuple would redefine that
#: column in BOTH engines at once, so keep it sorted)
SPAN_LENGTHS = (8, 16, 32)


@query(
    "e36_common_span_probe",
    oracle=_LONG_BANDS_WITH
    + f"""
    , sized AS (
      SELECT band_id, bucket, COUNT(*) AS n
      FROM long_bands GROUP BY band_id, bucket
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM long_bands a
      JOIN long_bands b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      JOIN sized s
        ON s.band_id = a.band_id AND s.bucket = a.bucket
      WHERE s.n <= {LSH_BUCKET_CAP}
    ), cdocs AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM cand
        UNION ALL SELECT doc_b AS doc_id FROM cand)
    ), ctoks AS (
      SELECT d.doc_id, string_split(LOWER(d.text), ' ') AS toks
      FROM documents d JOIN cdocs USING (doc_id)
    ), wins AS (
      SELECT DISTINCT doc_id, L,
             md5(array_to_string(
               toks[CAST(i AS INTEGER):CAST(i AS INTEGER) + L - 1], ' ')) AS h
      FROM ctoks,
           (SELECT UNNEST([{", ".join(map(str, SPAN_LENGTHS))}]) AS L) ls,
           UNNEST(range(1, len(toks) - L + 2)) AS u(i)
    ), m AS (
      SELECT c.doc_a, c.doc_b, wa.L, COUNT(*) AS n_shared
      FROM cand c
      JOIN wins wa ON wa.doc_id = c.doc_a
      JOIN wins wb ON wb.doc_id = c.doc_b AND wb.h = wa.h AND wb.L = wa.L
      GROUP BY c.doc_a, c.doc_b, wa.L
    )
    SELECT c.doc_a, c.doc_b,
           COALESCE(MAX(m.L), 0) AS longest_span,
           CAST(COALESCE(MAX(CASE WHEN m.L = {SPAN_LENGTHS[0]}
                                  THEN m.n_shared END), 0) AS BIGINT)
             AS n_shared_min
    FROM cand c
    LEFT JOIN m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
    GROUP BY c.doc_a, c.doc_b
    """,
)
def e36_common_span_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 stage 4 (exact-substring probe): for each LSH candidate
    pair, the longest L in {8, 16, 32} at which the two documents
    share a VERBATIM L-token window, plus the shared-window count at
    the smallest L. This is the bounded form of suffix-array
    exact-substring dedup (the Lee et al. "Deduplicating Training
    Data" line of work): instead of building a corpus-wide suffix
    array, it probes a geometric ladder of window lengths with hash
    joins — longest_span = 0 separates "similar vocabulary" pairs
    from "copied passage" pairs, the signal that drives
    remove-the-span (vs drop-the-document) dedup policies.

    Plan: candidates come from the capped LSH buckets; the corpus is
    pruned to candidate documents by a semi-join BEFORE any window
    explosion (at 100 TB the window hashes of non-candidate docs are
    never computed); each length's distinct window hashes ride one
    Generate; the pair match is two equi-joins — (pair, doc) then
    (doc, L, hash) — both partition-parallel, payload bounded by
    candidates x windows-per-doc. All-integer outputs."""
    pairs = e02b_minhash_lsh_pairs(spark, sf_dir).localCheckpoint(eager=True)
    cdocs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    d = load(spark, sf_dir, "documents").join(cdocs, "doc_id", "left_semi")
    base = d.select("doc_id", F.split(F.lower("text"), " ").alias("t"))
    wins = None
    for L in SPAN_LENGTHS:
        idx = F.sequence(F.lit(0), F.size("t") - L)
        w_l = base.filter(F.size("t") >= L).select(
            "doc_id",
            F.lit(L).alias("L"),
            F.explode(
                F.array_distinct(
                    F.transform(
                        idx, lambda i: F.md5(F.concat_ws(" ", F.slice("t", i + 1, L)))
                    )
                )
            ).alias("h"),
        )
        wins = w_l if wins is None else wins.unionAll(w_l)
    wa = wins.select(
        F.col("doc_id").alias("da"), F.col("L").alias("La"), F.col("h").alias("ha")
    )
    wb = wins.select(
        F.col("doc_id").alias("db"), F.col("L").alias("Lb"), F.col("h").alias("hb")
    )
    m = (
        pairs.join(wa, pairs.doc_a == wa.da)
        .join(
            wb,
            (pairs.doc_b == F.col("db"))
            & (F.col("hb") == F.col("ha"))
            & (F.col("Lb") == F.col("La")),
        )
        .groupBy("doc_a", "doc_b", "La")
        .agg(F.count("*").alias("n_shared"))
    )
    agg = m.groupBy("doc_a", "doc_b").agg(
        F.max("La").alias("ls"),
        F.max(
            F.when(F.col("La") == SPAN_LENGTHS[0], F.col("n_shared"))
        ).alias("ns"),
    )
    return pairs.join(agg, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        F.coalesce(F.col("ls"), F.lit(0)).alias("longest_span"),
        F.coalesce(F.col("ns"), F.lit(0).cast("long")).alias("n_shared_min"),
    )


@query(
    "e41_neardup_training_export",
    oracle=f"""
    WITH RECURSIVE cand AS ({_CAND_SQL}),
    und AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, u.dst
      FROM reach r
      JOIN und u ON r.b = u.src
    ),
    reps AS (
      SELECT a AS doc_id FROM reach GROUP BY a HAVING MIN(b) = a
    ),
    dd AS (
      SELECT d.doc_id, d.text
      FROM documents d JOIN reps r ON d.doc_id = r.doc_id
    ),
    q AS (
      SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_words,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS mean_word_len,
             CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
               / length(text) AS symbol_ratio
      FROM dd WHERE length(text) > 0
    ),
    kept AS (
      SELECT doc_id, text, n_words,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM (
        SELECT *,
               ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 100 AS b
        FROM q
        WHERE (n_words BETWEEN 10 AND 100000)
          AND mean_word_len BETWEEN 2 AND 12
          AND symbol_ratio < 0.2
      )
    )
    SELECT split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars
    FROM kept GROUP BY split ORDER BY split
    """,
)
def e41_neardup_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-family capstone #2 (VERDICT r3 #3): the NEAR-DUP export —
    MinHash signatures -> LSH candidate pairs -> true connected
    components (e02h) -> keep only each component's representative ->
    e38's quality gate / deterministic split / REAL split-partitioned
    parquet write, with per-split stats computed from the read-back.
    This is the reference's end-state promise (a replicated,
    DEDUPLICATED, queryable table — /root/reference/README.md:170-174)
    with the production near-dup stage in front, where e38 alone
    exercises only exact dedup.

    Scale: the dedup front end is the verified e02h shape (bucketed
    candidate generation, min-label propagation, rounds = component
    diameter); the representative filter is a map-side predicate on
    the component labels; the export tail is one content-hash split +
    a 3-way partitioned write. Nothing new shuffles — the composition
    is the point. Oracle: recursive-CTE reachability at fixture scale
    aggregated to min-reachable reps, then the identical quality/split
    CTEs as e38's oracle."""
    from dynamodb_zero_etl_s3tables_spark.operators.llm_text import (
        quality_split_export,
    )

    comp = e02h_dedup_components(spark, sf_dir)
    reps = comp.filter(~F.col("is_duplicate")).select("doc_id")
    docs = load(spark, sf_dir, "documents").join(reps, "doc_id")
    return quality_split_export(spark, docs, sf_dir, "e41_export")


#: e50: candidate pairs must reach this shingle-Jaccard to count as
#: TRUE near-dups (matches the LSH operating point (1/16)^(1/4)~0.5)
DEDUP_RECALL_J = 0.5


@query(
    "e50_lsh_dedup_recall",
    oracle=_HASHED_CTE
    + f"""
    , dfc AS (SELECT h, COUNT(*) AS df FROM hashed GROUP BY h)
    , keep AS (
        SELECT hashed.doc_id, hashed.h
        FROM hashed JOIN dfc ON hashed.h = dfc.h
        WHERE dfc.df <= {SHINGLE_DF_CAP}
    )
    , sizes AS (SELECT doc_id, COUNT(*) AS n FROM keep GROUP BY doc_id)
    , inter AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    , truth AS (
        SELECT da, db
        FROM inter
        JOIN sizes sa ON sa.doc_id = inter.da
        JOIN sizes sb ON sb.doc_id = inter.db
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {DEDUP_RECALL_J}
    )
    , cand AS ({_CAND_SQL})
    SELECT (SELECT COUNT(*) FROM truth) AS n_true,
           (SELECT COUNT(*) FROM cand) AS n_cand,
           (SELECT COUNT(*) FROM truth t JOIN cand c
              ON t.da = c.doc_a AND t.db = c.doc_b) AS n_hit,
           CAST((SELECT COUNT(*) FROM truth t JOIN cand c
                   ON t.da = c.doc_a AND t.db = c.doc_b) AS DOUBLE)
             / NULLIF((SELECT COUNT(*) FROM truth), 0) AS recall
    """,
)
def e50_lsh_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 measurement harness: RECALL of the MinHash-LSH candidate
    generator against exact ground truth — the dedup-side counterpart
    of e03e's ANN recall harness. Ground truth = every pair whose
    true shingle-Jaccard is >= {DEDUP_RECALL_J} (the LSH operating
    point), computed NOT by an all-pairs product but via the
    inverted-index construction: pairs sharing at least one
    df-capped shingle hash, intersection counts from one
    (hash -> docs) self-equi-join, union sizes from per-doc distinct
    shingle counts. The df cap bounds the pair fan-out exactly as in
    production (a shingle in k docs emits k^2 rows — boilerplate is
    dropped, which also matches what the LSH side indexes). Output is
    one row: n_true / n_cand / n_hit / recall — the number a corpus
    team quotes when asked "what does the banding miss?".

    Scale: both sides ride hash equi-joins with the same df/bucket
    cap discipline; the three counts are tiny aggregates. On a corpus
    with no true near-dups above threshold n_true=0 and recall is
    NULL by construction (NULLIF), which the oracle reproduces."""
    hashed = _shingle_hashes(load(spark, sf_dir, "documents"))
    dfc = hashed.groupBy("h").agg(F.count("*").alias("df"))
    keep = hashed.join(
        dfc.filter(F.col("df") <= SHINGLE_DF_CAP).select("h"), "h"
    )
    sizes = keep.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = keep.select(F.col("doc_id").alias("da"), "h")
    b = keep.select(F.col("doc_id").alias("db"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    truth = (
        inter.join(sa, "da")
        .join(sb, "db")
        .filter(
            F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
            >= DEDUP_RECALL_J
        )
        .select("da", "db")
    )
    cand = e02b_minhash_lsh_pairs(spark, sf_dir)
    n_true = truth.agg(F.count("*").alias("n_true"))
    n_cand = cand.agg(F.count("*").alias("n_cand"))
    n_hit = truth.join(
        cand,
        (F.col("da") == F.col("doc_a")) & (F.col("db") == F.col("doc_b")),
    ).agg(F.count("*").alias("n_hit"))
    return (
        n_true.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_true",
            "n_cand",
            "n_hit",
            (
                F.col("n_hit").cast("double")
                / F.nullif(F.col("n_true"), F.lit(0))
            ).alias("recall"),
        )
    )


_E55_SIG_SQL = ", ".join(
    f"MIN(({a} * h + {b}) % {M31}) AS sig_{i}" for i, (a, b) in enumerate(_AFFINE)
)
_E55_AGREE_SQL = " + ".join(
    f"(CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END)"
    for i in range(N_HASHES)
)


@query(
    "e55_source_minhash_sketch",
    oracle=f"""
    WITH tokh AS (
      SELECT source,
             list_transform(string_split(LOWER(text), ' '),
                            s -> ({_MH64('s')} % {M31})) AS th
      FROM documents
    ), hashed AS (
      SELECT source,
             UNNEST(CASE WHEN len(th) >= {SHINGLE_W}
                  THEN list_distinct(list_transform(
                         range(1, len(th) - {SHINGLE_W} + 2),
                         i -> list_reduce(
                                list_prepend(CAST(0 AS BIGINT), th[i:i+{SHINGLE_W}-1]),
                                {_FOLD_SQL})))
                  ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), th),
                                    {_FOLD_SQL})] END) AS h
      FROM tokh
    ), sigs AS (
      SELECT source, {_E55_SIG_SQL} FROM hashed GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST({_E55_AGREE_SQL} AS BIGINT) AS n_agree,
           CAST({_E55_AGREE_SQL} AS DOUBLE) / {N_HASHES} AS est_jaccard
    FROM sigs a JOIN sigs b ON a.source < b.source
    """,
)
def e55_source_minhash_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 sketch path at CORPUS grain: per-source MERGEABLE MinHash
    signatures and the pairwise Jaccard estimates they imply — the
    sketch twin of e39's exact overlap matrix. A source's signature
    component i is min over its shingle hashes of (a_i*h+b_i) mod M31;
    because min distributes over union, the signature of any union of
    shards/partitions is the elementwise min of their signatures
    (proved by test_minhash_sketch_merges) — so at 100 TB each
    ingestion shard emits a {N_HASHES}-long vector and source-level
    (or corpus-level) sketches combine in O(components) WITHOUT
    re-reading text, which is exactly how the e39 matrix stays
    refreshable as sources grow. Broder (1997) resemblance sketches,
    public.

    Scale: one token-hash scan (shared _shingle_hashes shape), one
    (source, component-mins) hash-aggregate whose output is
    n_sources x {N_HASHES} values, and a broadcast theta self-join
    over the tiny signature table. The estimate is agree/{N_HASHES}
    — IEEE division of exact ints, ~1/sqrt({N_HASHES}) resolution
    (the e02f operating point); pairs needing certainty escalate to
    e39's exact join."""
    d = load(spark, sf_dir, "documents").select("source", "text")
    g = _shingle_hashes(d, keys=("source",))
    sigs = g.groupBy("source").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(M31)).alias(
                f"sig_{i}"
            )
            for i, (a, b) in enumerate(_AFFINE)
        ]
    )
    arr = F.array(*[f"sig_{i}" for i in range(N_HASHES)])
    s = sigs.select("source", arr.alias("sig"))
    a = s.select(F.col("source").alias("source_a"), F.col("sig").alias("sa"))
    b = s.select(F.col("source").alias("source_b"), F.col("sig").alias("sb"))
    agree = F.aggregate(
        F.zip_with(
            F.col("sa"), F.col("sb"),
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            agree.cast("bigint").alias("n_agree"),
            (agree.cast("double") / F.lit(N_HASHES)).alias("est_jaccard"),
        )
    )


@query(
    "e56_split_leakage_audit",
    oracle=f"""
    WITH cand AS (SELECT * FROM ({_CAND_SQL}) c),
    spl AS (
      SELECT doc_id,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               (('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)),
                                1, 15))::BIGINT) % 100 AS b
        FROM documents
      )
    ),
    labeled AS (
      SELECT LEAST(sa.split, sb.split) AS split_lo,
             GREATEST(sa.split, sb.split) AS split_hi
      FROM cand
      JOIN spl sa ON sa.doc_id = cand.doc_a
      JOIN spl sb ON sb.doc_id = cand.doc_b
    )
    SELECT split_lo, split_hi, COUNT(*) AS n_pairs,
           CAST(CASE WHEN split_lo <> split_hi THEN 1 ELSE 0 END AS INT)
             AS is_leak
    FROM labeled GROUP BY split_lo, split_hi
    """,
)
def e56_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-pipeline QA: TRAIN/TEST LEAKAGE AUDIT — near-duplicate
    pairs (e02b's banded-LSH candidates) joined against the
    deterministic e08 split, classified by the unordered split pair.
    Rows with ``is_leak = 1`` are candidate near-dups STRADDLING a
    split boundary — the contamination that inflates eval scores
    (the reason near-dedup runs BEFORE splitting in production; Lee
    et al. 2022 measure exactly this failure). The audit is the
    monitoring twin of e41's export pipeline, which deduplicates
    first and therefore cannot leak; pointing it at a naively-split
    corpus (as here) quantifies what dedup-after-split would cost.

    Scale: rides e02b's capped bucket expansion unchanged (one
    shuffle, O(cap^2) worst task); the split label is a pure hash
    expression (no data motion) and the classify join touches
    candidate PAIRS, not the corpus. Output is <= 6 summary rows via
    partial-aggregated counts."""
    pairs = e02b_minhash_lsh_pairs(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    spl = d.select(
        "doc_id",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "valid")
        .otherwise("test")
        .alias("split"),
    )
    labeled = (
        pairs.join(spl.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("split", "sa"), "doc_a")
        .join(spl.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("split", "sb"), "doc_b")
        .select(
            F.least("sa", "sb").alias("split_lo"),
            F.greatest("sa", "sb").alias("split_hi"),
        )
    )
    return labeled.groupBy("split_lo", "split_hi").agg(
        F.count("*").alias("n_pairs"),
        F.max((F.col("split_lo") != F.col("split_hi")).cast("int")).alias("is_leak"),
    )


#: winnowing geometry (Schleimer, Wilkerson & Aiken 2003, public —
#: the MOSS local fingerprinting algorithm): k-gram size and window
#: width. Guarantee: any shared run of >= WIN_W + WIN_K - 1 tokens
#: produces at least one shared fingerprint.
WIN_K = 4
WIN_W = 5


@query(
    "e57_winnowing_fingerprints",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(LOWER(text), ' ') AS t FROM documents
    ),
    kg AS (
      SELECT doc_id,
             UNNEST(range(1, len(t) - {WIN_K} + 2)) AS pos,
             UNNEST(list_transform(
               range(1, len(t) - {WIN_K} + 2),
               i -> {_MH64(f"array_to_string(list_slice(t, i, i + {WIN_K} - 1), ' ')")}
             )) AS kgh,
             len(t) - {WIN_K} + 1 AS m
      FROM toks WHERE len(t) >= {WIN_K}
    ),
    wmin AS (
      SELECT doc_id, pos, m,
             MIN(kgh) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {WIN_W - 1} FOLLOWING) AS fp
      FROM kg
    ),
    sel AS (
      SELECT DISTINCT doc_id, fp
      FROM wmin WHERE pos <= GREATEST(m - {WIN_W} + 1, 1)
    ),
    shared AS (
      SELECT fp, COUNT(*) AS nd FROM sel GROUP BY fp
    )
    SELECT s.doc_id,
           MAX(k.m) AS n_kgrams,
           COUNT(*) AS n_fingerprints,
           CAST(COUNT(*) AS DOUBLE) / MAX(k.m) AS density,
           CAST(SUM(CASE WHEN sh.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared
    FROM sel s
    JOIN shared sh USING (fp)
    JOIN (SELECT DISTINCT doc_id, m FROM kg) k USING (doc_id)
    GROUP BY s.doc_id
    """,
)
def e57_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5/E2 bridge: WINNOWING fingerprint selection (Schleimer,
    Wilkerson & Aiken 2003 — the MOSS algorithm, public): hash every
    {WIN_K}-token k-gram, slide a {WIN_W}-wide window over the hash
    sequence, keep each window's minimum — a LOCAL selection rule
    with a coverage guarantee (any shared token run of length >=
    w + k - 1 yields a shared fingerprint), unlike e02's corpus-
    global MinHash which can miss short local overlaps. Output per
    document: k-gram count, selected-fingerprint count, density
    (expected ~2/(w+1)), and how many of its fingerprints appear in
    at least one other document (the plagiarism/contamination
    signal). Short documents (fewer k-grams than the window) keep
    their global minimum, so every doc with >= {WIN_K} tokens is
    fingerprinted.

    Scale: k-gram hashing is a map-side array transform; the window
    min is a PER-DOCUMENT window (rows-bounded frame on the doc_id
    shuffle — no global ordering); the sharing count groups by
    fingerprint, whose cardinality is ~density x corpus tokens —
    the same payload class as e02's shingle shuffle. Fingerprints
    are stored positions-free here; the pos-annotated variant (for
    span alignment) adds one column, not a new shuffle.
    Determinism: md5-prefix hashes, integer counts, one exact IEEE
    division for density."""
    d = load(spark, sf_dir, "documents")
    t = F.split(F.lower("text"), " ")
    m = F.size(t) - WIN_K + 1
    kgrams = (
        d.select("doc_id", t.alias("t"), m.alias("m"))
        .filter(F.size("t") >= WIN_K)
        .select(
            "doc_id",
            "m",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("m")),
                    lambda i: F.struct(
                        i.alias("pos"),
                        _mh64(F.array_join(F.slice("t", i, WIN_K), " ")).alias(
                            "kgh"
                        ),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", "m", "g.pos", "g.kgh")
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WIN_W - 1)
    sel = (
        kgrams.withColumn("fp", F.min("kgh").over(w))
        .filter(F.col("pos") <= F.greatest(F.col("m") - WIN_W + 1, F.lit(1)))
        .select("doc_id", "m", "fp")
        .distinct()
    )
    shared = sel.groupBy("fp").agg(F.count("*").alias("nd"))
    return (
        sel.join(shared, "fp")
        .groupBy("doc_id")
        .agg(
            F.max("m").alias("n_kgrams"),
            F.count("*").alias("n_fingerprints"),
            (F.count("*").cast("double") / F.max("m")).alias("density"),
            F.sum((F.col("nd") > 1).cast("int")).cast("bigint").alias("n_shared"),
        )
    )


@query(
    "e71_soft_dedup_weights",
    oracle="""
    WITH g AS (
      SELECT doc_id, md5(text) AS content_hash,
             len(string_split(text, ' ')) AS ws_tokens,
             COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies
      FROM documents
    )
    SELECT doc_id, content_hash, CAST(n_copies AS BIGINT) AS n_copies,
           1.0 / n_copies AS weight,
           CAST(ws_tokens AS DOUBLE) / n_copies AS effective_tokens
    FROM g
    """,
)
def e71_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/E2 family: SOFT dedup — keep every copy but downweight each
    duplicate group to unit total mass (weight = 1/n_copies, effective
    token count scaled to match), the reweighting alternative to hard
    removal (SoftDeDup, arXiv 2024; the same mechanism serves
    sampling-based dedup in any loss-weighted trainer). Composes with
    e01: the group key is the same exact content hash, so 'soft' and
    'hard' pipelines share the hash pass. Shape: one window over the
    content-hash shuffle (same single shuffle as e01's groupBy — the
    window keeps the per-doc rows that hard dedup would collapse).
    The divisions are double-exact and identical in both engines
    (small-integer operands), so the hash gate applies fully."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("content_hash")
    return (
        d.select(
            "doc_id",
            F.md5("text").alias("content_hash"),
            F.size(F.split("text", " ")).alias("ws_tokens"),
        )
        .withColumn("n_copies", F.count("*").over(w))
        .select(
            "doc_id",
            "content_hash",
            F.col("n_copies").cast("bigint").alias("n_copies"),
            (F.lit(1.0) / F.col("n_copies")).alias("weight"),
            (F.col("ws_tokens").cast("double") / F.col("n_copies")).alias(
                "effective_tokens"
            ),
        )
    )


def _e75_oracle() -> str:
    from dynamodb_zero_etl_s3tables_spark.operators.registry import QUERY_REGISTRY

    pairs = QUERY_REGISTRY["e02b_minhash_lsh_pairs"].oracle
    return f"""
    WITH pairs AS ({pairs}),
    lab AS (
      SELECT doc_id, source,
             CAST(SUBSTR(source, 4) AS INTEGER) >= 15 AS is_new
      FROM documents
    ),
    cross_hits AS (
      SELECT CASE WHEN a.is_new THEN p.doc_a ELSE p.doc_b END AS new_doc,
             CASE WHEN a.is_new THEN p.doc_b ELSE p.doc_a END AS base_doc
      FROM pairs p
      JOIN lab a ON a.doc_id = p.doc_a
      JOIN lab b ON b.doc_id = p.doc_b
      WHERE a.is_new <> b.is_new
    )
    SELECT c.new_doc AS doc_id, l.source,
           COUNT(*) AS n_base_matches,
           MIN(c.base_doc) AS first_base_match
    FROM cross_hits c JOIN lab l ON l.doc_id = c.new_doc
    GROUP BY c.new_doc, l.source
    """


@query("e75_cross_corpus_dedup", oracle=_e75_oracle())
def e75_cross_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 family: ASYMMETRIC (cross-corpus) near-dedup — quarantine
    documents of the NEW crawl (sources src15-19) that near-duplicate
    anything in the BASE training corpus (src0-14), while pairs
    INSIDE either corpus are ignored. This is the snapshot-over-
    snapshot dedup every refresh pipeline runs (RefinedWeb/FineWeb
    dedupe each CommonCrawl snapshot against all prior ones, public):
    base-internal duplicates were already adjudicated, new-internal
    ones are e02's job — only the cross edges decide admission.

    Shape: the candidate generation IS e02b (one bucket-hash shuffle,
    capped expansion — composition, nothing recomputed differently);
    the corpus labels are a pure projection joined onto the pair
    list, the cross filter drops same-side pairs, and the quarantine
    list aggregates per new doc. At 100 TB the label join touches
    candidate pairs only — corpus membership never shuffles the
    corpus itself."""
    pairs = e02b_minhash_lsh_pairs(spark, sf_dir)
    lab = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (F.substring("source", 4, 10).cast("int") >= 15).alias("is_new"),
    )
    a = lab.select(
        F.col("doc_id").alias("doc_a"), F.col("is_new").alias("new_a")
    )
    b = lab.select(
        F.col("doc_id").alias("doc_b"), F.col("is_new").alias("new_b")
    )
    cross = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("new_a") != F.col("new_b"))
        .select(
            F.when(F.col("new_a"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("new_doc"),
            F.when(F.col("new_a"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("base_doc"),
        )
    )
    return (
        cross.groupBy("new_doc")
        .agg(
            F.count("*").alias("n_base_matches"),
            F.min("base_doc").alias("first_base_match"),
        )
        .join(lab.select("doc_id", "source"), F.col("new_doc") == F.col("doc_id"))
        .select(
            "doc_id", "source", "n_base_matches", "first_base_match"
        )
    )


_BBIT_SQL = (
    _SIG_CAND_PREFIX_SQL
    + f"""
    SELECT doc_a, doc_b,
           ROUND(CAST(len(list_filter(range(1, {N_HASHES} + 1),
                                      i -> sig_a[i] = sig_b[i])) AS DOUBLE)
                 / {N_HASHES}, 6) AS est_full,
           CAST(len(list_filter(range(1, {N_HASHES} + 1),
                                i -> sig_a[i] % 2 = sig_b[i] % 2)) AS BIGINT)
             AS n_agree_1bit,
           ROUND(2.0 * (CAST(len(list_filter(range(1, {N_HASHES} + 1),
                                 i -> sig_a[i] % 2 = sig_b[i] % 2)) AS DOUBLE)
                        / {N_HASHES}) - 1.0, 6) AS est_1bit
    FROM cand
"""
)


@query("e76_bbit_minhash", oracle=_BBIT_SQL)
def e76_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 family: B-BIT MINWISE HASHING (Li & Koenig, WWW 2010 —
    public) at b=1: keep only the LOWEST BIT of each of the 64
    minhash components, shrinking signature storage 32x (64 bits vs
    64 ints — at 100 TB of signatures that is the difference between
    an in-memory dedup index and a spilled one). One bit agrees half
    the time by chance, so raw agreement A estimates
    C + (1-C)*J with C = 1/2^b = 0.5; the unbiased corrector is
    J = (A - C)/(1 - C) = 2A - 1 at b=1. Emitted side by side with
    the full 64-int estimate over the SAME candidate pairs, so the
    hash gate pins the estimator algebra and the row set at once.

    Shape: identical to e02f (signatures travel with band rows, one
    bucket shuffle, capped in-bucket expansion, estimates computed
    before the pair distinct); the b-bit projection is a per-element
    ``% 2`` inside the same zip_with — no extra pass. All agreements
    are integers; both estimates are exact dyadic arithmetic on
    n/64, so cross-engine equality is exact."""
    sigs = e02_minhash_signatures(spark, sf_dir)
    sig_arr = F.array(*[F.col(f"sig_{i}") for i in range(N_HASHES)])
    members = _capped_members(
        _long_bands(sigs, sig_arr.alias("sig")),
        F.struct(F.col("doc_id"), F.col("sig")),
    )
    scored = _bucket_pairs(
        members,
        "struct(m.doc_id AS doc_a, n.doc_id AS doc_b, "
        "size(filter(zip_with(m.sig, n.sig, (x, y) -> x = y), "
        "eq -> eq)) AS n_full, "
        "size(filter(zip_with(m.sig, n.sig, "
        "(x, y) -> x % 2 = y % 2), eq -> eq)) AS n_1bit)",
    )
    nh = float(N_HASHES)
    return scored.select(
        "doc_a",
        "doc_b",
        F.round(F.col("n_full").cast("double") / nh, 6).alias("est_full"),
        F.col("n_1bit").cast("bigint").alias("n_agree_1bit"),
        F.round(2.0 * (F.col("n_1bit").cast("double") / nh) - 1.0, 6).alias(
            "est_1bit"
        ),
    )


_THRESHOLDS = (50, 60, 70, 80, 90)  # percent — exact integer compare vs k/64


@query(
    "e79_dedup_threshold_sweep",
    oracle=_SIG_CAND_PREFIX_SQL
    + f""",
    est AS (
      SELECT doc_a, doc_b,
             CAST(len(list_filter(range(1, {N_HASHES} + 1),
                                  i -> sig_a[i] = sig_b[i])) AS BIGINT) AS k
      FROM cand
    )
    SELECT t.thr AS threshold_pct,
           COUNT(*) FILTER (WHERE e.k * 100 >= t.thr * {N_HASHES}) AS n_pairs,
           COUNT(DISTINCT CASE WHEN e.k * 100 >= t.thr * {N_HASHES}
                               THEN GREATEST(e.doc_a, e.doc_b) END)
             AS n_docs_dropped
    FROM est e CROSS JOIN (SELECT UNNEST([{", ".join(map(str, _THRESHOLDS))}]) AS thr) t
    GROUP BY t.thr
    """,
)
def e79_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 tuning surface: THRESHOLD SENSITIVITY of the near-dup gate —
    for each candidate threshold (50..90% estimated Jaccard), how many
    candidate pairs survive and how many documents the keep-lowest-id
    policy would drop. One pass over the e02f agreement counts serves
    every threshold (a 5-row broadcast explode, NOT five re-scans) —
    the knob-tuning table a dedup rollout reviews before committing a
    threshold corpus-wide. Exactness: the comparison is all-integer
    (k*100 >= thr*64 — no float threshold anywhere), so the
    cross-engine hash pins every bucket boundary.

    Scale: candidate generation is the audited e02b shape; the sweep
    adds a bounded x5 row expansion and one grouped aggregate."""
    sigs = e02_minhash_signatures(spark, sf_dir)
    sig_arr = F.array(*[F.col(f"sig_{i}") for i in range(N_HASHES)])
    members = _capped_members(
        _long_bands(sigs, sig_arr.alias("sig")),
        F.struct(F.col("doc_id"), F.col("sig")),
    )
    est = _bucket_pairs(
        members,
        "struct(m.doc_id AS doc_a, n.doc_id AS doc_b, "
        "size(filter(zip_with(m.sig, n.sig, (x, y) -> x = y), "
        "eq -> eq)) AS k)",
    )
    thr = F.explode(F.array(*[F.lit(t) for t in _THRESHOLDS])).alias(
        "threshold_pct"
    )
    hit = F.col("k") * 100 >= F.col("threshold_pct") * N_HASHES
    return (
        est.select("doc_a", "doc_b", "k", thr)
        .groupBy("threshold_pct")
        .agg(
            F.count(F.when(hit, 1)).alias("n_pairs"),
            F.countDistinct(
                F.when(hit, F.greatest("doc_a", "doc_b"))
            ).alias("n_docs_dropped"),
        )
    )


#: exact-substring dedup span length (tokens) — Lee et al. 2022 use 50
#: BPE tokens at corpus scale; 8 word-tokens keeps the synthetic
#: corpus (±60-token docs) meaningfully exercised at the same shape.
SUBSTR_K = 8

#: shared boilerplate planted on every 5th doc so the rewrite always
#: has real work (web corpora carry exactly this: footers, license
#: blurbs, nav text duplicated verbatim across pages)
_BOILERPLATE = (
    "all rights reserved terms of service apply contact the site "
    "administrator for takedown requests"
)


@query(
    "e80_substring_dedup",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split(LOWER(CASE WHEN doc_id % 5 = 0
                  THEN text || ' {_BOILERPLATE}' ELSE text END), ' ') AS toks
      FROM documents
    ), tn AS (
      SELECT doc_id, toks, len(toks) AS n FROM t
    ), sh AS (
      SELECT doc_id, CAST(i AS INTEGER) AS pos,
             md5(array_to_string(
               toks[CAST(i AS INTEGER):CAST(i AS INTEGER) + {SUBSTR_K - 1}],
               ' ')) AS h
      FROM tn, UNNEST(range(1, n - {SUBSTR_K} + 2)) AS u(i)
      WHERE n >= {SUBSTR_K}
    ), dup AS (
      SELECT h FROM (
        SELECT h, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY h
      ) WHERE df >= 2
    ), covered AS (
      SELECT DISTINCT sh.doc_id, CAST(cp.cpos AS INTEGER) AS cpos
      FROM sh JOIN dup USING (h),
           UNNEST(range(sh.pos, sh.pos + {SUBSTR_K})) AS cp(cpos)
    ), tokpos AS (
      SELECT doc_id, CAST(i AS INTEGER) AS pos, toks[CAST(i AS INTEGER)] AS tok
      FROM tn, UNNEST(range(1, n + 1)) AS u(i)
    ), cleaned AS (
      SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.pos) AS ctext
      FROM tokpos tp
      LEFT JOIN covered c ON c.doc_id = tp.doc_id AND c.cpos = tp.pos
      WHERE c.cpos IS NULL
      GROUP BY tp.doc_id
    )
    SELECT tn.doc_id, tn.n AS n_tokens,
           COALESCE(cv.n_dup, 0) AS n_dup_tokens,
           ROUND(COALESCE(cv.n_dup, 0) * 1.0 / tn.n, 6) AS dup_frac,
           md5(COALESCE(cl.ctext, '')) AS cleaned_md5
    FROM tn
    LEFT JOIN (SELECT doc_id, COUNT(*) AS n_dup FROM covered GROUP BY doc_id)
      cv USING (doc_id)
    LEFT JOIN cleaned cl USING (doc_id)
    """,
)
def e80_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: EXACT-SUBSTRING dedup with rewrite — the corpus-wide span
    remover of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"): any K-token span occurring verbatim in
    >= 2 distinct documents is cut from EVERY document, and the doc is
    kept with the duplicated spans excised (vs e01/e02 which drop
    whole documents, and e36 which only probes candidate PAIRS). The
    builder plants a shared boilerplate sentence on every 5th doc —
    the web-footer case this operator exists for — and the output
    carries per-doc token counts, duplicated-token fraction, and the
    md5 of the rewritten text so the oracle hash proves the exact
    rewrite, not just the counts. Pipeline: :func:`substring_dedup`
    (also fixture-tested against hand-computed excisions).

    Reference basis: the reference replicates documents verbatim
    (README.md:93); this is the curation pass a training pipeline
    runs on that replica. Span-hash convention shared with e36
    (llm_dedup.py SPAN_LENGTHS md5 windows)."""
    d = load(spark, sf_dir, "documents")
    text = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" " + _BOILERPLATE))
    ).otherwise(F.col("text"))
    return substring_dedup(d.select("doc_id", text.alias("text")))


def substring_dedup(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """Corpus-wide exact-substring dedup over any (doc_id, text)
    frame: every k-token span verbatim in >= 2 distinct docs is
    excised from all of them; returns (doc_id, n_tokens,
    n_dup_tokens, dup_frac, cleaned_md5) where cleaned_md5 hashes the
    rewritten text.

    Plan: tokenize once; K-shingle starts via transform(sequence) +
    1 explode; shingle DF = one groupBy on the 128-bit span hash
    (uniform key, no skew); duplicated-span starts come back by hash
    join (no broadcast — the dup set scales with the corpus);
    coverage expansion is a bounded K-row explode per dup start;
    per-doc coverage is a collect_set bounded by the doc's own token
    count (same order as holding the doc itself); the rewrite is a
    JVM-side filter-by-index + concat_ws, no Python. At 100 TB:
    suffix-array exactness at shingle granularity, 2 shuffles
    (DF + coverage), everything else embarrassingly parallel."""
    t = fan_out(
        docs.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    ).withColumn("n", F.size("toks"))

    sh = (
        t.filter(F.col("n") >= k)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - (k - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(F.concat_ws(" ", F.slice("toks", i, k))).alias("h"),
                    ),
                )
            ).alias("s"),
        )
        .select("doc_id", "s.pos", "s.h")
    )
    dup = (
        sh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("h")
    )
    covered = (
        sh.join(dup, "h")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (k - 1))
            ).alias("cpos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("cpos").alias("cov"))
    )
    out = t.join(covered, "doc_id", "left").withColumn(
        "cov", F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    )
    cleaned = F.concat_ws(
        " ",
        F.filter("toks", lambda tok, i: ~F.array_contains("cov", i + 1)),
    )
    return out.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.size("cov").alias("n_dup_tokens"),
        F.round(F.size("cov") / F.col("n"), 6).alias("dup_frac"),
        F.md5(cleaned).alias("cleaned_md5"),
    )


#: exact-Jaccard thresholds (in %) for the candidate-precision sweep
_PRECISION_THRESHOLDS = (20, 35, 50, 65, 80)


@query(
    "e81_lsh_precision",
    oracle=_HASHED_CTE
    + f"""
    , dfc AS (SELECT h, COUNT(*) AS df FROM hashed GROUP BY h)
    , keep AS (
        SELECT hashed.doc_id, hashed.h
        FROM hashed JOIN dfc ON hashed.h = dfc.h
        WHERE dfc.df <= {SHINGLE_DF_CAP}
    )
    , sizes AS (SELECT doc_id, COUNT(*) AS n FROM keep GROUP BY doc_id)
    , inter AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    , cand AS ({_CAND_SQL})
    , scored AS (
        SELECT c.doc_a, c.doc_b,
               CAST(COALESCE(inter.i, 0) AS DOUBLE)
                 / (sa.n + sb.n - COALESCE(inter.i, 0)) AS jac
        FROM cand c
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        LEFT JOIN inter ON inter.da = c.doc_a AND inter.db = c.doc_b
    )
    SELECT t.threshold_pct,
           COUNT(*) AS n_cand,
           COUNT(*) FILTER (jac * 100 >= t.threshold_pct) AS n_precise,
           CAST(COUNT(*) FILTER (jac * 100 >= t.threshold_pct) AS DOUBLE)
             / NULLIF(COUNT(*), 0) AS precision
    FROM scored,
         (SELECT UNNEST([{", ".join(map(str, _PRECISION_THRESHOLDS))}])
            AS threshold_pct) t
    GROUP BY t.threshold_pct
    """,
)
def e81_lsh_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 measurement harness: PRECISION of the MinHash-LSH candidate
    generator — e50's recall answers "what does the banding miss?";
    this answers "how much verification work do the candidates cost?"
    Every e02b candidate pair is scored with its EXACT df-capped
    shingle Jaccard (the e50 inverted-index construction — pairs
    sharing no kept shingle score 0 via the left join), then a sweep
    over exact-Jaccard thresholds reports what fraction of candidates
    are true near-dups at each operating point. Together e50+e81 are
    the recall/precision pair a corpus team tunes (bands, rows,
    caps) against before a 100 TB run: low precision means the
    verify stage (e02c/e24) burns compute on false candidates.

    Scale: candidates and exact scores both ride the same df/bucket
    capped equi-joins as e50 (no all-pairs anywhere); the sweep is a
    {len(_PRECISION_THRESHOLDS)}-row explode over the candidate list,
    grouped once."""
    cand = e02b_minhash_lsh_pairs(spark, sf_dir)
    hashed = _shingle_hashes(load(spark, sf_dir, "documents"))
    dfc = hashed.groupBy("h").agg(F.count("*").alias("df"))
    keep = hashed.join(
        dfc.filter(F.col("df") <= SHINGLE_DF_CAP).select("h"), "h"
    )
    sizes = keep.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = keep.select(F.col("doc_id").alias("da"), "h")
    b = keep.select(F.col("doc_id").alias("db"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(
            inter,
            (F.col("doc_a") == F.col("da")) & (F.col("doc_b") == F.col("db")),
            "left",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.coalesce(F.col("i"), F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0)))
            ).alias("jac"),
        )
    )
    thr = F.explode(
        F.array(*[F.lit(t) for t in _PRECISION_THRESHOLDS])
    ).alias("threshold_pct")
    hit = F.col("jac") * 100 >= F.col("threshold_pct")
    return (
        scored.select("jac", thr)
        .groupBy("threshold_pct")
        .agg(
            F.count("*").alias("n_cand"),
            F.count(F.when(hit, 1)).alias("n_precise"),
            (
                F.count(F.when(hit, 1)).cast("double")
                / F.nullif(F.count("*"), F.lit(0))
            ).alias("precision"),
        )
    )


# ---------------------------------------------------------------------------
# E84: SimHash near-dup JOIN via the Manku block index (Manku,
# Jain & Das Sarma, WWW 2007 — the Google web-crawl simhash dedup).
# e02d computes fingerprints; this finds the PAIRS at scale: split
# the 60-bit fingerprint into 4 contiguous 15-bit blocks — any pair
# within Hamming distance <= 3 must agree EXACTLY on >= 1 block
# (pigeonhole: 4 blocks, at most 3 differing bits), so candidates
# come from four equi-joins on (block_id, block_value), never an
# all-pairs bit comparison. The complement of MinHash-LSH (e02b):
# one 8-byte fingerprint per doc instead of 64, radius semantics
# instead of Jaccard-threshold semantics.
# ---------------------------------------------------------------------------

#: Hamming radius for e84 pair verification. 3 is the Manku paper's
#: operating point; with 4 blocks the pigeonhole candidate rule is
#: EXACT for radius <= 3 (recall 1.0 by construction, no tuning).
SIMHASH_RADIUS = int(os.environ.get("SPARK_GRAFT_SIMHASH_RADIUS", "3"))

_SH_BITS = 60  # mh64 width; 4 x 15-bit blocks
_SH_BLOCKS = 4
_SH_BLOCK_BITS = _SH_BITS // _SH_BLOCKS

_SH_W_SQL = ", ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS w{b}"
    for b in range(_SH_BITS)
)
_SH_SUM_SQL = " + ".join(
    f"CASE WHEN w{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    for b in range(_SH_BITS)
)

_E84_SQL = f"""
    WITH occ AS (
      SELECT doc_id, {_MH64('token')} AS h
      FROM (SELECT doc_id, UNNEST(string_split(LOWER(text), ' ')) AS token
            FROM documents)
    ), w AS (
      SELECT doc_id, {_SH_W_SQL}
      FROM occ GROUP BY doc_id
    ), sim AS (
      SELECT doc_id, CAST({_SH_SUM_SQL} AS BIGINT) AS s FROM w
    ), blocks AS (
      SELECT doc_id, s, b.i AS block_id,
             (s >> ({_SH_BLOCK_BITS} * b.i)) & {(1 << _SH_BLOCK_BITS) - 1} AS block_val
      FROM sim CROSS JOIN (SELECT UNNEST(range(0, {_SH_BLOCKS})) AS i) b
    ), sized AS (
      SELECT block_id, block_val, COUNT(*) AS n
      FROM blocks GROUP BY block_id, block_val
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.s AS sa, b.s AS sb
      FROM blocks a
      JOIN blocks b
        ON a.block_id = b.block_id AND a.block_val = b.block_val
       AND a.doc_id < b.doc_id
      JOIN sized z
        ON z.block_id = a.block_id AND z.block_val = a.block_val
      WHERE z.n <= {LSH_BUCKET_CAP}
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {SIMHASH_RADIUS}
"""


def _simhash60(d: DataFrame) -> DataFrame:
    """(doc_id, s): 60-bit SimHash over whitespace tokens. Per-token
    OCCURRENCE sign votes (summing +-1 per occurrence == summing
    +-tf per distinct token, so the (doc, token) tf pre-aggregate
    e02d pays is skipped): the 60 conditional sums run as ONE
    partial-aggregated groupBy(doc_id) — one shuffle carrying 60
    ints per doc, no bit explode, no (doc, token) exchange."""
    occ = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), " ")).alias("token"),
    ).withColumn("h", _mh64("token"))
    aggs = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"w{b}")
        for b in range(_SH_BITS)
    ]
    per_doc = occ.groupBy("doc_id").agg(*aggs)
    sim = None
    for b in range(_SH_BITS):
        term = F.when(F.col(f"w{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = term if sim is None else sim + term
    return per_doc.select("doc_id", sim.cast("bigint").alias("s"))


@query("e84_simhash_hamming_join", oracle=_E84_SQL)
def e84_simhash_hamming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E84: SimHash Hamming-radius dedup join (Manku et al. 2007).
    60-bit per-doc fingerprints -> 4 x 15-bit block keys -> candidate
    pairs by (block_id, block_value) equi-join (pigeonhole-exact for
    radius <= 3) -> verify popcount(xor) <= SIMHASH_RADIUS. Bucket
    discipline is e02b's verbatim (shared `_capped_members` /
    `_bucket_pairs`, LSH_BUCKET_CAP bound BEFORE membership
    collection), so a degenerate block cell — every near-identical
    doc votes the same 15 bits — bounds the worst task at O(cap^2).

    Scale: fingerprints are one map-side pass + one groupBy(doc_id)
    shuffle of 60 ints; the block index carries 4 rows of 2 bigints
    per doc (vs 16 x 65 for e02b's band rows — the 32x storage trade
    the paper exists for); verification is one integer xor per
    candidate, no re-tokenization, no signature re-join."""
    d = load(spark, sf_dir, "documents")
    sim = _simhash60(d)
    mask = (1 << _SH_BLOCK_BITS) - 1
    blocks = sim.select(
        F.struct("doc_id", "s").alias("m"),
        F.explode(
            F.array(*[F.lit(b) for b in range(_SH_BLOCKS)])
        ).alias("band_id"),
    ).select(
        "m",
        "band_id",
        F.expr(
            f"shiftright(m.s, {_SH_BLOCK_BITS} * band_id) & {mask}"
        ).alias("bucket"),
    )
    members = _capped_members(blocks, F.col("m"))
    pairs = _bucket_pairs(
        members,
        "struct(m.doc_id as doc_a, n.doc_id as doc_b, m.s as sa, n.s as sb)",
    ).dropDuplicates(["doc_a", "doc_b"])
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        pairs.filter(hamming <= SIMHASH_RADIUS)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
    )
