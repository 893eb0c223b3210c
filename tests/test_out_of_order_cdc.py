"""Out-of-order CDC tolerance (r8 verdict #2): a file changelog whose
batches arrive in ANY order must converge to the one-big-batch LWW
merge when ``tolerate_out_of_order=True`` — in particular a stale
MODIFY delivered after its key's REMOVE must not resurrect the row,
and a stale REMOVE must not delete a newer image.
"""

import json
import os

from pyspark.sql import types as T

from dynamodb_zero_etl_s3tables_spark.spec import TableSpec
from dynamodb_zero_etl_s3tables_spark.streaming.cdc import (
    VersionState,
    apply_changes_stream,
    changelog_schema,
    read_changelog_stream,
)
from dynamodb_zero_etl_s3tables_spark.table.manifest import ManagedTable
from dynamodb_zero_etl_s3tables_spark.table.merge import merge_changes

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("pk", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("price", T.DoubleType()),
    ]
)


def _write_batch(path, rows, mtime):
    """One changelog file with a PINNED mtime — the file source orders
    batches by modification time, so pinning mtimes makes the arrival
    order deterministic (and lets a test deliver the logically-newer
    file FIRST)."""
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(path, (mtime, mtime))


#: logically NEWER wave (seq=2) — delivered FIRST
WAVE_NEW = [
    {"op": "MODIFY", "seq": 2, "pk": 1, "status": "winner", "price": 100.0},
    {"op": "REMOVE", "seq": 2, "pk": 2, "status": None, "price": None},
    {"op": "MODIFY", "seq": 2, "pk": 3, "status": "kept", "price": 30.0},
]
#: logically OLDER wave (seq=1) — delivered SECOND (stale), plus one
#: genuinely fresh INSERT that must still apply out of the same batch
WAVE_OLD = [
    {"op": "MODIFY", "seq": 1, "pk": 1, "status": "stale", "price": -1.0},
    {"op": "MODIFY", "seq": 1, "pk": 2, "status": "zombie", "price": -2.0},
    {"op": "REMOVE", "seq": 1, "pk": 3, "status": None, "price": None},
    {"op": "INSERT", "seq": 1, "pk": 4, "status": "fresh", "price": 40.0},
]


def _spec(name):
    return TableSpec(
        namespace="ns", name=name, key_columns=("pk",), order_columns=("seq",)
    )


def _bootstrap(spark, warehouse, name):
    t = ManagedTable(spark, warehouse, _spec(name))
    t.bootstrap(
        spark.createDataFrame(
            [(1, "base", 1.0), (2, "base", 2.0), (3, "base", 3.0)], IMAGE_SCHEMA
        )
    )
    return t


def _drain(spark, table, log_dir, ckpt, **kw):
    stream = read_changelog_stream(
        spark, str(log_dir), changelog_schema(IMAGE_SCHEMA), max_files_per_trigger=1
    )
    q = apply_changes_stream(table, stream, str(ckpt), **kw)
    assert q.awaitTermination(180)


def test_reversed_arrival_converges_to_big_batch_merge(spark, warehouse, tmp_path):
    """The newer wave arrives first, the stale wave second; the final
    table equals one LWW merge of the concatenated log (arrival-order
    independence), which the old per-batch merge provably violates."""
    log_dir = tmp_path / "log"
    _write_batch(log_dir / "b_new.json", WAVE_NEW, mtime=1_000_000)
    _write_batch(log_dir / "b_old.json", WAVE_OLD, mtime=1_000_100)

    t = _bootstrap(spark, warehouse, "ooo")
    _drain(spark, t, log_dir, tmp_path / "ckpt", tolerate_out_of_order=True)
    got = {r.pk: (r.status, r.price) for r in t.read().collect()}

    full_log = spark.read.schema(changelog_schema(IMAGE_SCHEMA)).json(str(log_dir))
    base = spark.createDataFrame(
        [(1, "base", 1.0), (2, "base", 2.0), (3, "base", 3.0)], IMAGE_SCHEMA
    )
    expected_df = merge_changes(base, full_log, keys=["pk"], order_cols=["seq"])
    expected = {r.pk: (r.status, r.price) for r in expected_df.collect()}

    assert got == expected
    assert got[1] == ("winner", 100.0)  # stale MODIFY suppressed
    assert 2 not in got                 # stale MODIFY after REMOVE: no zombie
    assert got[3] == ("kept", 30.0)     # stale REMOVE cannot delete newer image
    assert got[4] == ("fresh", 40.0)    # fresh part of the stale batch applies


def test_without_tolerance_reversed_arrival_diverges(spark, warehouse, tmp_path):
    """Meta-check that the scenario actually exercises the hazard: the
    DEFAULT sink (ordering contract assumed) produces the wrong state
    on the same reversed feed — the test above is not vacuous."""
    log_dir = tmp_path / "log"
    _write_batch(log_dir / "b_new.json", WAVE_NEW, mtime=1_000_000)
    _write_batch(log_dir / "b_old.json", WAVE_OLD, mtime=1_000_100)

    t = _bootstrap(spark, warehouse, "ooo_default")
    _drain(spark, t, log_dir, tmp_path / "ckpt")
    got = {r.pk: (r.status, r.price) for r in t.read().collect()}
    assert got[2] == ("zombie", -2.0)  # resurrected — the documented hazard
    assert 3 not in got                # newer image deleted by stale REMOVE


def test_out_of_order_on_partitioned_table(spark, warehouse, tmp_path):
    """VersionState composes with the PARTITIONED pruned-merge path:
    the admitted-rows filter runs BEFORE partition pruning, so the
    touched-partition set is computed from admitted rows only — a
    batch whose every row for a partition is stale leaves that
    partition carried by reference, while its fresh sub-wave still
    lands. (Changelog contract: partition values are stable per key
    and present on every row, REMOVEs included.)"""
    wave_new = [  # seq 2 — delivered FIRST
        {"op": "MODIFY", "seq": 2, "pk": 1, "status": "A", "price": 100.0},
        {"op": "REMOVE", "seq": 2, "pk": 3, "status": "B", "price": None},
    ]
    wave_old = [  # stale seq 1 + one fresh INSERT — delivered SECOND
        {"op": "MODIFY", "seq": 1, "pk": 1, "status": "A", "price": -1.0},
        {"op": "MODIFY", "seq": 1, "pk": 3, "status": "B", "price": -3.0},
        {"op": "INSERT", "seq": 1, "pk": 4, "status": "B", "price": 40.0},
    ]
    log_dir = tmp_path / "log"
    _write_batch(log_dir / "b_new.json", wave_new, mtime=1_000_000)
    _write_batch(log_dir / "b_old.json", wave_old, mtime=1_000_100)
    t = ManagedTable(
        spark,
        warehouse,
        TableSpec(
            namespace="ns", name="ooo_part", key_columns=("pk",),
            order_columns=("seq",), partition_columns=("status",),
        ),
    )
    t.bootstrap(
        spark.createDataFrame(
            [(1, "A", 1.0), (2, "A", 2.0), (3, "B", 3.0)], IMAGE_SCHEMA
        )
    )
    _drain(spark, t, log_dir, tmp_path / "ckpt", tolerate_out_of_order=True)
    got = {r.pk: (r.status, r.price) for r in t.read().collect()}
    assert got == {
        1: ("A", 100.0),  # stale MODIFY suppressed
        2: ("A", 2.0),    # untouched
        4: ("B", 40.0),   # fresh INSERT riding the stale batch
    }  # pk=3: REMOVE wins; the stale MODIFY cannot resurrect it
    # batch 2's admitted rows touch only partition B, so A is carried
    # by reference (same dir) instead of rewritten
    hist = t.history()
    a_dirs = [
        {e["values"]["status"]: e["dir"] for e in s.partitions}.get("A")
        for s in hist[-2:]
    ]
    assert a_dirs[0] == a_dirs[1]


def test_out_of_order_restart_is_idempotent(spark, warehouse, tmp_path):
    """H8 x VersionState: restarting the drained stream on the same
    checkpoint commits nothing (state snapshots for replayed batch ids
    are skipped, prior snapshots are re-read); a NEW stale file after
    restart is filtered by the persisted state."""
    log_dir = tmp_path / "log"
    _write_batch(log_dir / "b_new.json", WAVE_NEW, mtime=1_000_000)

    t = _bootstrap(spark, warehouse, "ooo_restart")
    ckpt = tmp_path / "ckpt"
    _drain(spark, t, log_dir, ckpt, tolerate_out_of_order=True)
    v1 = t.version

    _drain(spark, t, log_dir, ckpt, tolerate_out_of_order=True)
    assert t.version == v1  # replay: no new commits

    _write_batch(log_dir / "b_old.json", WAVE_OLD, mtime=1_000_100)
    _drain(spark, t, log_dir, ckpt, tolerate_out_of_order=True)
    got = {r.pk: (r.status, r.price) for r in t.read().collect()}
    assert got[1] == ("winner", 100.0)
    assert 2 not in got
    assert got[3] == ("kept", 30.0)
    assert got[4] == ("fresh", 40.0)


def test_version_state_watermark_gc(spark, tmp_path):
    """late_delay pairs a late-arrival drop with state forgetting: a
    row below the watermark is rejected, entries below the watermark
    leave the snapshot, and the global max survives GC so the
    watermark keeps advancing."""
    st = VersionState(
        spark,
        str(tmp_path / "state"),
        keys=("pk",),
        order_cols=("seq",),
        late_delay=10,
        compact_every=1,  # full snapshot per batch: GC visible per batch
    )
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "pk long, seq long, status string"
    )
    # batch 0: seq spread 1..100 -> watermark after this batch is 90
    b0 = mk([(1, 1, "a"), (2, 50, "b"), (3, 100, "c")])
    out0 = st.filter_and_advance(b0, 0)
    assert out0.count() == 3  # no prior state: everything admitted
    snap = spark.read.parquet(str(tmp_path / "state" / f"state_v{0:020d}"))
    kept = {r.pk: r.seq for r in snap.collect()}
    assert kept == {3: 100}  # pk1/pk2 below watermark 90: forgotten

    # batch 1: seq=5 is later than watermark -> dropped even though
    # pk1 was forgotten; seq=150 advances pk3
    b1 = mk([(1, 5, "late"), (3, 150, "d")])
    out1 = {(r.pk, r.seq) for r in st.filter_and_advance(b1, 1).collect()}
    assert out1 == {(3, 150)}

    # stale-versus-state rejection without lateness: seq=95 for pk3 is
    # above the watermark but below pk3's applied 150 -> filtered
    b2 = mk([(3, 145, "stale")])
    assert st.filter_and_advance(b2, 2).count() == 0


def test_version_state_requires_order_columns(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="order column"):
        VersionState(spark, str(tmp_path / "s"), keys=("pk",), order_cols=())


def test_evolving_sink_out_of_order_with_new_column(spark, warehouse, tmp_path):
    """The evolving sink shares the VersionState filter: a stale wave
    delivered second cannot resurrect/clobber, while a NEW COLUMN
    riding the same late file still evolves the schema through its
    fresh rows (state filtering and additive evolution compose)."""
    from dynamodb_zero_etl_s3tables_spark.streaming.cdc import (
        apply_changes_stream_evolving,
        read_raw_changelog_stream,
    )

    log_dir = tmp_path / "log"
    _write_batch(
        log_dir / "b_new.json",
        [
            {"op": "MODIFY", "seq": 2, "pk": 1, "status": "winner"},
            {"op": "REMOVE", "seq": 2, "pk": 2},
        ],
        mtime=1_000_000,
    )
    _write_batch(
        log_dir / "b_old.json",
        [
            # stale (seq 1): filtered entirely — including its segment
            {"op": "MODIFY", "seq": 1, "pk": 1, "status": "stale",
             "segment": "zombie"},
            {"op": "MODIFY", "seq": 1, "pk": 2, "status": "zombie",
             "segment": "zombie"},
            # fresh (seq 3): applies, carrying the new column
            {"op": "INSERT", "seq": 3, "pk": 3, "status": "fresh",
             "segment": "gold"},
        ],
        mtime=1_000_100,
    )

    t = ManagedTable(spark, warehouse, _spec("ooo_evolve"))
    t.bootstrap(
        spark.createDataFrame(
            [(1, "base"), (2, "base")], "pk long, status string"
        )
    )
    raw = read_raw_changelog_stream(spark, str(log_dir), max_files_per_trigger=1)
    q = apply_changes_stream_evolving(
        t, raw, str(tmp_path / "ckpt"), tolerate_out_of_order=True
    )
    assert q.awaitTermination(180)

    got = {r.pk: (r.status, r.segment) for r in t.read().collect()}
    assert got == {
        1: ("winner", None),   # stale MODIFY filtered; no segment leak
        3: ("fresh", "gold"),  # new column evolved via the fresh row
    }


def test_version_state_composite_order_and_timestamp_delay(spark, tmp_path):
    """Two-column lexicographic version compare ((ts, seq) — equal ts
    falls through to seq) and a TIMESTAMP order column with late_delay
    in SECONDS (the datetime branch of the watermark arithmetic)."""
    import datetime

    st = VersionState(
        spark,
        str(tmp_path / "state"),
        keys=("pk",),
        order_cols=("ts", "seq"),
        late_delay=3600,  # one hour, seconds
        compact_every=1,  # full snapshot per batch: GC visible per batch
    )

    def mk(rows):
        return spark.createDataFrame(
            [
                (pk, datetime.datetime(2026, 1, 1, h, 0, 0), seq, s)
                for pk, h, seq, s in rows
            ],
            "pk long, ts timestamp, seq long, status string",
        )

    # batch 0: pk1 at (10:00, seq 5)
    assert st.filter_and_advance(mk([(1, 10, 5, "a")]), 0).count() == 1
    # same ts, lower seq -> stale; same ts, higher seq -> admitted
    got = {
        (r.pk, r.seq)
        for r in st.filter_and_advance(
            mk([(1, 10, 4, "stale"), (1, 10, 6, "newer")]), 1
        ).collect()
    }
    assert got == {(1, 6)}
    # 12:00 advances the watermark to 11:00; a 10:30 arrival is late
    assert st.filter_and_advance(mk([(2, 12, 1, "adv")]), 2).count() == 1
    assert st.filter_and_advance(mk([(3, 10, 9, "late")]), 3).count() == 0
    # state GC: only entries at/after the 11:00 watermark survive
    snap = spark.read.parquet(str(tmp_path / "state" / f"state_v{3:020d}"))
    assert {r.pk for r in snap.collect()} == {2}


# -- property law: any batching x any order == one-shot LWW merge ------------
# Drives VersionState + apply_changes directly (the merge_batch body,
# minus streaming machinery — which h27 and the drains above cover),
# so hypothesis can afford real examples.

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _changes_st():
    change = st.tuples(
        st.sampled_from(["INSERT", "MODIFY", "REMOVE"]),
        st.integers(min_value=0, max_value=5),    # pk
        st.integers(min_value=1, max_value=9),    # seq (version)
        st.sampled_from(["a", "b", "c"]),         # status payload
    )
    return st.lists(
        change, min_size=1, max_size=12,
        unique_by=lambda c: (c[1], c[2]),  # one change per (pk, seq):
        # equal versions with different images are undefined under LWW
    )


@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(changes=_changes_st(), data=st.data())
def test_any_batching_any_order_converges(spark, changes, data):
    import tempfile

    from pyspark.sql import functions as F

    # random partition of the change set into 1-4 batches, random order
    n_batches = data.draw(st.integers(min_value=1, max_value=4))
    assignment = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=n_batches - 1),
            min_size=len(changes), max_size=len(changes),
        )
    )
    order = data.draw(st.permutations(range(n_batches)))

    wh = tempfile.mkdtemp(prefix="ooolaw_")
    t = ManagedTable(spark, wh, _spec("law"))
    base = [(0, "base", 0.0), (1, "base", 0.0)]
    t.bootstrap(spark.createDataFrame(base, IMAGE_SCHEMA))

    schema = "op string, seq long, pk long, status string, price double"
    rows = [
        (op, seq, pk, s, float(seq))
        for (op, pk, seq, s) in changes
    ]
    st_dir = tempfile.mkdtemp(prefix="ooostate_")
    vs = VersionState(spark, st_dir, keys=("pk",), order_cols=("seq",))
    for bi, b in enumerate(order):
        batch_rows = [r for r, a in zip(rows, assignment) if a == b]
        if not batch_rows:
            continue
        admitted = vs.filter_and_advance(
            spark.createDataFrame(batch_rows, schema), bi
        )
        if not admitted.isEmpty():
            t.apply_changes(admitted)

    got = {r.pk: (r.status, r.price) for r in t.read().collect()}

    one_shot = merge_changes(
        spark.createDataFrame(base, IMAGE_SCHEMA),
        spark.createDataFrame(rows, schema),
        keys=["pk"],
        order_cols=["seq"],
    )
    want = {r.pk: (r.status, r.price) for r in one_shot.collect()}
    assert got == want, (changes, assignment, order, got, want)


def test_out_of_order_with_merge_on_read(spark, warehouse, tmp_path):
    """strategy='merge-on-read' x VersionState: each admitted batch is
    an O(batch) delta layer; because the filter only admits strictly
    newer rows per key, the layered LWW resolution equals the CoW
    drain and the one-shot merge for the same reversed feed."""
    log_dir = tmp_path / "log"
    _write_batch(log_dir / "b_new.json", WAVE_NEW, mtime=1_000_000)
    _write_batch(log_dir / "b_old.json", WAVE_OLD, mtime=1_000_100)

    t = _bootstrap(spark, warehouse, "ooo_mor")
    _drain(
        spark, t, log_dir, tmp_path / "ckpt",
        tolerate_out_of_order=True, strategy="merge-on-read",
    )
    got = {r.pk: (r.status, r.price) for r in t.read().collect()}
    assert got[1] == ("winner", 100.0)
    assert 2 not in got
    assert got[3] == ("kept", 30.0)
    assert got[4] == ("fresh", 40.0)
    # compaction folds the layers without changing the state
    t.compact()
    assert {r.pk: (r.status, r.price) for r in t.read().collect()} == got


# -- incremental state persistence (r10, VERDICT r9 #7) ----------------------


def test_version_state_writes_obatch_deltas(spark, tmp_path):
    """Per-batch persistence is the batch's OWN latest-per-key rows,
    not the accumulated horizon: with disjoint keys per batch, each
    delta file holds exactly that batch's keys."""
    import os

    st = VersionState(
        spark, str(tmp_path / "state"), keys=("pk",), order_cols=("seq",)
    )
    mk = lambda rows: spark.createDataFrame(rows, "pk long, seq long")  # noqa: E731
    for b, lo in enumerate([0, 100, 200]):
        st.filter_and_advance(mk([(lo + i, 1) for i in range(5)]), b)
    names = sorted(os.listdir(tmp_path / "state"))
    deltas = [n for n in names if n.startswith("delta_v")]
    assert len(deltas) == 3, names
    assert not [n for n in names if n.startswith("state_v")]  # < compact_every
    for b in range(3):
        d = spark.read.parquet(
            str(tmp_path / "state" / f"delta_v{b:020d}")
        )
        assert d.count() == 5  # O(batch), not O(horizon)


def test_version_state_compaction_folds_deltas(spark, tmp_path):
    import os

    st = VersionState(
        spark, str(tmp_path / "state"), keys=("pk",), order_cols=("seq",),
        compact_every=3,
    )
    mk = lambda rows: spark.createDataFrame(rows, "pk long, seq long")  # noqa: E731
    st.filter_and_advance(mk([(1, 1), (2, 1)]), 0)
    st.filter_and_advance(mk([(1, 2)]), 1)
    st.filter_and_advance(mk([(3, 1)]), 2)  # triggers compaction at b2
    names = sorted(os.listdir(tmp_path / "state"))
    assert f"state_v{2:020d}" in names
    snap = spark.read.parquet(str(tmp_path / "state" / f"state_v{2:020d}"))
    got = {r.pk: r.seq for r in snap.collect()}
    assert got == {1: 2, 2: 1, 3: 1}  # folded, latest-per-key
    # next round: stale row vs the folded snapshot is still rejected
    out = st.filter_and_advance(mk([(1, 2), (1, 3)]), 3)
    assert {(r.pk, r.seq) for r in out.collect()} == {(1, 3)}


def test_version_state_replay_after_compaction_crash(spark, tmp_path):
    """Crash-replay discipline across a compaction boundary: replaying
    the compacting batch must reject exactly what the first attempt
    rejected — the deltas it folded are retained until the NEXT
    compaction, so _load_before(N) still reconstructs the pre-N
    state."""
    st = VersionState(
        spark, str(tmp_path / "state"), keys=("pk",), order_cols=("seq",),
        compact_every=2,
    )
    mk = lambda rows: spark.createDataFrame(rows, "pk long, seq long")  # noqa: E731
    st.filter_and_advance(mk([(1, 5)]), 0)
    first = st.filter_and_advance(mk([(1, 4), (2, 1)]), 1)  # compacts at b1
    assert {(r.pk, r.seq) for r in first.collect()} == {(2, 1)}
    # replay of batch 1 (crash before the table merge committed):
    # same admission decision, even though state_v1 now exists
    replay = st.filter_and_advance(mk([(1, 4), (2, 1)]), 1)
    assert {(r.pk, r.seq) for r in replay.collect()} == {(2, 1)}


def test_version_state_delta_retention_bounded(spark, tmp_path):
    """Folded deltas retire one compaction late (replay safety), so
    the live delta count stays <= 2 x compact_every."""
    import os

    st = VersionState(
        spark, str(tmp_path / "state"), keys=("pk",), order_cols=("seq",),
        compact_every=2,
    )
    mk = lambda rows: spark.createDataFrame(rows, "pk long, seq long")  # noqa: E731
    for b in range(7):
        st.filter_and_advance(mk([(b, 1)]), b)
    names = sorted(os.listdir(tmp_path / "state"))
    deltas = [n for n in names if n.startswith("delta_v")]
    assert len(deltas) <= 4, names
    # and admission still sees every key ever recorded
    out = st.filter_and_advance(mk([(0, 1), (6, 1), (99, 1)]), 7)
    assert {r.pk for r in out.collect()} == {99}


# -- anti-join admission over raw deltas -------------------------------------

import random

import pytest


def _reference_admitted(applied, batch):
    """Rows strictly above the key's max applied version (a key with
    no applied version admits every row)."""
    return sorted(
        r for r in batch if r[0] not in applied or r[1:3] > applied[r[0]]
    )


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_admission_matches_python_reference_over_permuted_arrivals(
    spark, tmp_path, seed
):
    """Every batch's admitted rows equal the pure-Python reference,
    for batches drawn with duplicate keys and equal versions, versions
    over two order columns, arriving in a seeded permutation, across a
    ``compact_every=3`` boundary, and again when a batch is replayed
    under its own id."""
    rnd = random.Random(seed)
    batches = []
    for _ in range(6):
        rows = [
            (rnd.randrange(5), rnd.randrange(3), rnd.randrange(3), "x")
            for _ in range(rnd.randrange(1, 7))
        ]
        # a duplicate key inside the batch, at an equal and at a newer
        # version (ts unchanged, seq + 1)
        pk, ts, seq, _ = rows[0]
        rows += [(pk, ts, seq, "dup"), (pk, ts, seq + 1, "dup")]
        batches.append(rows)
    rnd.shuffle(batches)
    replay_ids = {2, rnd.randrange(len(batches))}  # 2 compacts at 3

    st = VersionState(
        spark, str(tmp_path / "state"), keys=("pk",), order_cols=("ts", "seq"),
        compact_every=3,
    )
    schema = "pk long, ts long, seq long, status string"
    applied: dict[int, tuple[int, int]] = {}
    for bid, rows in enumerate(batches):
        want = _reference_admitted(applied, rows)
        attempts = 2 if bid in replay_ids else 1
        for _ in range(attempts):
            got = st.filter_and_advance(spark.createDataFrame(rows, schema), bid)
            assert sorted(tuple(r) for r in got.collect()) == want, (seed, bid)
        for pk, ts, seq, _ in rows:
            applied[pk] = max(applied.get(pk, (ts, seq)), (ts, seq))
    names = os.listdir(tmp_path / "state")
    assert f"state_v{2:020d}" in names and f"state_v{5:020d}" in names


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_admission_jobs_do_not_grow_with_pending_deltas(spark, tmp_path):
    """One state relation read with its schema given: the filter, the
    delta write and the admitted-rows probe launch the same fixed
    number of jobs whether 1 or 8 deltas are pending (no per-dir
    schema inference, no fold of the state)."""
    mk = lambda rows: spark.createDataFrame(rows, "pk long, seq long").coalesce(1)  # noqa: E731
    jobs = {}
    for pending in (1, 8):
        st = VersionState(
            spark, str(tmp_path / f"state{pending}"), keys=("pk",),
            order_cols=("seq",), compact_every=100,
        )
        for b in range(pending):
            st.filter_and_advance(mk([(b, 5), (b + 100, 5)]), b)
        # one stale row against the state and one fresh key
        batch = mk([(0, 1), (999, 1)])
        jobs[pending] = _jobs_of(
            spark, f"ooo-jobs-{pending}",
            lambda: st.filter_and_advance(batch, pending).isEmpty(),
        )
    assert jobs[1] == jobs[8], jobs
    assert jobs[8] <= 3, jobs  # state broadcast, delta write, probe


def test_all_stale_and_empty_batches_commit_no_version(spark, warehouse, tmp_path):
    """A batch whose every row is stale, and a batch with no rows at
    all, leave the table's version where it was; a fresh batch after
    them still applies against the state they advanced."""
    log_dir = tmp_path / "log"
    _write_batch(log_dir / "b0.json", WAVE_NEW, mtime=1_000_000)
    stale = [r for r in WAVE_OLD if r["pk"] != 4]  # every row at or below seq 2
    _write_batch(log_dir / "b1.json", stale, mtime=1_000_100)
    _write_batch(log_dir / "b2.json", [], mtime=1_000_200)
    t = _bootstrap(spark, warehouse, "ooo_noop")
    _drain(spark, t, log_dir, tmp_path / "ckpt", tolerate_out_of_order=True)
    assert len(t.history()) == 2  # bootstrap + the first wave only
    _write_batch(
        log_dir / "b3.json",
        [{"op": "MODIFY", "seq": 3, "pk": 3, "status": "later", "price": 3.5},
         {"op": "MODIFY", "seq": 2, "pk": 1, "status": "stale", "price": 0.0}],
        mtime=1_000_300,
    )
    _drain(spark, t, log_dir, tmp_path / "ckpt", tolerate_out_of_order=True)
    assert len(t.history()) == 3
    got = {r.pk: (r.status, r.price) for r in t.read().collect()}
    assert got == {1: ("winner", 100.0), 3: ("later", 3.5)}
