"""Input generators and reference model of the benchmark (no Spark).

    python3 -m pytest perfbench/tests -q
"""

import hashlib
from collections import Counter
from pathlib import Path

import pytest

import gen
from model import Model, canonical, state_digest
from run import tail


def _tree_digest(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*")) if p.is_file()
    }


def _inputs(seed: int, root: Path) -> dict[str, str]:
    items = gen.make_items(seed, 300, 4)
    gen.write_export(items, root / "json", "e1", "DYNAMODB_JSON")
    gen.write_export(items, root / "ion", "e1", "ION")
    cg = gen.ChangeGenerator(seed, items, 4)
    for i in range(3):
        gen.write_changelog_file(root / f"log-{i}.json", cg.batch(200))
    r = gen.rng(seed, "analyst")
    (root / "dml.sql").write_text("\n".join(
        gen.dml_statement(k, "bench.orders", "k0000001", "r01", r)[0] for k in gen.DML_KINDS))
    (root / "order.txt").write_text(str(gen.delivery_order(40, seed)))
    return _tree_digest(root)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _inputs(7, tmp_path / "a")
    b = _inputs(7, tmp_path / "b")
    c = _inputs(8, tmp_path / "c")
    assert a == b
    assert a != c
    assert any(k.endswith(".ion.gz") for k in a) and any(k.endswith(".json.gz") for k in a)


def test_export_manifests_agree_with_shards(tmp_path):
    import gzip
    import json

    items = gen.make_items(3, 101, 4)
    d = gen.write_export(items, tmp_path, "e1", "DYNAMODB_JSON", shards=4)
    summary = json.loads((d / "manifest-summary.json").read_text())
    entries = [json.loads(x) for x in (d / "manifest-files.json").read_text().splitlines()]
    assert summary["itemCount"] == 101 == sum(e["itemCount"] for e in entries)
    seen = {}
    for e in entries:
        lines = gzip.decompress((tmp_path / e["dataFileS3Key"]).read_bytes()).decode().splitlines()
        assert len(lines) == e["itemCount"]
        for line in lines:
            item = json.loads(line)["Item"]
            seen[item["pk"]["S"]] = (item["region"]["S"], int(item["qty"]["N"]),
                                     int(item["amount"]["N"]), item["status"]["S"],
                                     item["note"]["S"])
    assert seen == items


def test_ion_export_round_trips_through_the_engine_codec(tmp_path):
    import gzip
    import json

    from dynamodb_zero_etl_s3tables_spark.functions.ion import ion_to_item_json

    items = gen.make_items(5, 20, 2)
    d = gen.write_export(items, tmp_path, "e1", "ION", shards=1)
    lines = gzip.decompress((d / "data" / "shard-0000.ion.gz").read_bytes()).decode().splitlines()
    for line, (pk, img) in zip(lines, items.items()):
        assert json.loads(ion_to_item_json(line)) == json.loads(gen.item_wire(pk, img))["Item"]


def test_change_batches_are_legal_and_follow_the_mix():
    items = gen.make_items(1, 20000, 16)
    cg = gen.ChangeGenerator(1, items, 16)
    live = {pk: img[0] for pk, img in items.items()}
    ops, dups, regions_per_batch = Counter(), 0, []
    last_seq = 0
    for _ in range(20):
        batch = cg.batch(1000)
        seen = set()
        for c in batch:
            assert c["seq"] > last_seq and c["ts"] == gen.ts_of(c["seq"])
            last_seq = c["seq"]
            ops[c["op"]] += 1
            dups += c["pk"] in seen
            seen.add(c["pk"])
            if c["op"] == "INSERT":
                assert c["pk"] not in live
                live[c["pk"]] = c["region"]
            else:
                assert live.get(c["pk"]) == c["region"]  # live, same partition
                if c["op"] == "REMOVE":
                    del live[c["pk"]]
        regions_per_batch.append(len({c["region"] for c in batch}))
    n = sum(ops.values())
    assert 0.62 < ops["MODIFY"] / n < 0.75
    assert 0.12 < ops["INSERT"] / n < 0.20 and 0.12 < ops["REMOVE"] / n < 0.20
    assert 0.08 < dups / n < 0.16
    assert max(regions_per_batch) <= 3  # a batch lands on a few hot partitions
    assert sorted(cg.pos) == sorted(live)  # the generator's view of live keys


def _c(op, pk, seq, qty=1, region="r00"):
    img = (None,) * 4 if op == "REMOVE" else (qty, 10, "new", "x")
    return dict(op=op, pk=pk, seq=seq, ts=gen.ts_of(seq), region=region,
                **dict(zip(("qty", "amount", "status", "note"), img)))


def test_model_last_writer_wins_within_a_batch():
    m = Model({"a": ("r00", 1, 10, "new", "x")})
    m.apply([_c("MODIFY", "a", 5, qty=5), _c("MODIFY", "a", 3, qty=3),
             _c("INSERT", "b", 7, qty=7), _c("REMOVE", "b", 8)])
    assert m.rows == {"a": ("r00", 5, 10, "new", "x")}


def test_model_ts_orders_before_seq():
    # ts ties are broken by seq; a larger ts wins over a larger seq
    a = _c("MODIFY", "a", 9, qty=9)
    b = _c("MODIFY", "a", 2, qty=2)
    b["ts"] = a["ts"] + 1
    m = Model({})
    m.apply([a, b])
    assert m.rows["a"][1] == 2
    c, d = _c("MODIFY", "a", 20, qty=20), _c("MODIFY", "a", 21, qty=21)
    assert c["ts"] == d["ts"]
    m.apply([d, c])
    assert m.rows["a"][1] == 21


def test_model_remove_then_reinsert_across_batches():
    m = Model({"a": ("r00", 1, 10, "new", "x")})
    m.apply([_c("REMOVE", "a", 1)])
    assert "a" not in m.rows
    m.apply([_c("INSERT", "a", 2, qty=4)])
    assert m.rows["a"][1] == 4


def test_model_out_of_order_files_converge_to_one_big_batch():
    newer = [_c("MODIFY", "a", 10, qty=10), _c("REMOVE", "b", 11)]
    older = [_c("MODIFY", "a", 4, qty=4), _c("MODIFY", "b", 5, qty=5),
             _c("INSERT", "c", 6, qty=6)]
    base = {"a": ("r00", 1, 10, "new", "x"), "b": ("r00", 1, 10, "new", "x")}
    tolerant = Model(base)
    tolerant.apply(newer, tolerate_out_of_order=True)
    tolerant.apply(older, tolerate_out_of_order=True)  # late file
    big = Model(base)
    big.apply(older + newer)
    assert tolerant.rows == big.rows
    assert tolerant.rows["a"][1] == 10 and "b" not in tolerant.rows and "c" in tolerant.rows
    # without tolerance the late file resurrects b and rolls a back
    naive = Model(base)
    naive.apply(newer)
    naive.apply(older)
    assert naive.rows["a"][1] == 4 and "b" in naive.rows


def test_every_run_lands_the_same_share_of_files_late():
    # a run of the stream has few files: the late share must not hang on
    # the seed, or most runs would deliver everything in order
    for seed in range(50):
        order = gen.delivery_order(3, seed)
        assert sorted(order) == [0, 1, 2] and gen.late_files(order) == 1
        assert gen.late_files(gen.delivery_order(7, seed)) == 2


def test_generated_stream_converges_under_its_delivery_order():
    items = gen.make_items(2, 2000, 8)
    cg = gen.ChangeGenerator(2, items, 8)
    files = [cg.batch(300) for _ in range(30)]
    order = gen.delivery_order(len(files), 2)
    assert sorted(order) == list(range(30)) and order != list(range(30))
    # a late file lands after one that carries newer changes
    late = sum(1 for k, i in enumerate(order) if any(j > i for j in order[:k]))
    assert late == gen.late_files(order) == len(files) // gen.LATE_EVERY
    tolerant = Model(items)
    for i in order:
        tolerant.apply(files[i], tolerate_out_of_order=True)
    big = Model(items)
    big.apply([c for f in files for c in f])
    assert state_digest(tolerant.rows.items()) == state_digest(big.rows.items())


def test_model_dml_effects_and_versions():
    m = Model({"a": ("r00", 1, 10, "new", "x"), "b": ("r01", 2, 20, "paid", "y")})
    m.keep_version()
    m.apply_dml({"kind": "update", "pk": "a", "qty_add": 3, "status": "paid"}, keep=True)
    m.apply_dml({"kind": "delete", "pk": "b"}, keep=True)
    m.apply_dml({"kind": "merge", "pk": "c", "image": ("r02", 5, 50, "new", "z")}, keep=True)
    assert m.version == 4
    assert m.rows == {"a": ("r00", 4, 10, "paid", "x"), "c": ("r02", 5, 50, "new", "z")}
    assert m.state(1)["b"] == ("r01", 2, 20, "paid", "y")
    assert m.changes(1, 4) == {"MODIFY": 1, "REMOVE": 1, "INSERT": 1}
    assert m.changes(3, 4) == {"INSERT": 1}


def test_state_digest_is_order_insensitive_and_type_tolerant():
    from decimal import Decimal

    rows = [("a", ("r00", 1, 10, "new", "x")), ("b", ("r01", 2, 20, "paid", "y"))]
    spark_like = [("b", ("r01", Decimal("2.000"), Decimal("20"), "paid", "y")), rows[0]]
    assert state_digest(rows) == state_digest(spark_like)
    assert canonical(*rows[0]) == "a|r00|1|10|new|x"


@pytest.mark.parametrize("n,label", [(5, "max"), (19, "max"), (20, "p50"), (40, "p75"),
                                     (100, "p90"), (1000, "p99")])
def test_tail_keeps_ten_samples_beyond(n, label):
    value, got, count = tail([float(i) for i in range(n)])
    assert (got, count) == (label, n)
    assert sum(1 for i in range(n) if i > value) >= 10 or label == "max"
