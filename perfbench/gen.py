"""Seeded input generators for the replication-and-query benchmark.

Everything here is pure Python and deterministic in ``seed``: the same
seed gives byte-identical export shards, change batches, changelog
files and DML statements. The engine only ever sees the files and
frames these functions produce.

Item shape (one DynamoDB item)::

    pk      S  "k0001234"              table key
    region  S  "r03"                   partition column, stable per key
    qty     N  0..999
    amount  N  integer cents
    status  S  one of STATUSES
    note    S  24 random letters       payload ballast

A change record adds the stream protocol fields ``op`` (INSERT /
MODIFY / REMOVE), ``ts`` (event time, ms) and ``seq`` (stream sequence
number); last-writer-wins orders by ``(ts, seq)``.
"""

from __future__ import annotations

import datetime as dt
import gzip
import io
import json
import random
import string
from pathlib import Path

STATUSES = ("new", "paid", "shipped", "returned", "cancelled")
#: decode kinds handed to ``bootstrap_export`` for the item shape above
FIELDS = {
    "pk": "string",
    "region": "string",
    "qty": "number",
    "amount": "number",
    "status": "string",
    "note": "string",
}
IMAGE_COLS = ("region", "qty", "amount", "status", "note")
#: event time of seq 0; ts advances 1 ms per 4 sequence numbers so
#: that (ts, seq) ties on ts and is broken by seq
EPOCH_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z


def rng(seed: int, purpose: str) -> random.Random:
    """An independent stream per purpose, so adding draws to one input
    never shifts another."""
    return random.Random(f"{seed}:{purpose}")


def region_name(i: int) -> str:
    return f"r{i:02d}"


def key_name(i: int) -> str:
    return f"k{i:07d}"


def ts_of(seq: int) -> int:
    return EPOCH_MS + seq // 4


def ts_iso(ms: int) -> str:
    t = dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def _image(r: random.Random, region: str) -> tuple:
    return (
        region,
        r.randrange(1000),
        r.randrange(1_000_000),
        r.choice(STATUSES),
        "".join(r.choices(string.ascii_letters, k=24)),
    )


def zipf_cum_weights(n: int, s: float = 1.1) -> list[float]:
    acc, out = 0.0, []
    for i in range(n):
        acc += 1.0 / (i + 1) ** s
        out.append(acc)
    return out


def make_items(seed: int, n_items: int, n_regions: int) -> dict[str, tuple]:
    """The source table at export time: ``pk -> (region, qty, amount,
    status, note)``. Regions are uniform here; skew lives in the
    change stream, which is where it decides what a commit rewrites."""
    r = rng(seed, "items")
    return {
        key_name(i): _image(r, region_name(r.randrange(n_regions)))
        for i in range(n_items)
    }


# ---------------------------------------------------------------------------
# PITR export writer
# ---------------------------------------------------------------------------

def item_wire(pk: str, img: tuple) -> str:
    """One DYNAMODB_JSON export line ``{"Item": {...}}``."""
    region, qty, amount, status, note = img
    item = {
        "pk": {"S": pk},
        "region": {"S": region},
        "qty": {"N": str(qty)},
        "amount": {"N": str(amount)},
        "status": {"S": status},
        "note": {"S": note},
    }
    return json.dumps({"Item": item}, separators=(",", ":"))


def _gzip_bytes(text: str) -> bytes:
    buf = io.BytesIO()
    # fixed mtime and no file name in the header: byte-identical shards
    with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0) as fh:
        fh.write(text.encode())
    return buf.getvalue()


def write_export(
    items: dict[str, tuple],
    export_root: Path,
    export_id: str,
    output_format: str = "DYNAMODB_JSON",
    shards: int = 4,
) -> Path:
    """Write a PITR-shaped export: ``AWSDynamoDB/<id>/data/*.gz`` plus
    ``manifest-summary.json`` and ``manifest-files.json``."""
    if output_format not in ("DYNAMODB_JSON", "ION"):
        raise ValueError(f"unknown export format {output_format!r}")
    to_ion = None
    if output_format == "ION":
        from dynamodb_zero_etl_s3tables_spark.functions.ion import item_json_to_ion

        to_ion = item_json_to_ion
    export_dir = export_root / "AWSDynamoDB" / export_id
    data_dir = export_dir / "data"
    data_dir.mkdir(parents=True, exist_ok=True)
    lines = [item_wire(pk, img) for pk, img in items.items()]
    if to_ion is not None:
        lines = [to_ion(line) for line in lines]
    ext = "ion.gz" if to_ion is not None else "json.gz"
    entries = []
    for s in range(shards):
        part = lines[s::shards]
        name = f"shard-{s:04d}.{ext}"
        (data_dir / name).write_bytes(_gzip_bytes("".join(p + "\n" for p in part)))
        entries.append(
            {
                "itemCount": len(part),
                "dataFileS3Key": f"AWSDynamoDB/{export_id}/data/{name}",
                "etag": f"shard-{s}",
            }
        )
    (export_dir / "manifest-files.json").write_text(
        "".join(json.dumps(e, sort_keys=True) + "\n" for e in entries)
    )
    summary = {
        "version": "2020-06-30",
        "exportArn": f"arn:aws:dynamodb:local:000000000000:table/bench/export/{export_id}",
        "tableArn": "arn:aws:dynamodb:local:000000000000:table/bench",
        "exportTime": "2026-01-01T00:00:00.000Z",
        "startTime": "2026-01-01T00:00:00.000Z",
        "endTime": "2026-01-01T00:00:00.000Z",
        "outputFormat": output_format,
        "itemCount": len(lines),
        "manifestFilesS3Key": f"AWSDynamoDB/{export_id}/manifest-files.json",
    }
    (export_dir / "manifest-summary.json").write_text(
        json.dumps(summary, indent=2, sort_keys=True)
    )
    return export_dir


# ---------------------------------------------------------------------------
# change stream
# ---------------------------------------------------------------------------

class ChangeGenerator:
    """Produces legal change batches against its own view of the source
    table: MODIFY and REMOVE hit live keys, INSERT creates a new key or
    revives a removed one in its original region.

    Traffic dimensions: the op mix (``P_INSERT``/``P_REMOVE``, the rest
    MODIFY), the in-batch duplicate share ``P_DUP`` (a second change to
    a key this batch already touched) and partition skew: each batch
    draws ``HOT`` distinct regions by Zipf(``ZIPF_S``) and spreads its
    changes over them by the same law, so a batch lands on a few hot
    partitions and the same regions stay hot across batches."""

    P_INSERT, P_REMOVE, P_DUP = 0.15, 0.15, 0.10
    ZIPF_S = 1.1
    HOT = 3

    def __init__(self, seed: int, items: dict[str, tuple], n_regions: int,
                 purpose: str = "changes"):
        self.r = rng(seed, purpose)
        # hot regions are a seeded permutation, not always r00
        order = list(range(n_regions))
        self.r.shuffle(order)
        self.region_order = [region_name(i) for i in order]
        self.cum = zipf_cum_weights(n_regions, self.ZIPF_S)
        self.hot = min(self.HOT, n_regions)
        self.batch_regions = self.region_order
        self.batch_cum = self.cum
        self.live: dict[str, list[str]] = {region_name(i): [] for i in range(n_regions)}
        self.pos: dict[str, int] = {}
        self.region_of: dict[str, str] = {}
        self.dead: dict[str, list[str]] = {region_name(i): [] for i in range(n_regions)}
        for pk, img in items.items():
            self._add_live(pk, img[0])
        self.next_key = len(items)
        self.seq = 0

    def _add_live(self, pk: str, region: str) -> None:
        lst = self.live[region]
        self.pos[pk] = len(lst)
        lst.append(pk)
        self.region_of[pk] = region

    def _drop_live(self, pk: str) -> None:
        region = self.region_of[pk]
        lst = self.live[region]
        i = self.pos.pop(pk)
        last = lst.pop()
        if last != pk:
            lst[i] = last
            self.pos[last] = i

    def _hot_region(self) -> str:
        return self.r.choices(self.batch_regions, cum_weights=self.batch_cum)[0]

    def _pick_hot_set(self) -> None:
        picked: list[str] = []
        while len(picked) < self.hot:
            reg = self.r.choices(self.region_order, cum_weights=self.cum)[0]
            if reg not in picked and self.live[reg]:
                picked.append(reg)
        self.batch_regions = picked
        self.batch_cum = zipf_cum_weights(len(picked), self.ZIPF_S)

    def _record(self, op: str, pk: str, region: str) -> dict:
        self.seq += 1
        rec = {"op": op, "ts": ts_of(self.seq), "seq": self.seq, "pk": pk}
        if op == "REMOVE":
            # a REMOVE carries the key and its partition value only
            rec.update(region=region, qty=None, amount=None, status=None, note=None)
        else:
            img = _image(self.r, region)
            rec.update(zip(IMAGE_COLS, img))
        return rec

    def _apply(self, rec: dict) -> None:
        pk = rec["pk"]
        if rec["op"] == "REMOVE":
            self._drop_live(pk)
            self.dead[rec["region"]].append(pk)
        elif pk not in self.pos:
            self._add_live(pk, rec["region"])

    def _fresh(self, touched: set[str]) -> dict:
        """A change to a key this batch has not touched yet (as far as a
        few draws can find one), so duplicates come from ``p_dup``."""
        x = self.r.random()
        if x < self.P_INSERT:
            region = self._hot_region()
            dead = [pk for pk in self.dead[region] if pk not in touched]
            if dead and self.r.random() < 0.3:
                pk = dead[self.r.randrange(len(dead))]
                self.dead[region].remove(pk)
            else:
                pk = key_name(self.next_key)
                self.next_key += 1
            return self._record("INSERT", pk, region)
        for _ in range(20):
            region = self._hot_region()
            lst = self.live[region]
            if lst:
                pk = lst[self.r.randrange(len(lst))]
                if pk not in touched:
                    break
        op = "REMOVE" if x < self.P_INSERT + self.P_REMOVE else "MODIFY"
        return self._record(op, pk, region)

    def batch(self, n: int) -> list[dict]:
        self._pick_hot_set()
        out: list[dict] = []
        touched: list[str] = []
        seen: set[str] = set()
        for _ in range(n):
            if touched and self.r.random() < self.P_DUP:
                pk = touched[self.r.randrange(len(touched))]
                region = self.region_of[pk]
                if pk in self.pos:
                    op = "REMOVE" if self.r.random() < 0.2 else "MODIFY"
                else:
                    op = "INSERT"
                    self.dead[region].remove(pk)
                rec = self._record(op, pk, region)
            else:
                rec = self._fresh(seen)
                if rec["pk"] not in seen:
                    touched.append(rec["pk"])
                    seen.add(rec["pk"])
            self._apply(rec)
            out.append(rec)
        return out


def change_json_line(rec: dict) -> str:
    """One changelog line as the file stream reads it (``ts`` ISO)."""
    return json.dumps({**rec, "ts": ts_iso(rec["ts"])}, separators=(",", ":"))


def change_wire_bytes(rec: dict) -> int:
    """Payload size of a change as a DynamoDB-JSON stream record."""
    keys = {"pk": {"S": rec["pk"]}}
    body: dict = {"eventName": rec["op"], "SequenceNumber": str(rec["seq"]),
                  "ApproximateCreationDateTime": rec["ts"], "Keys": keys}
    if rec["op"] != "REMOVE":
        body["NewImage"] = json.loads(
            item_wire(rec["pk"], tuple(rec[c] for c in IMAGE_COLS))
        )["Item"]
    return len(json.dumps(body, separators=(",", ":")))


#: one file in every LATE_EVERY lands late
LATE_EVERY = 3


def delivery_order(n_files: int, seed: int) -> list[int]:
    """File delivery order for the stream. In every window of
    ``LATE_EVERY`` files, one file at a seeded position is held back one
    slot, so it lands after a file with newer changes (out-of-order
    arrival): exactly ``n_files // LATE_EVERY`` files land late, on
    every seed."""
    r = rng(seed, "delivery")
    order = list(range(n_files))
    for w in range(0, n_files - LATE_EVERY + 1, LATE_EVERY):
        i = w + r.randrange(LATE_EVERY - 1)
        order[i], order[i + 1] = order[i + 1], order[i]
    return order


def late_files(order: list[int]) -> int:
    """Files delivered after a file with newer changes."""
    newest, late = -1, 0
    for i in order:
        if i < newest:
            late += 1
        newest = max(newest, i)
    return late


def write_changelog_file(path: Path, recs: list[dict]) -> None:
    tmp = path.with_name("." + path.name + ".tmp")
    tmp.write_text("".join(change_json_line(r) + "\n" for r in recs))
    tmp.rename(path)


# ---------------------------------------------------------------------------
# SQL DML statements
# ---------------------------------------------------------------------------

DML_KINDS = ("update", "delete", "merge")


def dml_statement(kind: str, table: str, pk: str, region: str, r: random.Random) -> tuple[str, dict]:
    """A SQL DML statement over one key plus the effect the model
    applies: ``{"kind", "pk", "region", "qty_add"|"status"|image}``."""
    # UPDATE and DELETE name the key's partition, as an analyst does on a
    # partitioned table, so the engine can prune the rewrite to it
    where = f"WHERE region = '{region}' AND pk = '{pk}'"
    if kind == "update":
        add = r.randrange(1, 10)
        status = r.choice(STATUSES)
        sql = f"UPDATE {table} SET qty = qty + {add}, status = '{status}' {where}"
        return sql, {"kind": kind, "pk": pk, "qty_add": add, "status": status}
    if kind == "delete":
        return f"DELETE FROM {table} {where}", {"kind": kind, "pk": pk}
    if kind == "merge":
        img = _image(r, region)
        _, qty, amount, status, note = img
        sql = (
            f"MERGE INTO {table} t USING (SELECT '{pk}' AS pk, '{region}' AS region, "
            f"CAST({qty} AS DECIMAL(38,18)) AS qty, CAST({amount} AS DECIMAL(38,18)) AS amount, "
            f"'{status}' AS status, '{note}' AS note) s ON t.pk = s.pk "
            "WHEN MATCHED THEN UPDATE SET qty = s.qty, amount = s.amount, "
            "status = s.status, note = s.note "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        return sql, {"kind": kind, "pk": pk, "image": img}
    raise ValueError(f"unknown DML kind {kind!r}")
