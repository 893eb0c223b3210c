"""Pure-Python reference model of the replicated table.

It applies exactly the semantics the engine promises:

* a change batch keeps, per key, only its latest change by
  ``(ts, seq)`` (last-writer-wins), then a REMOVE deletes the key and
  any other op upserts the image;
* with ``tolerate_out_of_order`` a change also has to be newer than the
  newest change already applied to its key, so a late file can neither
  revive a removed key nor overwrite a newer image;
* SQL DML effects (UPDATE / DELETE / MERGE over one key) apply to the
  current state;
* every commit can be kept as a version, so time-travel and
  ``table_changes`` answers are checkable.

Answers are plain Python values; ``canonical`` / ``state_digest`` give
the order-insensitive form both sides are compared in.
"""

from __future__ import annotations

import hashlib

from gen import IMAGE_COLS, item_wire


class Model:
    def __init__(self, items: dict[str, tuple]):
        self.rows: dict[str, tuple] = dict(items)
        #: newest (ts, seq) applied per key, for out-of-order tolerance
        self.applied: dict[str, tuple[int, int]] = {}
        #: version -> state; the bootstrap is version 1, like the table
        self.versions: dict[int, dict[str, tuple]] = {}
        self.version = 1

    def keep_version(self) -> None:
        self.versions[self.version] = dict(self.rows)

    def _commit(self, keep: bool) -> None:
        self.version += 1
        if keep:
            self.keep_version()

    def apply(self, changes: list[dict], tolerate_out_of_order: bool = False,
              keep: bool = False, commit: bool = True) -> None:
        latest: dict[str, dict] = {}
        for c in changes:
            cur = latest.get(c["pk"])
            if cur is None or (c["ts"], c["seq"]) > (cur["ts"], cur["seq"]):
                latest[c["pk"]] = c
        for pk, c in latest.items():
            order = (c["ts"], c["seq"])
            if tolerate_out_of_order:
                if pk in self.applied and order <= self.applied[pk]:
                    continue
                self.applied[pk] = order
            if c["op"] == "REMOVE":
                self.rows.pop(pk, None)
            else:
                self.rows[pk] = tuple(c[k] for k in IMAGE_COLS)
        if commit:
            self._commit(keep)

    def apply_dml(self, effect: dict, keep: bool = False) -> None:
        pk, kind = effect["pk"], effect["kind"]
        if kind == "update":
            if pk in self.rows:
                region, qty, amount, _, note = self.rows[pk]
                self.rows[pk] = (region, qty + effect["qty_add"], amount,
                                 effect["status"], note)
        elif kind == "delete":
            self.rows.pop(pk, None)
        elif kind == "merge":
            self.rows[pk] = tuple(effect["image"])
        else:
            raise ValueError(f"unknown DML kind {kind!r}")
        self._commit(keep)

    # -- answers ------------------------------------------------------------

    def state(self, version: int | None = None) -> dict[str, tuple]:
        return self.rows if version is None else self.versions[version]

    def changes(self, v_from: int, v_to: int) -> dict[str, int]:
        """``table_changes(t, from, to)`` counted per op."""
        old, new = self.versions[v_from], self.versions[v_to]
        out = {"INSERT": 0, "MODIFY": 0, "REMOVE": 0}
        for pk, img in new.items():
            if pk not in old:
                out["INSERT"] += 1
            elif old[pk] != img:
                out["MODIFY"] += 1
        out["REMOVE"] = sum(1 for pk in old if pk not in new)
        return {k: v for k, v in out.items() if v}

    def live_bytes(self) -> int:
        """Live rows as DynamoDB-JSON export lines (space_amp base)."""
        return sum(len(item_wire(pk, img)) + 1 for pk, img in self.rows.items())


def canonical(pk: str, img: tuple) -> str:
    region, qty, amount, status, note = img
    return f"{pk}|{region}|{int(qty)}|{int(amount)}|{status}|{note}"


def state_digest(rows) -> tuple[int, str]:
    """(count, order-insensitive sha256) of ``(pk, image)`` pairs."""
    lines = sorted(canonical(pk, img) for pk, img in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return len(lines), h
