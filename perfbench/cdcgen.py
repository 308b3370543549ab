"""Seeded DynamoDB change-event generator for the `cdc_minute` workload.

Models the reference's `transactions` traffic at a fixed event rate:
every minute of event time carries `events_per_minute` changes, of which
~70 % INSERT a new item created in that minute, ~30 % (`MODIFY_SHARE`)
MODIFY an item created during the previous hour (new `update_at` and
`note`), and ~1 % (`REMOVE_SHARE`) REMOVE an existing item (the
pipeline's default delete policy drops them, so the lake keeps the
pre-delete image).

All randomness comes from one `random.Random(seed)`; event times are
distinct microseconds and strictly increase, so the latest-wins oracle
(`state`) has no precombine ties. The engine only ever sees the files
this module writes: a gz typed-JSON export of the first hour, then one
raw DynamoDB Streams JSON-lines drop per further minute.
"""

from __future__ import annotations

import gzip
import json
import os
import random
from bisect import bisect_left
from datetime import datetime, timezone
from decimal import Decimal

#: 2023-07-30T00:00:00Z, the day of the reference's README samples
T0_EPOCH = int(datetime(2023, 7, 30, tzinfo=timezone.utc).timestamp())
LOOKBACK_MINUTES = 60
MODIFY_SHARE = 0.30
REMOVE_SHARE = 0.01
#: data files of the snapshot export
EXPORT_FILES = 4
_NINE = Decimal("0.000000001")
_WORDS = (
    "peace sing town north river budget payment refund invoice coffee "
    "travel rent salary grocery transfer fee bonus gift repair ticket"
).split()


def iso(epoch_us: int) -> str:
    """ISO-8601 with microseconds, UTC wall clock, no zone suffix."""
    s, us = divmod(epoch_us, 1_000_000)
    return datetime.fromtimestamp(s, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S") + f".{us:06d}"


def typed_item(row: dict) -> dict:
    """Flat row -> DynamoDB typed attribute map (absent when null)."""
    item = {}
    for k in ("account", "create_at", "update_at", "entity", "note"):
        if row.get(k) is not None:
            item[k] = {"S": row[k]}
    item["amount"] = {"N": row["amount"]}
    item["is_credit"] = {"N": str(row["is_credit"])}
    return item


def lake_row(row: dict) -> tuple:
    """The 13-column lake image of an item, in `LAKE_COLUMNS` order,
    with the engine's derivations recomputed independently."""
    c = row["create_at"]
    return (
        row["account"], c, row["update_at"], row["entity"],
        Decimal(row["amount"]).quantize(_NINE), row["is_credit"], row.get("note"),
        f"account:{row['account']},create_at:{c}",
        c[0:4], c[5:7], c[8:10], c[11:13], c[14:16],
    )


LAKE_COLUMNS = [
    "account", "create_at", "update_at", "entity", "amount", "is_credit", "note",
    "id", "create_year", "create_month", "create_day", "create_hour", "create_minute",
]


class CdcGenerator:
    """Sequential minute-by-minute event source with its own oracle.

    `state` maps (account, create_at) to the latest non-REMOVE image:
    exactly what the lake must hold once every emitted event is merged.
    """

    def __init__(self, seed: int, events_per_minute: int):
        self.rng = random.Random(seed)
        self.events_per_minute = events_per_minute
        self.state: dict[tuple[str, str], dict] = {}
        self._recent: list[tuple[int, tuple[str, str]]] = []  # (create minute, key)
        self._seq = 0
        self.minute = 0

    def _account(self) -> str:
        r = self.rng
        return f"{r.randint(100, 999)}-{r.randint(100, 999)}-{r.randint(1000, 9999)}"

    def _amount(self) -> str:
        r = self.rng
        if r.random() < 0.02:  # int64-range value with a decimal fraction
            return f"{r.randint(10**10, 10**12)}.{r.randint(0, 99):02d}"
        return str(r.randint(1, 1000))

    def _note(self):
        r = self.rng
        if r.random() < 0.05:
            return None
        return " ".join(r.choice(_WORDS) for _ in range(r.randint(2, 7))).capitalize() + "."

    def next_minute(self, removes: bool = True) -> list[dict]:
        """Emit one minute of events as raw Streams records."""
        r, m = self.rng, self.minute
        start_us = (T0_EPOCH + 60 * m) * 1_000_000
        offsets = sorted(r.sample(range(60_000_000), self.events_per_minute))
        lo = bisect_left(self._recent, (m - LOOKBACK_MINUTES,))
        del self._recent[:lo]
        n_recent = len(self._recent)
        records = []
        for off in offsets:
            t = iso(start_us + off)
            u = r.random()
            if removes and n_recent and u < REMOVE_SHARE:
                key = self._recent[r.randrange(n_recent)][1]
                old = self.state[key]
                records.append(self._record("REMOVE", old, old_image=True))
                continue
            if n_recent and u < REMOVE_SHARE + MODIFY_SHARE:
                key = self._recent[r.randrange(n_recent)][1]
                row = dict(self.state[key], update_at=t, note=self._note())
                name = "MODIFY"
            else:
                while True:
                    key = (self._account(), t)
                    if key not in self.state:
                        break
                row = {
                    "account": key[0], "create_at": t, "update_at": t,
                    "entity": f"{r.choice(_WORDS).capitalize()} {r.choice(_WORDS)} LLC",
                    "amount": self._amount(), "is_credit": r.randint(0, 1),
                    "note": self._note(),
                }
                self._recent.append((m, key))
                name = "INSERT"
            self.state[key] = row
            records.append(self._record(name, row))
        self.minute += 1
        return records

    def _record(self, name: str, row: dict, old_image: bool = False) -> dict:
        self._seq += 1
        keys = {"account": {"S": row["account"]}, "create_at": {"S": row["create_at"]}}
        body = {"Keys": keys, "SequenceNumber": f"{self._seq:021d}"}
        body["OldImage" if old_image else "NewImage"] = typed_item(row)
        return {"eventID": f"{self._seq:016x}", "eventName": name, "dynamodb": body}


def write_export(state: dict, export_dir: str) -> int:
    """Write the current state as a DynamoDB export (gz `{"Item":…}`
    lines, `EXPORT_FILES` data files). Returns the byte size written."""
    data = os.path.join(export_dir, "data")
    os.makedirs(data, exist_ok=True)
    rows = list(state.values())
    total = 0
    for i in range(EXPORT_FILES):
        path = os.path.join(data, f"part-{i:05d}.json.gz")
        with gzip.open(path, "wt", compresslevel=1) as f:
            for row in rows[i::EXPORT_FILES]:
                f.write(json.dumps({"Item": typed_item(row)}) + "\n")
        total += os.path.getsize(path)
    return total


def write_drop(records: list[dict], path: str) -> int:
    """One JSON-lines drop file; returns its size in bytes."""
    with open(path, "w") as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")
    return os.path.getsize(path)
