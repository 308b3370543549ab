"""S6 hot-side connector contract, proven against a Kinesis-shaped
mock: a shard-partitioned stream with sequence-number offsets, wired
into Structured Streaming as a REAL source via PySpark 4's Python
data source API (`pyspark.sql.datasource`) — shard fan-out becomes
one InputPartition per shard, resume-from-sequence rides Spark's own
offset log, and every downstream plan (the `cdc.make_merge_batch_fn`
foreachBatch merge, watermarked windows) is unchanged from the
file-drop source.

The reference consumes DynamoDB Streams through a Lambda
(lambda_functions/dynamodb_stream_consumer.py:31-49) whose event
source mapping is shard-parallel with checkpointed sequence numbers
(cdk_define.py:249-256 sets batch size / window — the knobs this
source mirrors as `max_records_per_shard_per_batch`). A real
deployment swaps `MockKinesisStream` for the Kinesis SDK with the
SAME contract: records are routed to shards by the MD5 of their
partition key (the Kinesis hash-range rule), each shard is totally
ordered by sequence number, and a consumer resumes from the last
committed sequence per shard.

The mock is DIRECTORY-backed (one JSON file per record under
`shard-N/<seq>.json`) so producers append between micro-batches and
executor tasks read independently — the same durability seam the
JSON-drop source uses, but with the shard/sequence topology of the
real service.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

#: the wire schema every record carries (the spark-kinesis connector
#: shape: opaque data blob + stream metadata)
RECORD_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.StringType()),
        T.StructField("sequence_number", T.LongType()),
        T.StructField("partition_key", T.StringType()),
        T.StructField("data", T.StringType()),
    ]
)


def shard_for_key(partition_key: str, n_shards: int) -> int:
    """Kinesis routing: MD5 of the partition key as a 128-bit int,
    mapped onto the shard hash ranges (equal ranges here)."""
    h = int.from_bytes(hashlib.md5(partition_key.encode()).digest(), "big")
    return h * n_shards >> 128


def key_hash(partition_key: str) -> int:
    return int.from_bytes(
        hashlib.md5(partition_key.encode()).digest(), "big"
    )


_HASH_SPACE = 1 << 128


def _load_registry(root: str, n_shards: int) -> dict:
    """The shard registry (`_shards.json`): id -> {parents, status,
    range, final_seq_end}. Created with `n_shards` equal hash ranges
    on first touch — identical routing to the pre-reshard
    `shard_for_key` rule."""
    p = os.path.join(root, "_shards.json")
    if os.path.isfile(p):
        with open(p) as f:
            return json.load(f)
    reg = {
        "next_id": n_shards,
        "shards": {
            f"shard-{i}": {
                "parents": [],
                "status": "OPEN",
                # ceil boundaries: shard_for_key(h) == i  <=>
                # ceil(i*S/n) <= h < ceil((i+1)*S/n) for integer h,
                # so registry routing is EXACTLY the equal-split rule
                "range": [
                    -(-(i * _HASH_SPACE) // n_shards),
                    -(-((i + 1) * _HASH_SPACE) // n_shards),
                ],
                "final_seq_end": None,
            }
            for i in range(n_shards)
        },
    }
    _save_registry(root, reg)
    return reg


def _save_registry(root: str, reg: dict) -> None:
    p = os.path.join(root, "_shards.json")
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(reg, f)
    os.replace(tmp, p)


class MockKinesisStream:
    """Producer/admin handle for a directory-backed mock stream."""

    def __init__(self, root: str, n_shards: int = 4):
        self.root = root
        self.n_shards = n_shards
        os.makedirs(root, exist_ok=True)
        self.registry = _load_registry(root, n_shards)
        for sid in self.registry["shards"]:
            os.makedirs(os.path.join(root, sid), exist_ok=True)
        self._seq_file = os.path.join(root, "_next_seq")
        self._claims_dir = os.path.join(root, "_seq_claims")
        os.makedirs(self._claims_dir, exist_ok=True)

    def route(self, partition_key: str) -> str:
        """The shard whose hash range covers MD5(key) among OPEN
        shards — after a split/merge, keys flow to the children; a
        CLOSED shard never receives another record."""
        h = key_hash(partition_key)
        for sid, info in self.registry["shards"].items():
            if info["status"] == "OPEN" and info["range"][0] <= h < info["range"][1]:
                return sid
        raise RuntimeError(f"kinesis mock: no open shard covers {h}")

    def split_shard(self, shard_id: str) -> "tuple[str, str]":
        """SplitShard: close the parent at its current durable end and
        open two children over the halves of its hash range. The
        parent's records stay readable; consumers must drain it to
        `final_seq_end` before reading the children (the
        parent-before-child rule the reader enforces)."""
        info = self.registry["shards"][shard_id]
        if info["status"] != "OPEN":
            raise ValueError(f"{shard_id} is not open")
        lo, hi = info["range"]
        mid = (lo + hi) // 2
        kids = []
        for rng in ([lo, mid], [mid, hi]):
            kid = f"shard-{self.registry['next_id']}"
            self.registry["next_id"] += 1
            self.registry["shards"][kid] = {
                "parents": [shard_id],
                "status": "OPEN",
                "range": rng,
                "final_seq_end": None,
            }
            os.makedirs(os.path.join(self.root, kid), exist_ok=True)
            kids.append(kid)
        info["status"] = "CLOSED"
        info["final_seq_end"] = self._durable_end(shard_id)
        _save_registry(self.root, self.registry)
        return kids[0], kids[1]

    def merge_shards(self, a: str, b: str) -> str:
        """MergeShards: close two ADJACENT shards and open one child
        covering their union; the child has TWO parents, both of which
        must drain before it."""
        ia, ib = self.registry["shards"][a], self.registry["shards"][b]
        if ia["status"] != "OPEN" or ib["status"] != "OPEN":
            raise ValueError("merge needs two open shards")
        if ia["range"][1] != ib["range"][0] and ib["range"][1] != ia["range"][0]:
            raise ValueError("merge needs adjacent hash ranges")
        lo = min(ia["range"][0], ib["range"][0])
        hi = max(ia["range"][1], ib["range"][1])
        kid = f"shard-{self.registry['next_id']}"
        self.registry["next_id"] += 1
        self.registry["shards"][kid] = {
            "parents": [a, b],
            "status": "OPEN",
            "range": [lo, hi],
            "final_seq_end": None,
        }
        os.makedirs(os.path.join(self.root, kid), exist_ok=True)
        for sid, info in ((a, ia), (b, ib)):
            info["status"] = "CLOSED"
            info["final_seq_end"] = self._durable_end(sid)
        _save_registry(self.root, self.registry)
        return kid

    def _durable_end(self, shard_id: str) -> int:
        d = os.path.join(self.root, shard_id)
        seqs = [
            int(f[:-5]) for f in os.listdir(d) if f.endswith(".json")
        ]
        return max(seqs) + 1 if seqs else 0

    def _next_seq(self, shard: str) -> int:
        """Atomically allocate the next global sequence number. The
        O_EXCL claim file (named by sequence, content = shard id) is the
        allocation authority — two concurrent producers can never win
        the same sequence; `_next_seq` (the counter file) is only a
        starting-point hint, racy by design and never trusted.
        Claim files are kept: they double as the in-flight ledger
        `shard_sequences` uses to hold batch end-offsets below any
        claimed-but-not-yet-durable record (without that fence a
        batch boundary passing a pending sequence would skip the
        record forever)."""
        seq = 0
        if os.path.isfile(self._seq_file):
            with open(self._seq_file) as f:
                try:
                    seq = int(f.read())
                except ValueError:
                    seq = 0
        while True:
            try:
                fd = os.open(
                    os.path.join(self._claims_dir, f"{seq:012d}"),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
                break
            except FileExistsError:
                seq += 1
        with os.fdopen(fd, "w") as f:
            f.write(str(shard))
        tmp = self._seq_file + f".{seq}.tmp"
        with open(tmp, "w") as f:
            f.write(str(seq + 1))
        os.replace(tmp, self._seq_file)
        return seq

    def put_record(self, partition_key: str, data: dict) -> int:
        """PutRecord: route by MD5(partition_key) through the shard
        registry (post-reshard keys flow to children), assign the
        next sequence number, persist durably. Returns the sequence."""
        shard_id = self.route(partition_key)
        seq = self._next_seq(shard_id)
        path = os.path.join(self.root, shard_id, f"{seq:012d}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"partition_key": partition_key, "data": data}, f)
        os.replace(tmp, path)
        return seq

    def _pending_floor(self) -> "int | None":
        """Lowest sequence claimed by a producer whose record is not
        yet durable (crash-or-in-flight), or None when every claim is
        backed by a durable record."""
        floor = None
        for f in sorted(os.listdir(self._claims_dir)):
            if not f.isdigit():
                continue
            with open(os.path.join(self._claims_dir, f)) as fh:
                shard_id = fh.read().strip()
            if not shard_id.startswith("shard-"):
                shard_id = f"shard-{shard_id}"  # pre-reshard claim files
            rec = os.path.join(self.root, shard_id, f + ".json")
            if not os.path.isfile(rec):
                floor = int(f)
                break
        return floor

    def shard_sequences(self) -> "dict[str, int]":
        """Per shard (open AND closed): one past the highest durable
        sequence number (the exclusive end offset a consumer reads
        to) — capped below the pending-claim floor so a sequence
        claimed but not yet durable when the batch boundary passes is
        picked up by the NEXT batch instead of skipped forever."""
        out = {}
        floor = self._pending_floor()
        for sid in self.registry["shards"]:
            d = os.path.join(self.root, sid)
            seqs = [
                int(f[:-5])
                for f in os.listdir(d)
                if f.endswith(".json")
                and (floor is None or int(f[:-5]) < floor)
            ]
            out[sid] = max(seqs) + 1 if seqs else 0
        return out


class _ShardSlice(InputPartition):
    def __init__(self, root: str, shard: str, start: int, end: int):
        self.root = root
        self.shard = shard
        self.start = start
        self.end = end


class _KinesisMockStreamReader(DataSourceStreamReader):
    """One InputPartition per shard per micro-batch; offsets are the
    per-shard exclusive end sequences, serialized into Spark's
    streaming offset log (checkpointLocation) — restart resumes from
    the committed sequences without touching this module."""

    def __init__(self, options: dict):
        self.root = options["path"]
        self.n_shards = int(options.get("n_shards", "4"))
        self.max_per_shard = int(
            options.get("max_records_per_shard_per_batch", "10000")
        )
        # last end offset THIS reader returned: anchor for the
        # per-batch ingestion bound (see latestOffset)
        self._last_end: "dict | None" = None

    def initialOffset(self) -> dict:
        stream = MockKinesisStream(self.root, self.n_shards)
        return {sid: 0 for sid in stream.registry["shards"]}

    def latestOffset(self) -> dict:
        """Next batch's end offsets. Three rules compose here:

        - T6 ingestion bound (`max_records_per_shard_per_batch`) is
          applied HERE, not in `partitions`: Spark commits whatever
          this returns as the new start, so a `partitions` that reads
          less than [start, end) would skip the gap forever. Capping
          anchors to the end this reader returned last batch; the
          first batch after a restart is uncapped (the checkpointed
          start isn't visible here — a pacing knob, never a
          correctness one).
        - RESHARD: shards appear in the offset dict as the registry
          grows; a missing shard starts at 0 (`partitions` iterates
          the union).
        - PARENT-BEFORE-CHILD: in steady state a child shard is
          withheld from the offset dict until a PRIOR batch drained
          every parent to its `final_seq_end` — a key's pre-split
          records (parent) commit strictly before its post-split
          records (child). On the first batch after a restart there
          is no drain evidence yet; children whose parents are all
          CLOSED are exposed anyway (a closed parent's end offset is
          always its final end, so the parent tail and the child
          commit in the SAME batch — never after), otherwise an
          availableNow run would starve the children forever. The
          commit-granularity invariant either way: any batch that
          advances a child has every parent at final_seq_end in its
          own end offsets."""
        stream = MockKinesisStream(self.root, self.n_shards)
        shards = stream.registry["shards"]
        ends = stream.shard_sequences()
        end: dict = {}
        for sid, info in shards.items():
            parents = info["parents"]
            if parents:
                closed = all(
                    shards[p]["final_seq_end"] is not None
                    for p in parents
                )
                drained = self._last_end is None or all(
                    self._last_end.get(p, 0)
                    >= (shards[p]["final_seq_end"] or 0)
                    for p in parents
                )
                if not (closed and drained):
                    continue
            end[sid] = int(ends.get(sid, 0))
        if self._last_end is not None:
            end = {
                k: max(
                    self._last_end.get(k, 0),
                    min(v, self._last_end.get(k, 0) + self.max_per_shard),
                )
                for k, v in end.items()
            }
        self._last_end = end
        return end

    def partitions(self, start: dict, end: dict):
        # must cover EXACTLY [start, end): Spark commits `end`.
        # Union of keys: a shard new in `end` (post-reshard child)
        # starts at 0; a shard withheld from `end` (child gated on
        # its parent) makes no progress this batch.
        return [
            _ShardSlice(
                self.root, shard, int(start.get(shard, 0)), int(hi)
            )
            for shard, hi in end.items()
            if int(hi) > int(start.get(shard, 0))
        ] or [_ShardSlice(self.root, "", 0, 0)]

    def read(self, partition: _ShardSlice):
        if not partition.shard:
            return  # empty-batch sentinel
        d = os.path.join(partition.root, partition.shard)
        if not os.path.isdir(d):
            return
        for f in sorted(os.listdir(d)):
            if not f.endswith(".json") or not f[:-5].isdigit():
                continue
            seq = int(f[:-5])
            if not (partition.start <= seq < partition.end):
                continue
            with open(os.path.join(d, f)) as fh:
                rec = json.load(fh)
            yield (
                partition.shard,
                seq,
                rec["partition_key"],
                json.dumps(rec["data"]),
            )

    def commit(self, end: dict) -> None:
        pass  # durable retention is the stream's concern (mock keeps all)


class KinesisMockDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kinesis_mock"

    def schema(self):
        return RECORD_SCHEMA

    def streamReader(self, schema):
        return _KinesisMockStreamReader(self.options)


def read_kinesis_stream(
    spark: SparkSession,
    stream_root: str,
    payload_schema: T.StructType,
    n_shards: int = 4,
    max_records_per_shard_per_batch: int = 10000,
) -> DataFrame:
    """S6 hot side: shard-parallel Kinesis-shaped stream -> rows of
    (shard_id, sequence_number, partition_key) + the payload columns
    parsed from the data blob. Feed it to a `foreachBatch` merge built
    by `cdc.make_merge_batch_fn` — the batch body `start_cdc_merge`
    runs over its JSON-drop directory; same plan, different
    transport."""
    spark.dataSource.register(KinesisMockDataSource)
    raw = (
        spark.readStream.format("kinesis_mock")
        .option("path", stream_root)
        .option("n_shards", str(n_shards))
        .option(
            "max_records_per_shard_per_batch",
            str(max_records_per_shard_per_batch),
        )
        .load()
    )
    return raw.select(
        "shard_id",
        "sequence_number",
        "partition_key",
        F.from_json("data", payload_schema).alias("p"),
    ).select("shard_id", "sequence_number", "partition_key", "p.*")
