"""`cdc_minute`: the paper's topology end to end at minute grain.

snapshot  gz typed-JSON export of the first event hour -> `pipeline.initial_load`
stream    one raw DynamoDB Streams drop per further minute, published by
          atomic rename into the watched directory only after the previous
          batch committed (closed loop, one client) -> `start_incremental_raw`
          with `max_files_per_trigger=1`
check     `pipeline.validate` against the generator's latest-wins oracle,
          plus a count and order-insensitive row hash that uses neither
          `diff` nor `dedup`
"""

from __future__ import annotations

import os
import statistics
import time

import cdcgen
import gates
from spans import union_seconds

#: Events per minute of event time (NOTES.md says why this is below the
#: reference's ~60 events/s).
EVENTS_PER_MINUTE = 300
#: Batches merged before the measured window (JIT and codegen warm-up).
#: Batch latency keeps falling until about the fifth batch; counting those
#: batches would let a slow host, which fits fewer batches in the window,
#: weigh them more and read slower still.
WARMUP_BATCHES = 4


def lake_digest(spark, lake_path: str) -> tuple[int, str]:
    """Gate digest of the lake read back as plain parquet."""
    df = spark.read.parquet(lake_path).select(*cdcgen.LAKE_COLUMNS)
    return gates.table_digest(df.toLocalIterator())


def oracle_digest(state: dict) -> tuple[int, str]:
    return gates.table_digest(cdcgen.lake_row(row) for row in state.values())


def oracle_frame(spark, state: dict):
    from pyspark.sql import types as T

    from dynamodb_to_datalake_project_spark import pipeline

    fields = list(pipeline.TXN_SCHEMA.fields) + [
        T.StructField(c, T.StringType()) for c in cdcgen.LAKE_COLUMNS[7:]
    ]
    rows = [cdcgen.lake_row(r) for r in state.values()]
    return spark.createDataFrame(rows, T.StructType(fields))


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def install_spans(tracer) -> None:
    """Wrap the public seams the incremental path calls by attribute."""
    from dynamodb_to_datalake_project_spark import deltatable, diff, lake, merge

    tracer.wrap(merge, "merge_into_parquet", "merge.merge_into_parquet")
    tracer.wrap(
        merge, "touched_partitions", "merge.touched_partitions",
        on_result=lambda sp, a, k, r: sp.__setitem__("n", len(r)),
    )
    tracer.wrap(merge, "recover_pending_commits", "merge.recover_pending_commits")
    tracer.wrap(
        merge, "_claim_tip", "merge.claim_tip",
        on_result=lambda sp, a, k, r: sp.__setitem__("lost", r is None),
    )
    for fn in ("current_version", "claim_version", "committed_touched",
               "append_commit", "maybe_write_checkpoint"):
        tracer.wrap(deltatable, fn, "deltatable." + fn)
    tracer.wrap(lake, "write_table", "lake.write_table")
    tracer.wrap(diff, "compare", "diff.compare")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def check_lake(spark, lake_path: str, state: dict, store=None, log=print) -> dict:
    """Both lake gates against the oracle `state`: `pipeline.validate`
    (timed) and the count + order-insensitive digest."""
    from dynamodb_to_datalake_project_spark import pipeline

    truth = oracle_frame(spark, state).cache()
    truth.count()
    mark = store.mark() if store is not None else None
    t0 = time.time()
    summary, sample = pipeline.validate(spark, truth, lake_path)
    out = {"validate_s": time.time() - t0, "lake_rows": summary.lake_rows,
           "validate_span": (t0, time.time())}
    if store is not None:
        out["stats"] = store.since(mark)
    truth.unpersist()
    out["validate_ok"] = summary.identical and summary.lake_rows == len(state)
    got, want = lake_digest(spark, lake_path), oracle_digest(state)
    out["digest_ok"] = got == want
    if not out["validate_ok"]:
        log(f"validate mismatch: {summary} sample={sample[:3]}")
    if not out["digest_ok"]:
        log(f"digest mismatch: lake {got} oracle {want}")
    return out


def run(ctx) -> dict:
    """Returns the workload result; `ctx` carries spark, seed, seconds,
    tracer/store (trace runs only) and the work directory."""
    from dynamodb_to_datalake_project_spark import deltatable, pipeline

    spark, work, tr = ctx.spark, ctx.work, ctx.tracer
    export_dir = os.path.join(work, "export")
    staged_dir = os.path.join(work, "staged")
    stream_dir = os.path.join(work, "stream")
    lake_path = os.path.join(work, "lake")
    for d in (staged_dir, stream_dir):
        os.makedirs(d)

    # ---- inputs from the seed (the engine sees only these files)
    gen = cdcgen.CdcGenerator(ctx.seed, EVENTS_PER_MINUTE)
    for _ in range(cdcgen.LOOKBACK_MINUTES):
        gen.next_minute(removes=False)
    snapshot_rows = len(gen.state)
    export_bytes = cdcgen.write_export(gen.state, export_dir)
    drops = []  # (file name, events, bytes) of drop k, written when due
    if tr is not None:
        install_spans(tr)
    layer: dict[str, float] = {}

    # ---- snapshot load
    if tr is not None:
        tr.op_id = "load"
    t0 = time.time()
    pipeline.initial_load(spark, export_dir, lake_path)
    load_s = time.time() - t0
    if tr is not None:
        layer["lake.write_table_s"] = tr.total("lake.write_table", "load")
        leafs = [r for r, _d, fs in os.walk(lake_path) if any(f.endswith(".parquet") for f in fs)]
        layer["lake.files_written"] = sum(
            1 for r in leafs for f in os.listdir(r) if f.endswith(".parquet"))
        layer["lake.partitions_written"] = len(leafs)
        layer["ddbjson.rows_decoded"] = snapshot_rows
        layer["ddbjson.input_bytes"] = export_bytes

    # ---- closed loop: publish drop k once batch k-1 committed
    q = pipeline.start_incremental_raw(
        spark, stream_dir, lake_path, os.path.join(work, "checkpoint"),
        max_files_per_trigger=1,
    )
    batches = []  # (k, latency, traced, status-store stats)
    failed = 0
    warm_version = None  # last log version written by a warm-up batch

    def publish(k: int, traced: bool) -> None:
        recs = gen.next_minute()
        name = f"drop-{k:05d}.json"
        staged = os.path.join(staged_dir, name)
        drops.append((name, len(recs), cdcgen.write_drop(recs, staged)))
        if tr is not None:
            tr.op_id, tr.enabled = f"batch{k}", traced
            mark = ctx.store.mark()
        t_pub = time.time()
        os.replace(staged, os.path.join(stream_dir, name))
        q.processAllAvailable()
        latency = time.time() - t_pub
        batches.append((k, latency, traced, ctx.store.since(mark) if tr is not None else None))

    try:
        try:
            for k in range(WARMUP_BATCHES):
                publish(k, traced=False)
            ctx.warmup_s = sum(b[1] for b in batches)
            warm_version = deltatable.current_version(lake_path)
            ctx.setup_done()
            phase0 = time.time()
            k = WARMUP_BATCHES
            while time.time() - phase0 < ctx.seconds:
                publish(k, traced=tr is not None and k % 2 == 1)
                k += 1
        except Exception as e:  # noqa: BLE001 - a failed batch is a counted failure
            ctx.log(f"batch failed: {e!r}")
            failed += 1
            if ctx.first_op_at is None:
                ctx.setup_done()
        progress = {p.batchId: p for p in q.recentProgress if p.numInputRows > 0}
    finally:
        q.stop()
        if tr is not None:
            tr.enabled = True
    n_batches = len(batches)
    measured = batches[WARMUP_BATCHES:]
    events = sum(drops[b[0]][1] for b in measured)
    # events per second of batch time: the benchmark's own work between
    # batches (publishing, status-store reads) is not the engine's
    busy_s = sum(b[1] for b in measured)
    events_per_s = events / busy_s if busy_s > 0 else 0.0
    ctx.log("batch latencies: " + " ".join(f"{b[1]:.2f}" for b in batches))

    # ---- gates, against the state after exactly the published minutes
    oracle = cdcgen.CdcGenerator(ctx.seed, EVENTS_PER_MINUTE)
    for _ in range(cdcgen.LOOKBACK_MINUTES + n_batches):
        oracle.next_minute(removes=oracle.minute >= cdcgen.LOOKBACK_MINUTES)
    if tr is not None:
        tr.op_id = "validate"
    chk = check_lake(spark, lake_path, oracle.state, ctx.store, ctx.log)
    lake_bytes = tree_bytes(lake_path)

    ops = [("batch", b[1]) for b in measured]
    result = {
        "attempted": 1 + n_batches + failed + 2,
        "failed": failed + (not chk["validate_ok"]) + (not chk["digest_ok"]),
        "ops": ops,
        "throughput_per_s": events_per_s,
        "detail": {
            "load_rows_per_s": snapshot_rows / load_s,
            "batch_p50_s": _median([b[1] for b in measured]),
            "cdc_events_per_s": events_per_s,
            "validate_s": chk["validate_s"],
            "lake_bytes_per_row": lake_bytes / max(chk["lake_rows"], 1),
            "snapshot_rows": snapshot_rows,
            "batches": n_batches,
            "measured_batches": len(measured),
            "lake_rows": chk["lake_rows"],
        },
    }
    if tr is None:
        return result

    # ---- per-layer numbers: per measured traced batch, medians
    traced_b = [b for b in measured if b[2]]

    def per_batch(fn):
        return _median([fn(f"batch{b[0]}", b[3]) for b in traced_b])

    def span_s(name):
        return per_batch(lambda op, st: tr.total(name, op))

    def in_job(op, st):
        return sum(union_seconds(st["intervals"], s["start"], s["end"])
                   for s in tr.select("merge.merge_into_parquet", op))

    layer["merge.merge_into_parquet_s"] = span_s("merge.merge_into_parquet")
    layer["merge.in_job_s"] = per_batch(in_job)
    layer["merge.driver_s"] = per_batch(
        lambda op, st: tr.total("merge.merge_into_parquet", op) - in_job(op, st))
    for key in ("jobs", "stages", "tasks"):
        layer["merge." + key] = per_batch(lambda op, st, key=key: st[key])
    layer["merge.shuffle_bytes"] = per_batch(
        lambda op, st: st["shuffle_write_bytes"] + st["shuffle_read_bytes"])
    layer["merge.touched_partitions"] = per_batch(
        lambda op, st: sum(s.get("n", 0) for s in tr.select("merge.touched_partitions", op)))
    layer["merge.touched_partitions_s"] = span_s("merge.touched_partitions")
    layer["merge.recover_pending_commits_s"] = span_s("merge.recover_pending_commits")
    layer["merge.occ_retries"] = float(sum(
        1 for s in tr.select("merge.claim_tip") if s.get("lost")))
    dt_names = ("current_version", "claim_version", "committed_touched",
                "append_commit", "maybe_write_checkpoint")
    layer["deltatable.calls"] = per_batch(
        lambda op, st: sum(len(tr.select("deltatable." + n, op)) for n in dt_names))
    layer["deltatable.s"] = per_batch(
        lambda op, st: sum(tr.total("deltatable." + n, op) for n in dt_names))
    layer["deltatable.log_versions"] = float(len(deltatable.list_versions(lake_path)))
    # writes of the measured batches only: the first warm-up merge's
    # bootstrap commit re-adds every snapshot file
    files, written = commit_adds(lake_path, after=warm_version)
    in_bytes = sum(drops[b[0]][2] for b in measured)
    layer["merge.files_written"] = files / max(len(measured), 1)
    layer["merge.bytes_written"] = written / max(len(measured), 1)
    layer["merge.write_amplification"] = written / in_bytes if in_bytes else 0.0

    measured_progress = [progress[b[0]] for b in measured if b[0] in progress]
    for key, parts in (
        ("cdc.trigger_s", ("triggerExecution",)),
        ("cdc.add_batch_s", ("addBatch",)),
        ("cdc.offsets_s", ("latestOffset", "getBatch")),
        ("cdc.wal_s", ("walCommit", "commitOffsets")),
        ("cdc.planning_s", ("queryPlanning",)),
    ):
        layer[key] = _median(
            [sum(p.durationMs.get(x, 0) for x in parts) / 1e3 for p in measured_progress])
    layer["cdc.input_rows"] = _median([p.numInputRows for p in measured_progress])

    lo, hi = chk["validate_span"]
    layer["diff.compare_s"] = tr.total("diff.compare", "validate")
    layer["diff.in_job_s"] = union_seconds(chk["stats"]["intervals"], lo, hi)
    layer["diff.shuffle_bytes"] = (
        chk["stats"]["shuffle_write_bytes"] + chk["stats"]["shuffle_read_bytes"])
    for key in ("load_rows_per_s", "validate_s", "lake_bytes_per_row"):
        layer["pipeline." + key] = result["detail"][key]
    result["layer"] = layer
    result["overhead"] = ([b[1] for b in measured if b[2]], [b[1] for b in measured if not b[2]])
    return result


def commit_adds(lake_path: str, after) -> tuple[int, int]:
    """(files, bytes) added by the commits in the lake's `_delta_log`
    whose version is above `after` (none when `after` is None)."""
    import json

    from dynamodb_to_datalake_project_spark import deltatable

    files = size = 0
    if after is None:
        return files, size
    for v in deltatable.list_versions(lake_path):
        if v <= after:
            continue
        with open(os.path.join(deltatable.log_dir(lake_path), f"{v:020d}.json")) as f:
            for line in f:
                a = json.loads(line) if line.strip() else {}
                if "add" in a:
                    files += 1
                    size += a["add"].get("size", 0)
    return files, size
