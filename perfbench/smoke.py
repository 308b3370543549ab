#!/usr/bin/env python3
"""Smoke test of the benchmark's correctness gates.

    python3 perfbench/smoke.py

Shows that the gates pass on good output and report a failure on bad:
1. a small `cdc_minute` lake (snapshot + one streamed drop) passes both
   gates; after one lake row is deleted from its parquet file, both
   `pipeline.validate` and the count/digest gate report it;
2. a query result matching its pinned digest passes; the same result
   with one value altered, or with one row removed, fails.
Exits 0 when every expectation holds, 1 otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import sys

import run


def delete_one_row(lake_path: str) -> None:
    import pyarrow.parquet as pq

    path = sorted(glob.glob(os.path.join(lake_path, "create_*", "**", "*.parquet"), recursive=True))[0]
    table = pq.read_table(path, partitioning=None)
    pq.write_table(table.slice(1), path)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)  # Hadoop's checksum sidecar would reject the rewrite


def cdc_case(spark, work: str) -> list[tuple[str, bool]]:
    from dynamodb_to_datalake_project_spark import pipeline

    import cdc_minute
    import cdcgen

    gen = cdcgen.CdcGenerator(seed=7, events_per_minute=60)
    for _ in range(cdcgen.LOOKBACK_MINUTES):
        gen.next_minute(removes=False)
    export, stream = os.path.join(work, "export"), os.path.join(work, "stream")
    lake, ckpt = os.path.join(work, "lake"), os.path.join(work, "ckpt")
    cdcgen.write_export(gen.state, export)
    pipeline.initial_load(spark, export, lake)
    os.makedirs(stream)
    cdcgen.write_drop(gen.next_minute(), os.path.join(stream, "drop-00000.json"))
    q = pipeline.start_incremental_raw(spark, stream, lake, ckpt, max_files_per_trigger=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    good = cdc_minute.check_lake(spark, lake, gen.state)
    delete_one_row(lake)
    bad = cdc_minute.check_lake(spark, lake, gen.state)
    return [
        ("cdc: intact lake passes validate", good["validate_ok"]),
        ("cdc: intact lake passes count+digest", good["digest_ok"]),
        ("cdc: deleted row fails validate", not bad["validate_ok"]),
        ("cdc: deleted row fails count+digest", not bad["digest_ok"]),
    ]


def query_case(spark) -> list[tuple[str, bool]]:
    import querymix

    with open(querymix.EXPECTED) as f:
        pinned = json.load(f)["text_stats"]
    _build, _wall, rows = querymix.run_query(spark, "text_stats")
    first = rows[0].asDict()
    key = next(k for k, v in first.items() if isinstance(v, (int, float)) and not isinstance(v, bool))
    first[key] = first[key] + 1
    altered = [tuple(first.values())] + [tuple(r) for r in rows[1:]]
    return [
        ("query: pinned result passes", querymix.result_ok(rows, pinned)),
        ("query: altered value fails", not querymix.result_ok(altered, pinned)),
        ("query: removed row fails", not querymix.result_ok(rows[1:], pinned)),
    ]


def main() -> int:
    with run.spark_session("smoke") as (spark, work, _get_spark_s):
        checks = cdc_case(spark, work) + query_case(spark)
    for name, ok in checks:
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    return 0 if all(ok for _, ok in checks) else 1


if __name__ == "__main__":
    sys.exit(main())
