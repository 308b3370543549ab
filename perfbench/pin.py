#!/usr/bin/env python3
"""Pin the expected row count and digest of every `corpus_curate` query.

    python3 perfbench/pin.py

Runs each query of `querymix.CORPUS_QUERIES` once on the fixtures and writes
`perfbench/expected.json`. Run it only on a commit whose results are
known good (the catalog's DuckDB oracle gate passes there); the
benchmark then reports any later drift as a failed operation.
"""

from __future__ import annotations

import json
import sys

import gates
import querymix
import run


def main() -> int:
    pinned = {}
    with run.spark_session("pin") as (spark, _work, _get_spark_s):
        for name in querymix.CORPUS_QUERIES:
            _build, _wall, rows = querymix.run_query(spark, name)
            n, digest = gates.table_digest(rows)
            pinned[name] = {"rows": n, "digest": digest}
            print(f"{name} rows={n} digest={digest}", file=sys.stderr)
    with open(querymix.EXPECTED, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
