"""`corpus_curate`: closed-loop passes over a fixed query mix from the
catalog, one client, each pass in a seed-permuted order. Every result is
checked against the row count and digest pinned in `expected.json`.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

import gates
from spans import union_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")

#: The part of the LLM-data curation set that fits the run-time budget
#: (NOTES.md lists what was left out, and why the analyst mix was dropped).
CORPUS_QUERIES = [
    "dedup_exact", "dedup_clusters_cc", "sim_knn_bruteforce", "text_stats",
    "token_count_bpe", "multimodal_jpeg_stats", "multimodal_flac_stats",
]

#: Unmeasured passes before the window. Pass time still falls by 10-30 %
#: after the first one; counting that pass would let a slow host, which
#: fits fewer passes in the window, weigh it more and read slower still.
WARMUP_PASSES = 2


def run_query(spark, name: str) -> tuple[float, float, list]:
    """(build seconds, total seconds, collected rows) of one query."""
    from dynamodb_to_datalake_project_spark import catalog

    t0 = time.time()
    df = catalog.QUERIES[name](spark, FIXTURES)
    t_built = time.time()
    rows = df.collect()
    return t_built - t0, time.time() - t0, rows


def result_ok(rows, pinned: dict) -> bool:
    """The result gate: row count and digest equal the pinned ones."""
    return list(gates.table_digest(rows)) == [pinned["rows"], pinned["digest"]]


def install_spans(tracer) -> None:
    """Spans around the layer calls the mixes reach by attribute lookup."""
    from dynamodb_to_datalake_project_spark import graph

    tracer.wrap(graph, "connected_components", "graph.connected_components")
    # the first signature taken inside connected_components is the exact
    # canonical edge count; annotate the enclosing span with it
    tracer.wrap(
        graph, "_signature", "graph.signature",
        on_result=lambda sp, a, k, r: _annotate_parent(tracer, sp, r),
    )


def _annotate_parent(tracer, sp, result) -> None:
    parent = sp["parent"]
    if parent is not None:
        p = tracer.spans[parent]
        if p["name"] == "graph.connected_components" and "edges" not in p:
            p["edges"] = result[0]


def run(ctx) -> dict:
    spark, names = ctx.spark, CORPUS_QUERIES
    with open(EXPECTED) as f:
        expected = json.load(f)
    rng = random.Random(ctx.seed)
    tr = ctx.tracer
    if tr is not None:
        install_spans(tr)
        tr.enabled = False

    # warm-up passes: codegen, JIT and Python workers (not measured)
    t0 = time.time()
    for _ in range(WARMUP_PASSES):
        for name in names:
            run_query(spark, name)
    ctx.warmup_s = time.time() - t0
    ctx.setup_done()

    latencies, pass_times, failures, attempted = [], [], [], 0
    records = []
    min_passes = 1 if tr is None else 2  # traced runs alternate traced/untraced
    phase0 = time.time()
    k = 0
    while True:
        order = rng.sample(names, len(names))
        traced = tr is not None and k % 2 == 1
        t_pass = time.time()
        for name in order:
            # the window closes between ops; an unfinished pass is not a pass
            if k >= min_passes and time.time() - phase0 >= ctx.seconds:
                break
            if tr is not None:
                tr.op_id = f"p{k}:{name}"
                tr.enabled = traced
                mark = ctx.store.mark()
            build_s, wall_s, rows = run_query(spark, name)
            t_end = time.time()
            attempted += 1
            if not result_ok(rows, expected[name]):
                failures.append(name)
                ctx.log(f"{name}: result {gates.table_digest(rows)} differs from pinned "
                        f"{expected[name]}")
            latencies.append((name, wall_s))
            if tr is not None:
                st = ctx.store.since(mark)
                in_job = union_seconds(st["intervals"], t_end - wall_s, t_end)
                records.append({
                    "pass": k, "query": name, "traced": traced, "wall_s": wall_s,
                    "build_s": build_s, "in_job_s": in_job, "driver_s": wall_s - in_job,
                    **{x: st[x] for x in ("jobs", "stages", "tasks", "shuffle_read_bytes",
                                          "shuffle_write_bytes", "input_bytes")},
                })
        else:
            pass_times.append(time.time() - t_pass)
            k += 1
            continue
        break
    phase_s = time.time() - phase0
    ctx.log(f"warm-up {ctx.warmup_s:.2f} s; pass times: "
            + " ".join(f"{t:.2f}" for t in pass_times))
    # queries per second of query time: result gates run between queries
    busy_s = sum(seconds for _name, seconds in latencies)

    result = {
        "attempted": attempted,
        "failed": len(failures),
        "ops": latencies,
        "throughput_per_s": len(latencies) / busy_s,
        "detail": {
            "pass_s": statistics.median(pass_times),
            "passes": len(pass_times),
            "queries_per_pass": len(names),
            "measured_s": phase_s,
        },
    }
    if tr is None:
        return result

    layer = {}
    # per-pass sums over the complete traced passes
    traced_passes = sorted({r["pass"] for r in records if r["traced"] and r["pass"] < k})
    for key in ("build_s", "driver_s", "in_job_s", "jobs", "stages", "tasks",
                "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes"):
        layer["query." + key] = statistics.median(
            sum(r[key] for r in records if r["pass"] == p) for p in traced_passes
        ) if traced_passes else 0.0
    # connected components of the complete traced passes only (op ids
    # are `p{pass}:{query}`), summed per pass, median over passes
    cc = [s for s in tr.select("graph.connected_components")
          if int(s["op"][1:].split(":")[0]) in traced_passes]
    layer["graph.connected_components_s"] = statistics.median(
        sum(s["end"] - s["start"] for s in cc if s["op"].startswith(f"p{p}:"))
        for p in traced_passes
    ) if traced_passes else 0.0
    layer["graph.edges"] = float(statistics.median([s.get("edges", 0) for s in cc])) if cc else 0.0
    result["layer"] = layer
    result["overhead"] = (
        [r["wall_s"] for r in records if r["traced"]],
        [r["wall_s"] for r in records if not r["traced"]],
    )
    result["records"] = records
    return result
