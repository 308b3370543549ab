#!/usr/bin/env python3
"""Benchmark for the CDC lake engine: one workload per process, one client,
closed loop, on `local[4]`.

    python3 perfbench/run.py --workload cdc_minute --seed 1 --seconds 25 --trace 0

Workloads (NOTES.md says why each was chosen and gives its sizes):
  cdc_minute      snapshot load + minute-grain CDC stream + validation
  corpus_curate   LLM-data curation query mix over documents/embeddings

With `--trace 0` the last stdout line carries the end-to-end metrics; with
`--trace 1` it carries the per-layer metrics, taken from spans around the
engine's public calls and from Spark's status store, and the spans are
written to `.perfbench_out/`. Every output is checked; the line's
`correct`, `attempted` and `failed` report the gates. A readable report of
every metric goes to stderr.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "dynamodb_to_datalake_project_spark"
CPUS = 4
DRIVER_MEM = "1g"

# Workload names and metric name -> unit come from BENCHMARK.json, the one
# list of them; a layer a workload does not reach reports 0.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
WORKLOADS = tuple(w["name"] for w in _SPEC["workloads"])
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


class Context:
    """What a workload needs: the session, its inputs' seed, the measuring
    window, and (traced runs only) the tracer and status store."""

    def __init__(self, spark, seed, seconds, work, tracer=None, store=None):
        self.spark, self.seed, self.seconds, self.work = spark, seed, seconds, work
        self.tracer, self.store = tracer, store
        self.warmup_s = 0.0
        self.first_op_at = None

    def setup_done(self) -> None:
        self.first_op_at = time.time()

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def kind_p50(ops: list[tuple[str, float]]) -> float:
    """Geometric mean over op kinds (one per query; one for CDC batches)
    of each kind's median latency. Pooling a mix's queries into one
    median would jump between the latency levels of single queries."""
    by_kind: dict[str, list[float]] = {}
    for kind, seconds in ops:
        by_kind.setdefault(kind, []).append(seconds)
    logs = [math.log(statistics.median(v)) for v in by_kind.values()]
    return math.exp(sum(logs) / len(logs))


def tail(xs: list[float]) -> tuple[float, int]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; the median when fewer than 20 samples exist."""
    s = sorted(xs)
    n = len(s)
    if n < 20:
        return statistics.median(s), 50
    return s[n - 11], int(100 * (n - 10) // n)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Engine knobs and scratch locations, all inside the checkout."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = "-Djava.io.tmpdir=" + os.path.join(work, "tmp")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    sys.path[:0] = [ROOT, HERE]


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate, then reap
            proc.kill()
            proc.wait(timeout=30)


@contextmanager
def spark_session(tag: str):
    """A scratch directory under the checkout, the engine's session on
    `local[CPUS]` and the seconds `get_spark` took; everything is stopped
    and removed on exit."""
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    os.makedirs(work)
    try:
        configure_env(work)
        os.chdir(work)
        from dynamodb_to_datalake_project_spark import catalog, session

        catalog.load_all()
        t0 = time.time()
        spark = session.get_spark("perfbench", master=f"local[{CPUS}]")
        try:
            yield spark, work, time.time() - t0
        finally:
            stop_spark(spark)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass


def measure(args, spark, work: str, get_spark_s: float) -> dict:
    import cdc_minute
    import kernels
    import querymix
    from spans import StatusStore, Tracer, tree_peak_rss_mb

    tracer = store = None
    if args.trace:
        tracer, store = Tracer(), StatusStore(spark)
    ctx = Context(spark, args.seed, args.seconds, work, tracer, store)
    t0 = time.time()
    spark.range(1).count()  # first action: executor and codegen start-up
    generic_warmup_s = time.time() - t0
    if args.workload == "cdc_minute":
        res = cdc_minute.run(ctx)
    else:
        res = querymix.run(ctx)
    peak_rss, rss_by_name = tree_peak_rss_mb()
    mem_gbps = kernels.host_mem_gbps()
    layer = dict.fromkeys(PER_LAYER, 0.0)
    layer["host.mem_gbps"] = mem_gbps
    if tracer is not None:
        tracer.enabled = False
        layer.update(res["layer"])
        layer["session.get_spark_s"] = get_spark_s
        layer["setup.warmup_s"] = generic_warmup_s + ctx.warmup_s
        traced_ops, untraced_ops = res["overhead"]
        if traced_ops and untraced_ops:
            layer["trace.overhead_pct"] = 100.0 * (
                statistics.median(traced_ops) / statistics.median(untraced_ops) - 1.0)
        layer["lake.load_table_s"], per_table = kernels.load_table_probe(
            spark, querymix.FIXTURES)
        layer.update(kernels.decode_probes(args.seed))
        out = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump({"spans": tracer.spans, "records": res.get("records", []),
                       "load_table_s": per_table, "layer": layer}, f)
        tracer.unwrap_all()

    op_tail, pct = tail([seconds for _kind, seconds in res["ops"]])
    e2e = {
        "setup_s": ctx.first_op_at - T_START,
        "peak_rss_mb": peak_rss,
        "op_p50_s": kind_p50(res["ops"]),
        "throughput_per_s": res["throughput_per_s"],
    }
    detail = dict(res["detail"])
    detail.update({
        "op_failure_ratio": res["failed"] / res["attempted"],
        "op_tail_s": op_tail,
        "op_tail_percentile": pct,
        "op_samples": len(res["ops"]),
        "host.mem_gbps": mem_gbps,
        **{f"peak_rss_mb.{name}": mb for name, mb in sorted(rss_by_name.items())},
        "session.get_spark_s": get_spark_s,
    })
    return {"res": res, "e2e": e2e, "layer": layer, "detail": detail}


def report(args, out: dict) -> None:
    """Readable account of every metric, on stderr."""
    lines = [f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}"]
    for k, v in out["e2e"].items():
        lines.append(f"  {k:<42} {v:>14.4f} {END_TO_END[k]}")
    for k, v in out["detail"].items():
        lines.append(f"  {k:<42} {v:>14.4f}")
    if args.trace:
        for k, v in out["layer"].items():
            lines.append(f"  {k:<42} {v:>14.4f} {PER_LAYER[k]}")
    print("\n".join(lines), file=sys.stderr, flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a TERM from outside unwinds like an error, so the JVM is stopped and
    # the scratch directory removed
    signal.signal(signal.SIGTERM, lambda _sig, _frame: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: engine package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    with spark_session(f"{args.workload}-{args.seed}") as (spark, work, get_spark_s):
        out = measure(args, spark, work, get_spark_s)
    report(args, out)
    res = out["res"]
    metrics = out["layer"] if args.trace else out["e2e"]
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
