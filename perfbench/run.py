"""Benchmark of the flight-session engine: cycles, stream and catalog.

Run from the repository root::

    python3 perfbench/run.py --workload cycle_small --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones, measured with no wrappers installed:

- ``setup_s``: session build, input generation, metadata ETL and the
  untimed warm-up operations (see each workload module).
- ``op_rel_p50``: the median wall time of one operation divided by the
  median wall time of fixed reference Spark work (no engine code, see
  ``Context.reference_s``). The reference runs in a session of its own
  whose SQL settings the benchmark fixes, so the engine's session
  settings do not reach it. An operation is a full ``FlightPipeline``
  cycle (active then complete task; the reference runs before each
  cycle and twice after the last) or one stream micro-batch
  (``triggerExecution``; the reference, its aggregation part only, runs
  after the query stops). On a shared host the same code's wall time
  moves by up to 2x with the neighbours' load; the reference moves with
  it, so the ratio is what a commit changes. It
  shares the JVM, though: a change to JVM-wide settings or state moves
  both sides, so read such a change from the side file's ``op_p50_s``.
- ``peak_rss_mb``: high-water RSS of this process plus the JVM.

With ``--trace 1`` a separate run wraps the engine's public functions
(see ``perfbench/spans.py``) and prints per-operation medians of
``layer.*`` times (input normalization, plan build, execution and the
rest of the operation) and ``spark.*`` execution metrics summed over the
operation's jobs. Traced ``cycle_small`` runs add per-pass medians of
``catalog.build_s`` and ``catalog.exec_s`` (``perfbench/catalog.py``).
The wall-clock figures (``op_p50_s``, ``op_tail_s`` — the highest
percentile with at least ten operations beyond it, never below the
median — with its percentile and count, ``records_per_s``), every
metric named only for some workloads (cycle, active and complete
medians, stream progress fields, catalog phases), the per-module layer
table, the spans and the tracing overhead go to
the side file ``.perfbench/out/<workload>-seed<seed>-trace<0|1>.json``.

Load shape: one process, one driver thread, ``local[<cpus>]`` with as
many shuffle partitions; closed loops (the next operation starts when
the previous one has finished). The synthetic clock advances 300 s per
cycle through the injected ``now_epoch``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BENCH_DIR = ROOT / ".perfbench"
END_TO_END = {
    "setup_s": "s",
    "op_rel_p50": "ratio",
    "peak_rss_mb": "MB",
}
REFERENCE_ROWS = 4_000_000
REFERENCE_JOBS = 5
REFERENCE_FILE_ROWS = 20_000
REFERENCE_WARMUP = 3
# SQL settings of the reference job's session; every other spark.sql
# setting is reset to Spark's default there
REFERENCE_SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}
PER_LAYER = {
    "layer.ingest_s": "s",
    "layer.plan_s": "s",
    "layer.exec_s": "s",
    "layer.other_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    # measured on cycle_small only (perfbench/catalog.py); 0 elsewhere
    "catalog.build_s": "s",
    "catalog.exec_s": "s",
}


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    work: Path
    tracer: object | None  # spans.Tracer in traced runs
    reference: object  # the reference job's session, see reference_session()

    def span(self, name: str):
        """A tracer span in traced runs, else a context that does nothing."""
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def reference_s(self, fixed_costs: bool = True) -> float:
        """Wall seconds of fixed Spark work that uses none of the engine's
        code: a yardstick of how fast this host runs Spark at this moment.

        It has the parts a cycle has: a scan, shuffle and aggregation on
        every core; with ``fixed_costs``, also a chain of single-task jobs
        (the fixed cost of a job) and a small parquet write and read-back
        (the file-system path of a state commit or a fact append). Over
        the same ten cycle runs the ratio to all three parts spread 0.076
        (IQR/median), to the aggregation alone 0.125. A micro-batch is one
        larger execution: over six stream runs the ratio to the
        aggregation alone spread 0.081, to all three parts 0.148.
        """
        ref = self.reference
        t = time.perf_counter()
        ref.range(REFERENCE_ROWS, numPartitions=4).selectExpr(
            "id % 1024 AS k"
        ).groupBy("k").count().collect()
        if not fixed_costs:
            return time.perf_counter() - t
        for _ in range(REFERENCE_JOBS):
            ref.range(100, numPartitions=1).count()
        path = str(self.work / "reference.parquet")
        ref.range(REFERENCE_FILE_ROWS, numPartitions=2).selectExpr(
            "id", "CAST(id AS STRING) AS s"
        ).write.mode("overwrite").parquet(path)
        ref.read.parquet(path).count()
        return time.perf_counter() - t

    def warm_reference(self, fixed_costs: bool = True) -> None:
        """Untimed runs of the yardstick: its first runs in a JVM are up to
        2x slower than the later ones."""
        for _ in range(REFERENCE_WARMUP):
            self.reference_s(fixed_costs)


@dataclass
class Outcome:
    """What a workload reports back to the harness."""

    setup_s: float
    op_seconds: list[float]
    op_records: list[int]  # input records of each timed operation
    reference_s: list[float]  # Context.reference_s() samples around the timed operations
    attempted: int
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # per timed operation: layer.* and spark.* values (traced runs only)
    layers: list[dict[str, float]] = field(default_factory=list)
    # per-layer medians measured apart from the timed operations (traced runs)
    extra_layers: dict[str, float] = field(default_factory=dict)
    details: dict = field(default_factory=dict)  # side file only
    stamp: dict = field(default_factory=dict)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest nearest-rank percentile with at
    least ten values above it, but not below the median."""
    n = len(values)
    p = max(0.5, 1 - 10 / n)
    if p == 0.5:
        return 50.0, statistics.median(values)
    return round(100 * p, 2), sorted(values)[math.ceil(p * n) - 1]


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def git_commit() -> str | None:
    if not (ROOT / ".git").exists():  # a bare checkout: no commit to name
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def build_spark(app: str, cpus: int, work: Path, streaming: bool):
    from aircraftutilization_etl_spark.session import build_session

    local = work / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    spark = build_session(
        app_name=app,
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        streaming=streaming,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(local),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # keep the JVM's temp files in the work directory; no
            # /tmp/hsperfdata counters
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def reference_session(spark, cpus: int):
    """A session for the reference job: it shares the SparkContext but
    not the SQL settings the engine's ``build_session`` chose."""
    ref = spark.newSession()
    for key, _ in spark.sparkContext.getConf().getAll():
        if key.startswith("spark.sql.") and ref.conf.isModifiable(key):
            ref.conf.unset(key)
    for key, value in REFERENCE_SQL_CONF.items():
        ref.conf.set(key, value)
    ref.conf.set("spark.sql.shuffle.partitions", str(cpus))
    return ref


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_summary(layers: list[dict[str, float]]) -> tuple[dict, dict]:
    """Per-operation median and run total of every traced value."""
    keys = sorted({k for op in layers for k in op})
    return (
        {k: statistics.median(op.get(k, 0.0) for op in layers) for k in keys},
        {k: sum(op.get(k, 0.0) for op in layers) for k in keys},
    )


def load_workloads() -> dict:
    from perfbench import cycle, stream

    return {"cycle_small": cycle.run, "stream_sessions": stream.run}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # Python workers import the engine package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("TZ", "UTC")
    import aircraftutilization_etl_spark  # noqa: F401 — fail before any work

    workloads = load_workloads()
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads)}",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = BENCH_DIR / "work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM

    from perfbench.spans import Tracer

    t0 = time.perf_counter()
    spark = build_spark(
        f"perfbench-{args.workload}", cpus, work, args.workload.startswith("stream")
    )
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark) if args.trace else None
        ctx = Context(spark, args.seed, args.seconds, work, tracer,
                      reference_session(spark, cpus))
        outcome = workloads[args.workload](ctx)
        rss = peak_rss_mb([os.getpid(), spark.sparkContext._gateway.proc.pid])  # noqa: SLF001
        if tracer is not None:
            tracer.restore()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    import pandas
    import pyarrow
    import pyspark

    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cpus": cpus,
        "spark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": git_commit(),
        **outcome.stamp,
    }
    ops = outcome.op_seconds
    # a run without a timed operation reports 0 for what it could not measure
    tail_p, tail_v = tail(ops) if ops else (None, 0.0)
    e2e = {
        "setup_s": session_s + outcome.setup_s,
        "op_rel_p50": statistics.median(ops) / statistics.median(outcome.reference_s)
        if ops else 0.0,
        "peak_rss_mb": rss,
    }
    side = {
        "stamp": stamp,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "error_rate": outcome.failed / max(outcome.attempted, 1),
        "errors": outcome.errors,
        "session.build_s": session_s,
        "n_ops": len(ops),
        "op_p50_s": statistics.median(ops) if ops else None,
        "op_tail_s": tail_v,
        "op_tail_percentile": tail_p,
        "records_per_s": statistics.median(
            r / t for r, t in zip(outcome.op_records, ops)
        ) if ops else None,
        "reference_s": outcome.reference_s,
        "op_seconds": ops,
        "end_to_end": e2e,
        **outcome.details,
    }
    if args.trace:
        metrics, totals = layer_summary(outcome.layers) if outcome.layers else ({}, {})
        metrics.update(outcome.extra_layers)
        side["per_layer_p50"] = metrics
        side["per_layer_totals"] = totals
        side["per_op_layers"] = outcome.layers
        side["spans"] = tracer.to_json()
        side["trace_overhead"] = trace_overhead(args, stamp, side)
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    out_dir = BENCH_DIR / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    side_path = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    side_path.write_text(json.dumps(side, indent=1, default=str))
    for err in outcome.errors:
        print(f"perfbench: {err}", file=sys.stderr)
    print(json.dumps({
        "correct": outcome.failed == 0 and len(ops) > 0,
        "attempted": max(outcome.attempted, 1),
        "failed": outcome.failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u}
                    for k, u in units.items()},
    }))
    return 0


def trace_overhead(args, stamp: dict, traced: dict) -> dict | None:
    """Traced against untraced ``op_p50_s`` (seconds) and ``op_rel_p50``
    (share; steady when the host's speed has changed between the runs),
    if an untraced run of the same workload, seed and stamp left its side
    file here."""
    path = BENCH_DIR / "out" / f"{args.workload}-seed{args.seed}-trace0.json"
    try:
        plain = json.loads(path.read_text())
    except (OSError, ValueError):
        return None
    if plain.get("stamp") != stamp or not traced["op_p50_s"] or not plain["op_p50_s"]:
        return None
    return {
        "op_p50_s": traced["op_p50_s"] - plain["op_p50_s"],
        "op_rel_p50_share": traced["end_to_end"]["op_rel_p50"]
        / plain["end_to_end"]["op_rel_p50"] - 1,
    }


if __name__ == "__main__":
    # import the benchmark as the ``perfbench`` package, not as loose
    # modules from its own directory
    sys.path[0] = str(ROOT)
    raise SystemExit(main())
