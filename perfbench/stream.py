"""``stream_sessions``: ``run_flight_stream`` over ``format("opensky")``.

The feed's snapshots are written as payload files, one per micro-batch,
and the query runs with a processing-time trigger of "0 seconds", so the
next micro-batch starts as soon as the previous one has committed. A
lead of ``LEAD_FILES`` files is kept ahead of the last committed batch,
so the stream never waits for input; once the window has passed, no
file is added and the files written are drained. Every micro-batch after
the warm-up is timed.

Not ``availableNow``: over ``format("opensky")`` it commits one batch
from the first payload file and stops. Pending 20-minute timeouts keep
no-data batches firing, so the query is stopped once every written file
has been committed. Progress comes from a ``StreamingQueryListener``
(``recentProgress`` keeps only 100 events).
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import Counter

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.cycle import _facts_check, _parquet_files, _rows
from perfbench.feed import Feed, write_metadata_csv

FLEET = 1_000
# files written ahead of the last committed batch; all of them are
# timed, so the lead adds micro-batches to a run (with 2, runs held 4-6
# batches and their medians spread 0.19 from run to run)
LEAD_FILES = 4
# untimed micro-batches: the first pays the cold start (~10 s); the next
# two still run ~30% slower than the ones after them
WARMUP_BATCHES = 3
REFERENCE_SAMPLES = 7
WAIT_S = 120  # longest wait for one micro-batch before giving up


class ProgressLog(StreamingQueryListener):
    """Keeps every progress event's JSON; safe to read from the driver thread."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def data_batches(self) -> list[dict]:
        with self._lock:
            return [e for e in self.events if e["numInputRows"] > 0]


def _write_payload(payload_dir: str, k: int, payload: dict) -> None:
    # the reader lists *.json: publish each file complete, by rename
    tmp = os.path.join(payload_dir, f".{k:06d}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(payload, fh)
    os.replace(tmp, os.path.join(payload_dir, f"{k:06d}.json"))


def _wait_batches(query, log: ProgressLog, n: int) -> None:
    deadline = time.perf_counter() + WAIT_S
    while len(log.data_batches()) < n:
        exc = query.exception()
        if exc is not None:
            raise exc
        if not query.isActive or time.perf_counter() > deadline:
            raise RuntimeError(f"stream stalled before micro-batch {n}")
        time.sleep(0.02)


def _batch_layers(event: dict) -> dict[str, float]:
    d = event["durationMs"]
    state = event["stateOperators"][0] if event["stateOperators"] else {}
    ingest = d.get("latestOffset", 0) + d.get("getBatch", 0)
    plan = d.get("queryPlanning", 0)
    exec_ms = d.get("addBatch", 0)
    out = {
        "stream.trigger_ms": d["triggerExecution"],
        "stream.latest_offset_ms": d.get("latestOffset", 0),
        "stream.get_batch_ms": d.get("getBatch", 0),
        "stream.query_planning_ms": plan,
        "stream.add_batch_ms": exec_ms,
        "stream.wal_commit_ms": d.get("walCommit", 0),
        "stream.commit_offsets_ms": d.get("commitOffsets", 0),
        "stream.input_rows": event["numInputRows"],
        "stream.state_rows_total": state.get("numRowsTotal", 0),
        "stream.state_rows_updated": state.get("numRowsUpdated", 0),
        "stream.state_rows_removed": state.get("numRowsRemoved", 0),
        "stream.state_memory_bytes": state.get("memoryUsedBytes", 0),
        "stream.state_commit_ms": state.get("commitTimeMs", 0),
        "layer.ingest_s": ingest / 1000,
        "layer.plan_s": plan / 1000,
        "layer.exec_s": exec_ms / 1000,
        "layer.other_s": (d["triggerExecution"] - ingest - plan - exec_ms) / 1000,
    }
    return {k: float(v) for k, v in out.items()}


def run(ctx):
    from aircraftutilization_etl_spark.pipeline import FlightPipeline
    from aircraftutilization_etl_spark.schemas import METADATA_SCHEMA
    from aircraftutilization_etl_spark.sources.opensky_datasource import OpenSkyDataSource
    from aircraftutilization_etl_spark.sources.parquet_io import read_parquet_or_empty
    from aircraftutilization_etl_spark.streaming.flight_stream import run_flight_stream
    from perfbench.run import Outcome
    from perfbench.spans import spark_job_metrics

    spark = ctx.spark
    work = ctx.work / "stream"
    payload_dir = work / "payloads"
    payload_dir.mkdir(parents=True)
    facts_root = work / "facts"

    t0 = time.perf_counter()
    feed = Feed(FLEET, ctx.seed)
    registrations = write_metadata_csv(feed, str(work / "aircraft.csv"))
    FlightPipeline(spark, str(work / "state"), str(facts_root), str(work / "metadata")) \
        .run_metadata_etl(str(work / "aircraft.csv"))
    metadata = read_parquet_or_empty(spark, str(work / "metadata"), METADATA_SCHEMA)
    spark.dataSource.register(OpenSkyDataSource)
    states = (
        spark.readStream.format("opensky").option("payload_dir", str(payload_dir)).load()
        .select("icao24", "last_contact", "velocity", "vertical_rate")
    )
    log = ProgressLog()
    spark.streams.addListener(log)
    expected: Counter = Counter()
    for k in range(WARMUP_BATCHES):
        snap = feed.snapshot(k)
        _write_payload(str(payload_dir), k, snap.payload)
        expected.update(snap.facts)
    query = run_flight_stream(
        states, metadata, str(facts_root), str(work / "checkpoint"),
        processing_interval="0 seconds",
    )
    errors, raised, written, setup_s, timed_jobs = [], 0, WARMUP_BATCHES, None, []
    try:
        _wait_batches(query, log, WARMUP_BATCHES)
        setup_s = time.perf_counter() - t0
        group = str(query.runId)  # the job group of the stream's jobs
        jobs_before = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        deadline = time.perf_counter() + ctx.seconds
        while True:
            done = len(log.data_batches())
            if time.perf_counter() >= deadline:
                break
            while written < done + LEAD_FILES:
                snap = feed.snapshot(written)
                _write_payload(str(payload_dir), written, snap.payload)
                expected.update(snap.facts)
                written += 1
            _wait_batches(query, log, done + 1)
        _wait_batches(query, log, written)
        timed_jobs = [
            j for j in spark.sparkContext.statusTracker().getJobIdsForGroup(group)
            if j not in jobs_before
        ]
    except Exception as exc:  # noqa: BLE001 — a failed micro-batch is a result
        raised = 1
        errors.append(f"stream raised {type(exc).__name__}: {exc}"[:500])
        if setup_s is None:
            setup_s = time.perf_counter() - t0
    finally:
        query.stop()
        query.awaitTermination(60)
        spark.streams.removeListener(log)

    # micro-batches run on the stream's own thread: take the yardstick once
    # the query has stopped
    ctx.warm_reference(fixed_costs=False)
    references = [ctx.reference_s(fixed_costs=False) for _ in range(REFERENCE_SAMPLES)]
    timed = log.data_batches()[WARMUP_BATCHES:written]
    ops = [e["durationMs"]["triggerExecution"] / 1000 for e in timed]
    rows = [e["numInputRows"] for e in timed]
    layers = []
    if ctx.tracer is not None and timed:
        # the stream's jobs run under its own job group; spread them evenly
        spark_totals = spark_job_metrics(spark, timed_jobs)
        for e in timed:
            layer = _batch_layers(e)
            layer.update({k: v / len(timed) for k, v in spark_totals.items()})
            layers.append(layer)
    wrong = _facts_check(facts_root, expected, registrations) if not raised else []
    errors += wrong
    failed = raised + bool(wrong)
    details = {
        "micro_batches": len(timed),
        "warmup_batch_ms": log.data_batches()[0]["durationMs"] if log.data_batches() else None,
        "no_data_batches": sum(1 for e in log.events if e["numInputRows"] == 0),
        "facts_expected": sum(expected.values()),
        # the file sink reports numOutputRows as -1: count its footers
        "sink.rows": _rows(_parquet_files(facts_root)) if facts_root.exists() else 0,
        "stream_events_per_s": sum(rows) / sum(ops) if ops else None,
        "stream_batch_p50_s": statistics.median(ops) if ops else None,
    }
    return Outcome(
        setup_s=setup_s,
        op_seconds=ops,
        op_records=rows,
        reference_s=references,
        attempted=max(len(ops) + raised, failed),
        failed=failed,
        errors=errors,
        layers=layers,
        details=details,
        stamp={"fleet": FLEET},
    )
