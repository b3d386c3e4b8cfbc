"""``cycle_small``: the 5-minute ``adsb_etl`` cycle.

Each cycle runs ``run_active_flights`` then ``run_complete_flights`` on
one synthetic snapshot, closed loop. Counts come from the state vectors
generated and from parquet footers read with pyarrow, never from
``FlightPipeline.last_metrics`` (its ``n_complete`` reads 1 on cycles
that write hundreds of facts) and never from a Spark job. Traced runs
then measure the catalog's layers (``perfbench/catalog.py``).
"""

from __future__ import annotations

import datetime as dt
import json
import statistics
import time
from collections import Counter
from pathlib import Path

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench.catalog import trace_passes
from perfbench.feed import Feed, write_metadata_csv

FLEET = 2_000
# untimed cycles: 0 holds only takeoffs, 1 is the first fact append and 2
# the first append behind the sink's anti-join guard (~30% slower than
# the cycles after it on a 4-core host)
WARMUP_CYCLES = 3


def _install_wrappers(tracer) -> None:
    import aircraftutilization_etl_spark.pipeline as pipeline
    from aircraftutilization_etl_spark.sources.parquet_io import StateStore

    # pipeline.py imports its helpers by name: patch them where it looks
    for attr, name in (
        ("states_response_to_df", "rest.normalize"),
        ("merge_states", "flight.merge_build"),
        ("classify_and_split", "flight.split_build"),
        ("append_facts", "sink.append"),
        ("read_parquet_or_empty", "state.read"),
    ):
        tracer.wrap(pipeline, attr, name)
    for attr, name in (
        ("read", "state.read"),
        ("commit", "state.commit"),
        ("vacuum", "state.vacuum"),
        ("current_version", "state.version"),
    ):
        tracer.wrap(StateStore, attr, name)
    tracer.wrap(pipeline.FlightPipeline, "run_active_flights", "pipeline.active")
    tracer.wrap(pipeline.FlightPipeline, "run_complete_flights", "pipeline.complete")


def _parquet_files(root: Path) -> dict[str, int]:
    return {
        str(p): p.stat().st_size
        for p in root.rglob("*.parquet")
        if not any(part.startswith((".", "_")) for part in p.relative_to(root).parts)
    }


def _rows(paths) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def _state_counts(state_root: Path) -> dict[str, float]:
    version = json.loads((state_root / "_MANIFEST.json").read_text())["version"]
    files = _parquet_files(state_root / version)
    return {
        "state.rows": float(_rows(files)),
        "state.bytes": float(sum(files.values())),
        "state.generations": float(sum(1 for p in state_root.glob("v_*"))),
    }


# layer.* roles of the cycle's spans (self times, so nothing counts twice)
ROLES = {
    "rest.normalize": "layer.ingest_s",
    "flight.merge_build": "layer.plan_s",
    "flight.split_build": "layer.plan_s",
    "state.read": "layer.exec_s",
    "state.commit": "layer.exec_s",
    "state.vacuum": "layer.exec_s",
    "state.version": "layer.exec_s",
    "sink.append": "layer.exec_s",
}


def _cycle_layers(tracer, idx: int) -> dict[str, float]:
    """One cycle's spans: ``<span>_s`` wall and ``<span>.self_s`` self
    time per span name, their ``layer.*`` roles and summed ``spark.*``."""
    out = {"cycle_wall_s": tracer.spans[idx].seconds}
    for name, agg in tracer.layer_totals(idx).items():
        out[f"{name}_s"] = agg["s"]
        out[f"{name}.self_s"] = agg["self_s"]
        out[f"{name}.calls"] = agg["calls"]
        role = ROLES.get(name, "layer.other_s")
        out[role] = out.get(role, 0.0) + agg["self_s"]
        for k, v in agg.items():
            if k.startswith("spark."):
                out[k] = out.get(k, 0.0) + v
                out[f"{name}.{k}"] = v
    out["pipeline.self_s"] = out["layer.other_s"]
    out["self_time_coverage"] = sum(
        out.get(role, 0.0) for role in set(ROLES.values()) | {"layer.other_s"}
    ) / out["cycle_wall_s"]
    return out


def _facts_check(facts_root: Path, expected: Counter, registrations) -> list[str]:
    if not facts_root.exists():
        return [] if not expected else [f"no facts written, {sum(expected.values())} expected"]
    table = ds.dataset(facts_root, format="parquet", partitioning="hive").to_table(
        columns=["icao24", "landed_at", "flight_duration_minutes", "registration"]
    )
    got = Counter()
    wrong_reg = 0
    for icao, landed, minutes, reg in zip(*(c.to_pylist() for c in table.columns)):
        epoch = int(landed.replace(tzinfo=dt.timezone.utc).timestamp())
        got[(icao, epoch, minutes)] += 1
        wrong_reg += reg != registrations.get(icao)
    errors = []
    if got != expected:
        missing, extra = expected - got, got - expected
        errors.append(
            f"facts differ from the generator's: {sum(missing.values())} missing "
            f"(e.g. {list(missing)[:2]}), {sum(extra.values())} unexpected "
            f"(e.g. {list(extra)[:2]})"
        )
    if wrong_reg:
        errors.append(f"{wrong_reg} facts carry the wrong registration")
    return errors


def run(ctx):
    from aircraftutilization_etl_spark.pipeline import FlightPipeline
    from perfbench.run import Outcome

    work = ctx.work / "cycle"
    work.mkdir(parents=True, exist_ok=True)
    state_root, facts_root = work / "state", work / "facts"

    t0 = time.perf_counter()
    feed = Feed(FLEET, ctx.seed)
    registrations = write_metadata_csv(feed, str(work / "aircraft.csv"))
    pipe = FlightPipeline(ctx.spark, str(state_root), str(facts_root), str(work / "metadata"))
    pipe.run_metadata_etl(str(work / "aircraft.csv"))
    expected: Counter = Counter()
    for k in range(WARMUP_CYCLES):
        snap = feed.snapshot(k)
        pipe.run_active_flights(snap.payload, now_epoch=snap.now_epoch)
        pipe.run_complete_flights()
        expected.update(snap.facts)
    setup_s = time.perf_counter() - t0
    ctx.warm_reference()

    tracer = ctx.tracer
    if tracer is not None:
        _install_wrappers(tracer)
    ops, active, complete, vectors, layers, errors, refs = [], [], [], [], [], [], []
    raised = 0
    seen_files = _parquet_files(facts_root) if facts_root.exists() else {}
    k, deadline = WARMUP_CYCLES, time.perf_counter() + ctx.seconds
    while time.perf_counter() < deadline:
        snap = feed.snapshot(k)
        ref = ctx.reference_s()
        try:
            with ctx.span("cycle") as span:
                t1 = time.perf_counter()
                pipe.run_active_flights(snap.payload, now_epoch=snap.now_epoch)
                mid = time.perf_counter()
                pipe.run_complete_flights()
                t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 — a failed cycle is a result
            raised = 1
            errors.append(f"cycle {k} raised {type(exc).__name__}: {exc}"[:500])
            break
        refs.append(ref)
        expected.update(snap.facts)
        ops.append(t2 - t1)
        active.append(mid - t1)
        complete.append(t2 - mid)
        n_vec = len(snap.payload["states"])
        vectors.append(n_vec)
        if tracer is not None:
            layer = _cycle_layers(tracer, span.idx)
            files = _parquet_files(facts_root) if facts_root.exists() else {}
            new = {p: b for p, b in files.items() if p not in seen_files}
            seen_files = files
            layer.update(_state_counts(state_root))
            layer.update({
                "rest.vectors": float(n_vec),
                "sink.rows_appended": float(_rows(new)),
                "sink.files": float(len(new)),
                "sink.bytes": float(sum(new.values())),
                "pipeline.jobs_per_cycle": layer.get("spark.jobs", 0.0),
            })
            layers.append(layer)
        k += 1
    refs += [ctx.reference_s(), ctx.reference_s()]

    wrong = _facts_check(facts_root, expected, registrations)
    errors += wrong
    failed = raised + bool(wrong)
    attempted = max(len(ops) + raised, failed)
    details = {
        "cycles": k - WARMUP_CYCLES,
        "facts_expected": sum(expected.values()),
        "cycle_p50_s": statistics.median(ops) if ops else None,
        "active_p50_s": statistics.median(active) if active else None,
        "complete_p50_s": statistics.median(complete) if complete else None,
        "vectors_per_s": sum(vectors) / sum(ops) if ops else None,
    }
    catalog = trace_passes(ctx) if tracer is not None else None
    if catalog is not None:
        details["catalog"] = catalog["details"]
        errors += catalog["errors"]
        failed += catalog["failed"]
        attempted += catalog["attempted"]
    return Outcome(
        setup_s=setup_s,
        op_seconds=ops,
        op_records=vectors,
        reference_s=refs,
        attempted=attempted,
        failed=failed,
        errors=errors,
        layers=layers,
        extra_layers=catalog["layers"] if catalog is not None else {},
        details=details,
        stamp={"fleet": FLEET},
    )
