"""The ``plans`` catalog's layers, measured in traced ``cycle_small`` runs.

The catalog is not a workload of its own: three workloads' runs do not
fit the benchmark's time budget on a 4-core host, and the 70-query
headline in ``bench.py`` already times the catalog end to end. After a
traced run's timed cycles, :func:`trace_passes` executes each query
through ``CATALOG[name].spark`` and a noop sink, closed loop, on a
seeded table with the shape of the repository's synthetic ``events``
test table (TESTDATA.md). Two passes are untimed warm-up: the first
collects each query's result, whose hash is then compared with the
DuckDB oracle's from ``__spark_entry__.oracle_sql()``; the second runs
the traced path untraced (a single warm-up pass left the next two
passes 20-60% slower than the ones after them).
"""

from __future__ import annotations

import datetime as dt
import math
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.check_oracles import table_hash

# flight-parity kernels and the sessionize window; all run in the JVM
# (the Python session fold is measured by stream_sessions)
QUERIES = (
    "q_flight_status_kernel",
    "q_flight_session_rollup",
    "q_events_sessionize",
)
N_EVENTS = 20_000
PASSES = 3  # traced passes after two untimed warm-up passes
EVENTS_PER_USER = 66  # as in the test tables: 10k events over 150 users
SPAN_DAYS = 30


def write_events(path: str, seed: int) -> None:
    """The test tables' ``events`` layout: ids in time order, µs timestamps
    over 30 days from 2024-01-01, five event types, exponential values
    and ``{"k": n}`` props."""
    n = N_EVENTS
    rng = np.random.default_rng([seed, n])
    start_us = int(dt.datetime(2024, 1, 1).timestamp() * 1_000_000)
    ts = np.sort(rng.integers(0, SPAN_DAYS * 86_400 * 1_000_000, size=n)) + start_us
    kinds = np.array(["view", "click", "signup", "purchase", "error"], dtype=object)
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n // EVENTS_PER_USER, 1), size=n)),
        "event_type": pa.array(kinds[rng.integers(0, kinds.size, size=n)].tolist()),
        "value": pa.array(rng.exponential(50.0, size=n).round(2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n).tolist()]),
    })
    pq.write_table(table, path)


def result_digest(columns, rows) -> tuple:
    """What the oracle check compares: row count, column names and
    ``tools/check_oracles.py``'s value hash."""
    return len(rows), sorted(columns), table_hash(columns, rows)


def result_hashes(spark, sf_dir: str) -> dict[str, tuple]:
    """:func:`result_digest` of each query's collected result."""
    from aircraftutilization_etl_spark.plans import CATALOG

    out = {}
    for name in QUERIES:
        df = CATALOG[name].spark(spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        out[name] = result_digest(df.columns, rows)
    return out


def check_oracles(digests: dict[str, tuple], events_path: str) -> list[str]:
    import duckdb

    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{events_path}'")
        errors = []
        for name, digest in digests.items():
            rel = con.sql(oracles[name])
            oracle = result_digest([d[0] for d in rel.description], rel.fetchall())
            if not digest[0]:
                errors.append(f"{name}: empty result")
            elif digest != oracle:
                errors.append(f"{name}: result differs from its DuckDB oracle "
                              f"({digest[0]} rows vs {oracle[0]})")
        return errors
    finally:
        con.close()


def _install_wrappers(tracer) -> None:
    import sys

    from aircraftutilization_etl_spark.plans import catalog

    # plan modules import table() by name: patch it where each looks
    original = catalog.table
    for name, module in list(sys.modules.items()):
        if name.startswith("aircraftutilization_etl_spark.plans") and \
                getattr(module, "table", None) is original:
            tracer.wrap(module, "table", "catalog.table")


def _phases(df) -> dict[str, float]:
    """Catalyst analysis / optimization / planning ms of ``df``'s own
    QueryExecution (planned here, after the timed execution)."""
    qe = df._jdf.queryExecution()  # noqa: SLF001
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalog.{phase}_ms"] = (
            float(phases.apply(phase).durationMs()) if phases.contains(phase) else 0.0
        )
    return out


def trace_passes(ctx) -> dict:
    """Traced catalog passes after a traced cycle run's timed window.

    Returns ``layers`` (per-pass medians of the ``catalog.*`` figures),
    ``details`` (side file), ``attempted``, ``failed`` and ``errors``.
    """
    from aircraftutilization_etl_spark.plans import CATALOG

    spark, tracer = ctx.spark, ctx.tracer
    sf_dir = ctx.work / "tables"
    sf_dir.mkdir(parents=True)
    events_path = str(sf_dir / "events.parquet")
    write_events(events_path, ctx.seed)
    # the first warm-up pass collects the results the oracles check
    digests = result_hashes(spark, str(sf_dir))
    for name in QUERIES:
        spark.catalog.clearCache()
        CATALOG[name].spark(spark, str(sf_dir)).write.mode("overwrite").format("noop").save()

    _install_wrappers(tracer)
    passes, per_query, layers, errors, raised = [], {q: [] for q in QUERIES}, [], [], 0
    for _ in range(PASSES):
        total, layer = 0.0, {}
        for name in QUERIES:
            spark.catalog.clearCache()  # a query's persist() must not serve its rerun
            try:
                with ctx.span("catalog.query") as root:
                    with ctx.span("catalog.build") as build:
                        df = CATALOG[name].spark(spark, str(sf_dir))
                    with ctx.span("catalog.exec") as exe:
                        df.write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001 — a failed query is a result
                raised = 1
                errors.append(f"{name} raised {type(exc).__name__}: {exc}"[:500])
                break
            q = _query_layers(tracer, root, build, exe)
            q.update(_phases(df))
            for k, v in q.items():
                layer[k] = layer.get(k, 0.0) + v
                layer[f"{name}.{k}"] = v
            per_query[name].append(root.seconds)
            total += root.seconds
        if raised:
            break
        passes.append(total)
        layers.append(layer)

    wrong = [] if raised else check_oracles(digests, events_path)
    medians = {q: statistics.median(v) for q, v in per_query.items() if v}
    keys = sorted({k for layer in layers for k in layer})
    return {
        "layers": {k: statistics.median(layer[k] for layer in layers) for k in keys},
        "details": {
            "passes": len(passes),
            "queries": list(QUERIES),
            "events": N_EVENTS,
            "per_query_p50_s": medians,
            "catalog_total_s": statistics.median(passes) if passes else None,
            "catalog_geomean_s": math.exp(
                statistics.fmean(math.log(v) for v in medians.values())
            ) if len(medians) == len(QUERIES) else None,
        },
        "attempted": len(passes) * len(QUERIES) + raised,
        "failed": raised + len(wrong),
        "errors": errors + wrong,
    }


def _query_layers(tracer, root, build, exe) -> dict[str, float]:
    totals = tracer.layer_totals(root.idx)
    table_s = totals.get("catalog.table", {}).get("s", 0.0)
    spark_keys = [k for k in totals["catalog.query"] if k.startswith("spark.")]
    out = {
        f"catalog.{k}": sum(agg.get(k, 0.0) for agg in totals.values()) for k in spark_keys
    }
    out.update({
        "catalog.build_s": build.seconds,
        "catalog.build_jobs": build.counts["spark.jobs"] + sum(
            tracer.spans[i].counts.get("spark.jobs", 0.0)
            for i in tracer.descendants(build.idx)
        ),
        "catalog.exec_s": exe.seconds,
        "catalog.exec_jobs": exe.counts["spark.jobs"],
        "catalog.table_s": table_s,
    })
    return out
