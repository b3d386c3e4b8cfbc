"""End-to-end pipeline cycles: feed payloads → EP1 → EP2 → facts.

Replays a multi-batch scenario through the batch-incremental driver and
asserts the completed-flight facts — the reference's full `adsb_etl`
lifecycle (SURVEY.md §3) including the takeoff→cruise→landing session arc
and the inactivity eviction.
"""

import json

from aircraftutilization_etl_spark.errors import InvalidResponseError
from aircraftutilization_etl_spark.pipeline import FlightPipeline
from aircraftutilization_etl_spark.sources.rest import states_response_to_df

import pytest

T0 = 1712338200


def payload(*vectors):
    """Build an OpenSky-shaped response; vector = 17-element state row."""
    return {"time": T0, "states": [list(v) for v in vectors]}


def vector(icao24, last_contact, velocity, vertical_rate):
    return (
        icao24, "CALL", "Nowhere", last_contact, last_contact, 0.0, 0.0, 1000.0,
        False, velocity, 0.0, vertical_rate, None, 900.0, "7700", False, 0,
    )


@pytest.fixture()
def pipeline(spark, tmp_path):
    return FlightPipeline(
        spark,
        state_root=str(tmp_path / "state"),
        facts_path=str(tmp_path / "facts"),
        metadata_path=str(tmp_path / "meta"),
    )


def test_states_payload_validation(spark):
    with pytest.raises(InvalidResponseError):
        states_response_to_df(spark, {"time": 1})
    with pytest.raises(InvalidResponseError):
        states_response_to_df(spark, {"states": [[1, 2, 3]]})


def test_full_session_arc(pipeline, spark, tmp_path):
    """Aircraft appears climbing (takeoff), cruises, then descends slow
    (landing) → exactly one completed flight with the right duration."""
    meta_csv = tmp_path / "aircraft.csv"
    cols = (
        "icao24,registration,manufacturericao,model,owner,operator,built,"
        "manufacturername,typecode"
    )
    meta_csv.write_text(
        f"{cols}\nab1234,AB-CDE,BOEING,737 NG,Own,Op,2000-02-01,Boeing,B737\n"
    )
    pipeline.run_metadata_etl(str(meta_csv))

    # batch 1: first contact, climbing → session opens, takeoff stamped
    pipeline.run_active_flights(payload(vector("ab1234", T0, 80.0, 9.0)), now_epoch=T0)
    pipeline.run_complete_flights()

    # batch 2: cruising
    t1 = T0 + 300
    pipeline.run_active_flights(payload(vector("ab1234", t1, 240.0, 0.5)), now_epoch=t1)
    pipeline.run_complete_flights()

    # batch 3: descending
    t2 = T0 + 600
    pipeline.run_active_flights(payload(vector("ab1234", t2, 80.0, -5.0)), now_epoch=t2)
    pipeline.run_complete_flights()

    # batch 4: slow + level after descend → landing
    t3 = T0 + 900
    pipeline.run_active_flights(payload(vector("ab1234", t3, 5.0, 0.0)), now_epoch=t3)
    pipeline.run_complete_flights()

    facts = spark.read.parquet(str(tmp_path / "facts"))
    rows = facts.collect()
    assert len(rows) == 1
    row = rows[0].asDict()
    assert row["icao24"] == "ab1234"
    assert row["flight_duration_minutes"] == 15  # ceil((t3-T0)/60)
    assert row["registration"] == "AB-CDE"
    assert row["manufacturer_icao"] == "BOEING"

    # the landed aircraft left the state
    state = pipeline.state.read()
    assert state.filter("icao24 = 'ab1234'").count() == 0


def test_json_integers_in_float_fields_complete_the_flight(pipeline, spark, tmp_path):
    """JSON does not tell 0 from 0.0: a feed that sends integers in
    double fields (and an integral float epoch) still runs the session
    arc. The landing vector reports a stop as ``"velocity": 0,
    "vertical_rate": 0``, exactly where real feeds send integers."""
    arc = [(80, 9), (240, 0), (80, -5), (0, 0)]  # climb, cruise, descend, stop
    for i, (velocity, vertical_rate) in enumerate(arc):
        t = T0 + 300 * i
        vector = [
            "ab1234", "CALL", "Nowhere", float(t), t, 21, 48, 1000, False,
            velocity, 90, vertical_rate, None, 900, "7700", False, 0,
        ]
        raw = json.dumps({"time": t, "states": [vector]})
        pipeline.run_active_flights(json.loads(raw), now_epoch=t)
        pipeline.run_complete_flights()

    rows = spark.read.parquet(str(tmp_path / "facts")).collect()
    assert [(r["icao24"], r["flight_duration_minutes"]) for r in rows] == [
        ("ab1234", 15)  # ceil(900 / 60)
    ]


def test_empty_state_complete_flights_noop(pipeline):
    assert pipeline.run_complete_flights() is False


def _drive_to_landing(pipeline, tmp_path):
    """Batches 1-3 of the session arc: climbing, cruising, descending."""
    meta_csv = tmp_path / "aircraft.csv"
    cols = (
        "icao24,registration,manufacturericao,model,owner,operator,built,"
        "manufacturername,typecode"
    )
    meta_csv.write_text(
        f"{cols}\nab1234,AB-CDE,BOEING,737 NG,Own,Op,2000-02-01,Boeing,B737\n"
    )
    pipeline.run_metadata_etl(str(meta_csv))
    for i, (v, vr) in enumerate([(80.0, 9.0), (240.0, 0.5), (80.0, -5.0)]):
        t = T0 + 300 * i
        pipeline.run_active_flights(payload(vector("ab1234", t, v, vr)), now_epoch=t)
        pipeline.run_complete_flights()


def test_crash_between_facts_and_state(pipeline, spark, tmp_path, monkeypatch):
    """Exactly-once: crash AFTER the fact append but BEFORE the state
    flip, then retry — the landed flight must appear exactly once.

    This is the at-least-once window the round-1 verdict flagged: the
    retry re-runs against the old state generation and re-derives the
    same completed flight; the sink's (icao24, landed_at) anti-join
    guard must swallow the replay.
    """
    _drive_to_landing(pipeline, tmp_path)
    # batch 4: slow + level after descend → landing
    t3 = T0 + 900
    pipeline.run_active_flights(payload(vector("ab1234", t3, 5.0, 0.0)), now_epoch=t3)

    real_commit = pipeline.state.commit

    def crash_commit(df):
        raise RuntimeError("injected crash between facts append and state flip")

    monkeypatch.setattr(pipeline.state, "commit", crash_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        pipeline.run_complete_flights()
    # facts were appended, state was NOT rolled forward
    assert spark.read.parquet(str(tmp_path / "facts")).count() == 1
    assert pipeline.state.read().filter("icao24 = 'ab1234'").count() > 0

    monkeypatch.setattr(pipeline.state, "commit", real_commit)
    assert pipeline.run_complete_flights() is True  # replay runs, sink dedupes
    facts = spark.read.parquet(str(tmp_path / "facts"))
    assert facts.count() == 1
    assert facts.first()["batch_id"] is not None
    # and the state finally rolled forward: the landed aircraft left
    assert pipeline.state.read().filter("icao24 = 'ab1234'").count() == 0


def test_state_generations_stay_bounded(pipeline):
    """vacuum() is wired into the run loop: generations don't accumulate."""
    for i in range(8):
        t = T0 + 300 * i
        pipeline.run_active_flights(
            payload(vector("aaa111", t, 100.0, 0.0)), now_epoch=t
        )
        pipeline.run_complete_flights()
    assert len(pipeline.state.versions()) <= pipeline.keep_generations


def test_absent_aircraft_keeps_state_until_ttl(pipeline, spark):
    # batch 1: two aircraft
    pipeline.run_active_flights(
        payload(vector("aaa111", T0, 100.0, 5.0), vector("bbb222", T0, 100.0, 5.0)),
        now_epoch=T0,
    )
    # batch 2 (5 min later): only aaa111 present — bbb222 survives with
    # last_contact=0 sentinel
    t1 = T0 + 300
    pipeline.run_active_flights(payload(vector("aaa111", t1, 100.0, 0.0)), now_epoch=t1)
    state = {r["icao24"]: r.asDict() for r in pipeline.state.read().collect()}
    assert state["bbb222"]["last_contact"] == 0
    assert state["bbb222"]["flight_last_contact"] == T0

    # batch 3 (25 min after T0): bbb222 exceeded the 20-min TTL → evicted
    t2 = T0 + 1500
    pipeline.run_active_flights(payload(vector("aaa111", t2, 100.0, 0.0)), now_epoch=t2)
    ids = {r["icao24"] for r in pipeline.state.read().collect()}
    assert ids == {"aaa111"}


def test_cycle_metrics_via_observation(pipeline, spark, tmp_path):
    """run_complete_flights publishes per-cycle row counts from
    Observation metrics riding the write actions — no extra count jobs."""
    _drive_to_landing(pipeline, tmp_path)
    # batch 4: slow + level after descend -> landing completes the flight
    t3 = T0 + 900
    pipeline.run_active_flights(
        payload(vector("ab1234", t3, 5.0, 0.0)), now_epoch=t3
    )
    pipeline.run_complete_flights()
    assert pipeline.last_metrics == {"n_complete": 1, "n_active": 0}
