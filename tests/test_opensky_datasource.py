"""OpenSky Python DataSource tests: batch + streaming over payload
fixtures, and the stream feeding the session kernel end-to-end."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from aircraftutilization_etl_spark.errors import InvalidResponseError
from aircraftutilization_etl_spark.schemas import STATES_SCHEMA
from aircraftutilization_etl_spark.sources.opensky_datasource import (
    OpenSkyDataSource,
)
from aircraftutilization_etl_spark.sources.rest import states_response_to_df
from aircraftutilization_etl_spark.streaming import completed_flights_stream

T0 = 1712338215


def _vector(icao, t, vel, vr):
    return [icao, "CS", "US", t, t, 1.0, 2.0, 100.0, False,
            vel, 10.0, vr, None, 120.0, None, False, 0]


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(OpenSkyDataSource)
    return spark


def test_batch_read_payload_file(registered, tmp_path):
    payload = {"time": T0, "states": [_vector("abc", T0, 100.0, 1.0),
                                      _vector("def", T0, 50.0, -2.0)]}
    p = tmp_path / "snapshot.json"
    p.write_text(json.dumps(payload))
    df = registered.read.format("opensky").option("payload_path", str(p)).load()
    assert df.schema == STATES_SCHEMA
    rows = {r["icao24"]: r for r in df.collect()}
    assert rows["abc"]["velocity"] == 100.0
    assert rows["def"]["vertical_rate"] == -2.0


def test_batch_read_rejects_malformed_vector(registered, tmp_path):
    p = tmp_path / "bad.json"
    p.write_text(json.dumps({"time": T0, "states": [["too", "short"]]}))
    df = registered.read.format("opensky").option("payload_path", str(p)).load()
    with pytest.raises(Exception, match="arity"):
        df.collect()


# One payload holding every S2 coercion: integers in double fields, an
# integral float in each int field, int and integral-float sensors, and
# nulls in every field but the key.
COERCION_PAYLOAD = {
    "time": T0,
    "states": [
        ["a1", "CS", "US", T0, T0, 21, 48, 1000, False,
         0, 90, 0, [1, 2], 900, "7700", False, 0],
        ["b2", "CS", "US", float(T0), float(T0), 21.5, 48.25, 1000.5, True,
         5.5, 90.5, -1.5, [3.0], 900.5, None, True, 1.0],
        ["c3", None, None, None, None, None, None, None, None,
         None, None, None, None, None, None, None, None],
    ],
}


def _payload_file(tmp_path, payload):
    p = tmp_path / "snapshot.json"
    p.write_text(json.dumps(payload))
    return p


def test_both_s2_paths_coerce_json_numbers_alike(registered, tmp_path):
    p = _payload_file(tmp_path, COERCION_PAYLOAD)
    direct = states_response_to_df(registered, json.loads(p.read_text()))
    reader = registered.read.format("opensky").option("payload_path", str(p)).load()
    assert direct.schema == STATES_SCHEMA
    assert reader.schema == STATES_SCHEMA
    rows = direct.orderBy("icao24").collect()
    assert rows == reader.orderBy("icao24").collect()
    a1, b2, c3 = (r.asDict() for r in rows)
    assert (a1["longitude"], a1["velocity"], a1["vertical_rate"]) == (21.0, 0.0, 0.0)
    assert isinstance(a1["velocity"], float)
    assert (b2["last_contact"], b2["position_source"]) == (T0, 1)
    assert isinstance(b2["last_contact"], int)
    assert (a1["sensors"], b2["sensors"], c3["sensors"]) == ([1, 2], [3], None)


def _with(column, value):
    vector = list(COERCION_PAYLOAD["states"][0])
    vector[STATES_SCHEMA.fieldNames().index(column)] = value
    return {"time": T0, "states": [vector]}


@pytest.mark.parametrize(
    "payload",
    [
        _with("velocity", "abc"),
        _with("last_contact", T0 + 0.5),
        _with("velocity", True),
        _with("sensors", [1.5]),
        {"time": T0, "states": [COERCION_PAYLOAD["states"][0][:16]]},
        {"time": T0},
    ],
    ids=["string", "fraction", "bool", "sensor-fraction", "arity", "no-states"],
)
def test_both_s2_paths_refuse_malformed_payloads(registered, tmp_path, payload):
    p = _payload_file(tmp_path, payload)
    with pytest.raises(InvalidResponseError):
        states_response_to_df(registered, payload)
    reader = registered.read.format("opensky").option("payload_path", str(p)).load()
    # the reader runs in a Python worker, so its error arrives wrapped
    # in a Spark exception that names it
    with pytest.raises(Exception, match="InvalidResponseError"):
        reader.collect()


def test_stream_one_file_per_microbatch_into_session_kernel(
    registered, tmp_path
):
    """The full Spark-native path: opensky stream source → projection →
    applyInPandasWithState session kernel → memory sink."""
    payload_dir = tmp_path / "payloads"
    payload_dir.mkdir()
    batches = [
        [_vector("a1", T0, 120.0, 8.0)],           # takeoff (climb)
        [_vector("a1", T0 + 600, 150.0, -5.0)],    # descend
        [_vector("a1", T0 + 1200, 5.0, 0.0)],      # slow + descend -> landing
    ]
    for i, states in enumerate(batches):
        (payload_dir / f"{i:04d}.json").write_text(
            json.dumps({"time": T0 + i, "states": states})
        )

    stream = (
        registered.readStream.format("opensky")
        .option("payload_dir", str(payload_dir))
        .load()
        .select("icao24", "last_contact", "velocity", "vertical_rate")
    )
    completed = completed_flights_stream(stream)
    query = (
        completed.writeStream.format("memory")
        .queryName("opensky_completed")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    # poll-until-emitted: processAllAvailable never returns for a
    # pull-based simple stream reader (no caught-up signal), so wait on
    # the observable result with a deadline instead.
    try:
        deadline = time.time() + 120
        rows = []
        while time.time() < deadline:
            rows = registered.sql("SELECT * FROM opensky_completed").collect()
            if rows:
                break
            time.sleep(2)
    finally:
        query.stop()
    assert len(rows) == 1
    assert rows[0]["icao24"] == "a1"
    assert rows[0]["flight_duration_minutes"] == 20
