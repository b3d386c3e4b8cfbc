"""REST / HTTP-CSV ingest — the OpenSky feed endpoints as typed sources.

Reference S1 (src/plugins/scripts/opensky/client.py:20-35): GET
/api/states/all with basic auth, 5 s timeout, logs X-Rate-Limit-Remaining,
raises InvalidResponseError on non-200. Reference S2
(opensky/transformers.py:37-58): the JSON ``states`` array → 17-column
table, KeyError/ValueError → InvalidResponseError. Reference S3
(client.py:37-41): the ~500k-row aircraft-database CSV.

Spark has no native REST source; the poll is driver-side (the payload is
one ~10⁴-row snapshot — not a distributable read). :func:`states_table`
is the one S2 normalizer: the batch cycle and the ``format("opensky")``
readers both take its Arrow table. ``requests`` is import-gated: the
engine works without it (tests inject responses).
"""

from __future__ import annotations

import logging

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from ..errors import InvalidCredentials, InvalidResponseError
from ..schemas import STATES_SCHEMA

try:  # pragma: no cover - exercised only when requests is installed
    import requests
except ImportError:  # pragma: no cover
    requests = None

logger = logging.getLogger(__name__)

OPENSKY_STATES_URL = "https://opensky-network.org/api/states/all"
OPENSKY_AIRCRAFT_DB_URL = (
    "https://opensky-network.org/datasets/metadata/aircraftDatabase.csv"
)
REQUEST_TIMEOUT_SECONDS = 5  # reference client.py:25

# the Arrow form of STATES_SCHEMA: what states_table returns
STATES_ARROW_SCHEMA = to_arrow_schema(STATES_SCHEMA)


class OpenSkyClient:
    """Driver-side OpenSky API client (reference client.py:8-41)."""

    def __init__(self, username: str | None = None, password: str | None = None):
        if (username is None) != (password is None):
            raise InvalidCredentials("username and password must be set together")
        self.auth = (username, password) if username else None

    def get_states(self) -> dict:
        if requests is None:
            raise InvalidResponseError("requests not available in this environment")
        response = requests.get(
            OPENSKY_STATES_URL, auth=self.auth, timeout=REQUEST_TIMEOUT_SECONDS
        )
        remaining = response.headers.get("X-Rate-Limit-Remaining")
        logger.info("OpenSky rate limit remaining: %s", remaining)
        if response.status_code != 200:
            raise InvalidResponseError(f"status {response.status_code}")
        return response.json()


def states_table(payload: dict) -> pa.Table:
    """S2 — the ``states`` array of a /api/states/all payload as a table
    with the Arrow form of STATES_SCHEMA.

    A payload without ``states``, or a vector whose arity is not 17,
    raises InvalidResponseError (reference opensky/transformers.py:40-47).
    JSON does not tell ``0`` from ``0.0``, so numbers take their field's
    type: an int in a double field becomes a double, an integral float in
    an int field an int. A value its field cannot hold raises
    InvalidResponseError too: a string or a bool in a numeric field, a
    fraction in an int field (the reference's nullable Int32 cast refuses
    it as well), a non-string in a string field.
    """
    n_cols = len(STATES_ARROW_SCHEMA)
    try:
        states = payload["states"] or []
        arities = [len(v) for v in states if len(v) != n_cols]
    except (KeyError, TypeError) as exc:
        raise InvalidResponseError(f"malformed states: {exc!r}") from exc
    if arities:
        raise InvalidResponseError(f"state vector arity {arities[0]} != {n_cols}")
    columns = zip(*states) if states else [()] * n_cols
    arrays = [_column(f, v) for f, v in zip(STATES_ARROW_SCHEMA, columns)]
    return pa.Table.from_arrays(arrays, schema=STATES_ARROW_SCHEMA)


def _column(field: pa.Field, values) -> pa.Array:
    """One field's values as its Arrow type. pyarrow would read a bool as
    a number and truncate a fraction to an int; S2 refuses both."""
    kind, flat = field.type, values
    if pa.types.is_list(kind):
        kind = kind.value_type
        flat = [x for v in values if isinstance(v, (list, tuple)) for x in v]
    integral = pa.types.is_integer(kind)
    if integral or pa.types.is_floating(kind):
        for v in flat:
            if isinstance(v, bool) or (
                integral and isinstance(v, float) and not v.is_integer()
            ):
                raise InvalidResponseError(f"{field.name}: {v!r} is not {kind}")
    try:
        return pa.array(values, type=field.type)
    except (pa.ArrowException, TypeError, ValueError, OverflowError) as exc:
        raise InvalidResponseError(f"{field.name}: {exc}") from exc


def states_response_to_df(spark: SparkSession, payload: dict) -> DataFrame:
    """S2 for the batch cycle: :func:`states_table` as a DataFrame."""
    return spark.createDataFrame(states_table(payload), STATES_SCHEMA)


def read_aircraft_database_csv(spark: SparkSession, path: str) -> DataFrame:
    """S3 — aircraft-database CSV scan (staged locally or on object store).

    The one inferred-schema ingest in the system (reference client.py:40
    uses pd.read_csv(url)); the projection to the 7 dimension columns
    happens in operators.flight.project_metadata.
    """
    return spark.read.option("header", True).csv(path)
