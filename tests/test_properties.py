"""Hypothesis property tests for the pure (driver-side) kernels.

These run without a SparkSession, so hypothesis can afford hundreds of
examples; the Spark realizations are pinned to these same semantics by
their own equivalence tests.
"""

from __future__ import annotations

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from aircraftutilization_etl_spark.errors import InvalidResponseError
from aircraftutilization_etl_spark.operators.chunking import (
    MAX_CHUNK,
    MIN_CHUNK,
    chunk_spans,
)
from aircraftutilization_etl_spark.operators.sampling import split_thresholds
from aircraftutilization_etl_spark.sources.rest import (
    STATES_ARROW_SCHEMA,
    states_table,
)

ascii_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=400
)


@given(ascii_text)
@settings(max_examples=200, deadline=None)
def test_chunk_spans_tile_and_bound(text):
    spans = chunk_spans(text)
    if not text:
        assert spans == []
        return
    assert spans[0][0] == 1 and spans[-1][1] == len(text)
    for (s1, e1), (s2, _) in zip(spans, spans[1:]):
        assert s2 == e1 + 1
    for s, e in spans[:-1]:
        assert MIN_CHUNK <= e - s + 1 <= MAX_CHUNK
    s, e = spans[-1]
    assert 1 <= e - s + 1 <= MAX_CHUNK


@given(ascii_text, st.integers(min_value=0, max_value=100))
@settings(max_examples=100, deadline=None)
def test_chunk_spans_suffix_independent_of_distant_prefix(text, pad):
    # appending text NEVER changes already-cut chunks except the last
    # (possibly unfinished) one — the incremental-corpus property
    spans_a = chunk_spans(text)
    spans_b = chunk_spans(text + "x" * pad)
    if len(spans_a) > 1:
        assert spans_b[: len(spans_a) - 1] == spans_a[:-1]


@given(
    st.lists(
        st.floats(min_value=0.01, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=200, deadline=None)
def test_split_thresholds_monotone_and_total(weights):
    total = sum(weights)
    splits = {f"s{i}": w / total for i, w in enumerate(weights)}
    # renormalize drift so the contract (sum==1) holds exactly enough
    drift = 1.0 - sum(splits.values())
    splits[f"s{len(weights) - 1}"] += drift
    bounds = split_thresholds(splits)
    assert bounds[-1][1] == "g"  # last range always covers the tail
    hexes = [b for _, b in bounds]
    assert hexes == sorted(hexes)  # cumulative, never regressing


# --- q-gram prefilter soundness (operators/dedup.edit_distance_pairs) ----


def _qgrams(s: str, q: int = 3) -> set[str]:
    return {s[i : i + q] for i in range(len(s) - q + 1)}


@given(
    ascii_text.filter(lambda s: len(s) <= 60),
    st.lists(
        st.tuples(
            st.sampled_from(["ins", "del", "sub"]),
            st.integers(min_value=0, max_value=59),
            st.characters(min_codepoint=32, max_codepoint=126),
        ),
        max_size=2,
    ),
)
@settings(max_examples=300, deadline=None)
def test_qgram_sharing_guarantee_under_two_edits(a, edits):
    """The lemma edit_distance_pairs's candidate generation rests on:
    after ≤2 single-character edits, if EITHER string reaches
    q + q·k = 9 chars the two strings share ≥1 distinct 3-gram — so
    the gram self-join cannot miss a true pair outside the short-string
    bucket."""
    b = a
    for op, pos, ch in edits:
        p = min(pos, len(b))
        if op == "ins":
            b = b[:p] + ch + b[p:]
        elif op == "del" and b:
            p = min(pos, len(b) - 1)
            b = b[:p] + b[p + 1 :]
        elif op == "sub" and b:
            p = min(pos, len(b) - 1)
            b = b[:p] + ch + b[p + 1 :]
    if max(len(a), len(b)) >= 9:
        assert _qgrams(a) & _qgrams(b), (a, b)


# --- perceptual-hash block partition (operators/multimodal) ---------------


@given(st.binary(min_size=0, max_size=600))
@settings(max_examples=200, deadline=None)
def test_phash_block_partition_covers_and_orders(data):
    """Byte j -> block j·B div n tiles [0, n) into ≤B contiguous,
    order-preserving runs, and every block is nonempty when n ≥ B —
    the invariant the aHash kernel and its SQL oracle both assume."""
    B = 32
    n = len(data)
    blocks = [(j * B) // n for j in range(n)] if n else []
    assert all(0 <= b < B for b in blocks)
    assert blocks == sorted(blocks)  # contiguous, order-preserving
    if n >= B:
        assert len(set(blocks)) == B  # no empty block


# --- quota apportionment kernel (plans/quota.hamilton_apportion) ---

from aircraftutilization_etl_spark.plans.quota import (  # noqa: E402
    hamilton_apportion,
    sqrt_weight,
)

weight_maps = st.dictionaries(
    keys=st.text(
        alphabet=st.characters(min_codepoint=97, max_codepoint=122),
        min_size=1,
        max_size=8,
    ),
    values=st.integers(min_value=0, max_value=10**12),
    min_size=1,
    max_size=40,
).filter(lambda w: sum(w.values()) > 0)


@given(weight_maps, st.integers(min_value=0, max_value=10**9))
@settings(max_examples=300, deadline=None)
def test_hamilton_sums_exactly_and_respects_quota_rule(weights, budget):
    alloc = hamilton_apportion(weights, budget)
    assert set(alloc) == set(weights)
    assert sum(alloc.values()) == budget
    wtot = sum(weights.values())
    for s, w in weights.items():
        exact_floor = budget * w // wtot
        # the quota rule: every group gets floor or ceil of its exact
        # share (largest-remainder never strays further)
        assert alloc[s] in (exact_floor, exact_floor + 1)
        assert alloc[s] >= 0


@given(weight_maps, st.integers(min_value=0, max_value=10**6))
@settings(max_examples=100, deadline=None)
def test_hamilton_is_insertion_order_independent(weights, budget):
    reordered = dict(sorted(weights.items(), reverse=True))
    assert hamilton_apportion(weights, budget) == hamilton_apportion(
        reordered, budget
    )


def test_hamilton_all_zero_weights_raise():
    import pytest

    with pytest.raises(ValueError, match="positive total weight"):
        hamilton_apportion({"a": 0, "b": 0}, 5)


@given(st.integers(min_value=0, max_value=10**15))
@settings(max_examples=300, deadline=None)
def test_sqrt_weight_matches_exact_integer_sqrt(n):
    import math

    w = sqrt_weight(n)
    # floor(sqrt(n)*1e6) computed via float must agree with the exact
    # integer definition floor(sqrt(n*1e12)) whenever the float path is
    # exactly representable; tolerate the 1-ulp band above 2^52 where
    # IEEE rounding can land either side, but never more
    exact = math.isqrt(n * 10**12)
    assert abs(w - exact) <= 1
    if n * 10**12 < 2**52:
        assert w == exact


# S2 payloads. A clean vector draws each field's own JSON kind (JSON
# does not tell 1 from 1.0, so int fields also get integral floats and
# double fields ints); a dirty one puts a foreign value — an int, float,
# string or bool of any size — into one numeric field of a clean vector.
_int32 = st.integers(-(2**31), 2**31 - 1)
_foreign = st.integers() | st.floats() | st.text(max_size=4) | st.booleans()


def _is_numeric(kind: pa.DataType) -> bool:
    return pa.types.is_integer(kind) or pa.types.is_floating(kind)


def _own_values(kind: pa.DataType):
    if pa.types.is_string(kind):
        own = st.text(max_size=6)
    elif pa.types.is_boolean(kind):
        own = st.booleans()
    elif pa.types.is_list(kind):
        own = st.lists(_int32 | _int32.map(float), max_size=3)
    elif pa.types.is_integer(kind):
        own = _int32 | _int32.map(float)
    else:
        own = st.floats() | st.integers(-(2**53), 2**53)
    return st.none() | own


_clean_vectors = st.tuples(*(_own_values(f.type) for f in STATES_ARROW_SCHEMA))
_NUMERIC_AT = [i for i, f in enumerate(STATES_ARROW_SCHEMA) if _is_numeric(f.type)]


def _dirty(vector, at, value):
    vector = list(vector)
    vector[at] = value
    return vector


_dirty_vectors = st.builds(
    _dirty, _clean_vectors, st.sampled_from(_NUMERIC_AT), _foreign
)
_payloads = st.fixed_dictionaries(
    {
        "states": st.none()
        | st.lists(_clean_vectors.map(list), max_size=4)
        | st.lists(
            _clean_vectors.map(list)
            | _dirty_vectors
            | st.lists(_int32, max_size=18),
            max_size=4,
        )
    }
)


def _kept(got, sent, kind: pa.DataType) -> bool:
    """``got`` is ``sent`` moved into ``kind``: a number only between int
    and double, never truncated, and never from a bool or a string."""
    if sent is None:
        return got is None
    if pa.types.is_list(kind):
        return len(got) == len(sent) and all(
            _kept(g, x, kind.value_type) for g, x in zip(got, sent)
        )
    if not _is_numeric(kind):
        return got == sent
    if type(sent) not in (int, float):
        return False
    if sent != sent:  # NaN
        return got != got
    return got == (float(sent) if pa.types.is_floating(kind) else sent)


@given(_payloads)
@settings(max_examples=300, deadline=None)
def test_states_table_types_every_payload_or_refuses_it(payload):
    try:
        table = states_table(payload)
    except InvalidResponseError:
        return
    assert table.schema == STATES_ARROW_SCHEMA
    states = payload["states"] or []
    assert table.num_rows == len(states)
    for field, sent_column in zip(STATES_ARROW_SCHEMA, zip(*states)):
        got_column = table.column(field.name).to_pylist()
        assert all(map(_kept, got_column, sent_column, [field.type] * len(states)))
