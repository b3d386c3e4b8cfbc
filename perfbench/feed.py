"""Seeded synthetic ADS-B feed for the flight-cycle benchmark.

Every aircraft of the fleet flies a renewal sequence of arcs, one state
vector per 300 s cycle while it is visible:

- ``flight``: a climbing first contact, a cruise of random length, a
  descent, one slow level landing vector, then a ground gap longer than
  the 20-minute state TTL. The first contact is the observed takeoff, so
  the arc yields one completed-flight fact.
- ``midair``: first seen mid-flight (level cruise), then descent and
  landing. No takeoff is observed, so no fact.
- ``lost``: climb and cruise, then the signal vanishes for longer than
  the TTL. The session is evicted silently, no fact.

About two thirds of the fleet starts an arc at cycle 0 and the rest
after part of a ground gap. First arcs land evenly from cycle 1 on —
those landing at cycle 1 are hops whose landing vector reports a stop
(velocity 0) — so vectors and landings per cycle stay roughly level. The clock starts shortly before
00:00 UTC, so landings fall into two ``landed_date`` partitions.

Two real-feed cases are deliberately absent: a duplicate ``icao24``
within one snapshot and JSON integers in float fields. Their expected
behaviour is not pinned yet, and the integer case makes
``states_response_to_df`` raise.
"""

from __future__ import annotations

import csv
import datetime as dt
import math
from typing import NamedTuple

import numpy as np

CYCLE_S = 300  # the reference DAG's 5-minute cadence
TTL_CYCLES = 4  # 20-minute state TTL in cycles
# 2024-04-05 23:50:00 UTC: cycle 2 is due at midnight, so its landings
# straddle two landed_date partitions
START_EPOCH = int(dt.datetime(2024, 4, 5, 23, 50, tzinfo=dt.timezone.utc).timestamp())

FLIGHT, MIDAIR, LOST = 0, 1, 2
ARC_MIX = (0.8, 0.1, 0.1)  # flight, midair, lost
CLIMB = (1, 2)  # inclusive ranges, in cycles
CRUISE = (1, 16)
DESCENT = (1, 3)
GAP = (TTL_CYCLES + 1, TTL_CYCLES + 5)
AIRBORNE_AT_START = 0.65
MAX_JITTER_S = 30  # last_contact lags the cycle clock by 0..29 s
HORIZON = 400  # cycles planned; a run stops long before

PHASE_CLIMB, PHASE_CRUISE, PHASE_DESCENT, PHASE_LANDING = range(4)


class Fact(NamedTuple):
    icao24: str
    landed_at: int  # epoch seconds
    flight_duration_minutes: int


class Snapshot(NamedTuple):
    now_epoch: int
    payload: dict  # the /api/states/all JSON body
    facts: list[Fact]  # flights whose landing vector is in this snapshot


def cycle_epoch(k: int) -> int:
    return START_EPOCH + CYCLE_S * k


class Feed:
    """One seeded fleet; :meth:`snapshot` must be called for k = 0, 1, ...

    Snapshots are produced in cycle order because the expected facts
    depend on the first vector each arc showed.
    """

    def __init__(self, fleet: int, seed: int) -> None:
        self.fleet = fleet
        self.seed = seed
        rng = np.random.default_rng([seed, fleet])
        codes = rng.choice(1 << 24, size=fleet, replace=False)
        self.icao24 = np.array([f"{c:06x}" for c in codes.tolist()], dtype=object)
        self.callsign = np.array(
            [f"BNC{i % 10000:04d} " for i in range(fleet)], dtype=object
        )
        self.country = rng.choice(
            np.array(["Ukraine", "Poland", "Germany", "France"], dtype=object),
            size=fleet,
        )
        self.squawk = np.array(
            [f"{c:04o}" for c in rng.integers(0, 4096, size=fleet).tolist()],
            dtype=object,
        )
        self._arcs = self._plan_arcs(rng)
        self._takeoff_lc: dict[int, int] = {}
        self._next = 0

    def _plan_arcs(self, rng: np.random.Generator) -> dict[str, np.ndarray]:
        """Arc table: aircraft, type, start cycle and phase lengths."""
        n = self.fleet
        # about two thirds of the fleet is airborne at cycle 0 and shows
        # its first vector then; the rest is on the ground for part of a gap
        airborne = rng.random(n) < AIRBORNE_AT_START
        t = np.where(airborne, 0, rng.integers(1, GAP[1] + 1, size=n))
        keys = ("ac", "kind", "start", "climb", "cruise", "descent", "stopped")
        cols: dict[str, list[np.ndarray]] = {k: [] for k in keys}
        ac = np.arange(n)
        first = True
        while ac.size:
            m = ac.size
            kind = rng.choice(3, size=m, p=ARC_MIX)
            climb = np.where(kind == MIDAIR, 0, rng.integers(CLIMB[0], CLIMB[1] + 1, m))
            cruise = rng.integers(CRUISE[0], CRUISE[1] + 1, m)
            descent = np.where(kind == LOST, 0, rng.integers(DESCENT[0], DESCENT[1] + 1, m))
            stopped = np.zeros(m, dtype=bool)
            if first:
                # first arcs land evenly from cycle 1 on: a one-cycle climb,
                # cruise and a one-cycle descent, or for cycle 1 a hop whose
                # landing vector reports the aircraft stopped
                land = rng.integers(1, CRUISE[1] + 3, m)
                stopped = (kind == FLIGHT) & (land == 1)
                climb = np.where(kind == MIDAIR, 0, 1)
                cruise = np.maximum(land - 2, 0)
                descent = np.where((kind == LOST) | stopped, 0, 1)
                first = False
            landing = (kind != LOST).astype(np.int64)
            gap = rng.integers(GAP[0], GAP[1] + 1, m)
            for key, val in zip(keys, (ac, kind, t, climb, cruise, descent, stopped)):
                cols[key].append(val)
            t = t + climb + cruise + descent + landing + gap
            keep = t < HORIZON
            ac, t = ac[keep], t[keep]
        arcs = {k: np.concatenate(v) for k, v in cols.items()}
        arcs["visible"] = (
            arcs["climb"] + arcs["cruise"] + arcs["descent"]
            + (arcs["kind"] != LOST)
        )
        return arcs

    def snapshot(self, k: int) -> Snapshot:
        if k != self._next:
            raise ValueError(f"snapshots are produced in order: want {self._next}, got {k}")
        if k >= HORIZON:
            raise ValueError(f"cycle {k} is past the feed horizon {HORIZON}")
        self._next += 1
        a = self._arcs
        offset = k - a["start"]
        live = np.flatnonzero((offset >= 0) & (offset < a["visible"]))
        off = offset[live]
        climb, cruise, descent = a["climb"][live], a["cruise"][live], a["descent"][live]
        phase = np.select(
            [off < climb, off < climb + cruise, off < climb + cruise + descent],
            [PHASE_CLIMB, PHASE_CRUISE, PHASE_DESCENT],
            PHASE_LANDING,
        )
        ac = a["ac"][live]
        rng = np.random.default_rng([self.seed, self.fleet, k])
        m = live.size
        now = cycle_epoch(k)
        last_contact = now - rng.integers(0, MAX_JITTER_S, size=m)
        velocity = np.choose(
            phase,
            [
                rng.uniform(80.0, 160.0, m),
                rng.uniform(200.0, 260.0, m),
                rng.uniform(70.0, 150.0, m),
                np.where(a["stopped"][live], 0.0, rng.uniform(2.0, 8.0, m)),
            ],
        ).round(2)
        vertical_rate = np.choose(
            phase,
            [rng.uniform(4.0, 15.0, m), np.zeros(m), rng.uniform(-9.0, -3.0, m), np.zeros(m)],
        ).round(2)
        altitude = np.choose(
            phase,
            [
                rng.uniform(300.0, 6000.0, m),
                rng.uniform(9000.0, 12000.0, m),
                rng.uniform(800.0, 6000.0, m),
                np.zeros(m),
            ],
        ).round(1)
        facts = self._facts(live, off, phase, last_contact)
        lc = last_contact.tolist()
        states = [
            list(v)
            for v in zip(
                self.icao24[ac].tolist(),
                self.callsign[ac].tolist(),
                self.country[ac].tolist(),
                lc,
                lc,
                rng.uniform(22.0, 40.0, m).round(4).tolist(),
                rng.uniform(44.0, 52.0, m).round(4).tolist(),
                altitude.tolist(),
                (phase == PHASE_LANDING).tolist(),
                velocity.tolist(),
                rng.uniform(0.0, 360.0, m).round(2).tolist(),
                vertical_rate.tolist(),
                [None] * m,
                (altitude + 50.0).tolist(),
                self.squawk[ac].tolist(),
                [False] * m,
                [0] * m,
            )
        ]
        return Snapshot(now, {"time": now, "states": states}, facts)

    def _facts(self, live, off, phase, last_contact) -> list[Fact]:
        """Track each arc's first visible vector; emit facts on landing."""
        for i in np.flatnonzero(off == 0).tolist():
            if phase[i] == PHASE_CLIMB:
                self._takeoff_lc[int(live[i])] = int(last_contact[i])
        facts = []
        for i in np.flatnonzero(phase == PHASE_LANDING).tolist():
            arc = int(live[i])
            takeoff = self._takeoff_lc.pop(arc, None)
            if takeoff is None:
                continue
            landed = int(last_contact[i])
            facts.append(
                Fact(
                    self.icao24[self._arcs["ac"][arc]],
                    landed,
                    math.ceil((landed - takeoff) / 60),
                )
            )
        return facts


def registration(icao24: str) -> str:
    return f"UR-{icao24.upper()}"


def write_metadata_csv(feed: Feed, path: str) -> dict[str, str | None]:
    """Aircraft-database CSV for the fleet; returns icao24 -> registration
    as the facts' left join must produce it (None for unknown aircraft).

    Nine in ten fleet aircraft are listed, plus as many aircraft that
    never fly; ``built`` mixes valid dates, blanks and malformed text.
    """
    rng = np.random.default_rng([feed.seed, feed.fleet, 1 << 20])
    listed = rng.random(feed.fleet) < 0.9
    extra = np.setdiff1d(rng.choice(1 << 24, size=feed.fleet, replace=False), [
        int(c, 16) for c in feed.icao24.tolist()
    ])
    codes = feed.icao24[listed].tolist() + [f"{c:06x}" for c in extra.tolist()]
    built = rng.choice(
        np.array(["2004-05-17", "1998-11-02", "", "unknown"], dtype=object),
        size=len(codes),
    )
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow([
            "icao24", "registration", "manufacturericao", "manufacturername",
            "model", "typecode", "operator", "owner", "built",
        ])
        for code, b in zip(codes, built.tolist()):
            w.writerow([
                code, registration(code), "BOEING", "Boeing", "737-800",
                "B738", "Bench Air", "Bench Leasing", b,
            ])
    known = set(feed.icao24[listed].tolist())
    return {c: (registration(c) if c in known else None) for c in feed.icao24.tolist()}
