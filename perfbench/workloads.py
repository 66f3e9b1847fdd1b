"""The routing workloads, their seeded inputs and output checks.

Each workload is one closed-loop caller: the next op is issued when the
previous one has returned. Inputs are drawn from ``random.Random`` seeded
by the run's seed; the engine sees only the drawn points, stop names and
times.

- ``point_trips``: op = one ``plan_trip`` (radius lookups + point-to-point
  routing + change count + totals). Fixed per-call overhead dominates;
  <= DRIVER_LANE_LIMIT lanes keep it on the in-driver Dijkstra tier.
- ``batch_routing``: op = one OD pair answered; each call is one
  ``routing_batch`` over ``BATCH_PAIRS`` stop-name pairs, enough lanes for
  the Arrow ``mapInPandas`` tier. Per-lane work (stop-bound SPFA, lane
  Dijkstra, local relations) dominates.

Both set up the same way: feed, ``project_graph``, ``edge_count()`` and
warm-up calls, the first of which pays the fresh graph's CSR and
stop-bound timetable builds. That is what a date or walking-speed change
costs a user, so a change to the projection side shows in both
workloads' ``setup_s``.
"""

from __future__ import annotations

import random
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from routing_algorithm_for_graph_dbs_spark.functions.spatial import (
    haversine_meters_scalar,
)
from routing_algorithm_for_graph_dbs_spark.plans import projection as P
from routing_algorithm_for_graph_dbs_spark.plans import routing as R
from routing_algorithm_for_graph_dbs_spark.sources import synth_gtfs as S

# Feed: synth_gtfs with a K x K served block (2K routes of K stops, 140
# trips each at a 6-minute headway from 06:00). K = 10 gives 28k
# stoptimes and ~190k projected edges: one ninth of the reference-scale
# feed, so that a fresh process sets up in ~15 s and every run of every
# workload fits the benchmark's time budget. The per-call structure (jobs
# per op, SSSP tier, stop-bound pruning) is that of the full feed.
K = 10
TRIPS_PER_ROUTE = 140
DAY = S.DAY
RADIUS_M = 300.0
MAX_DURATION_H = 4
WINDOW_S = (8 * 3600, 16 * 3600)  # departure times drawn from here
BATCH_PAIRS = 32
CHECK_THREADS = 4
GRAPH_NAME = "perfbench"


class Feed:
    """The synthetic feed and its projected day graph."""

    def __init__(self, spark):
        self.tables = S.synth_gtfs(spark, n_routes=2 * K, trips_per_route=TRIPS_PER_ROUTE,
                                   stops_per_trip=K)
        self.graph = P.project_graph(self.tables, DAY, speed=1.0, name=GRAPH_NAME)
        self.graph.edge_count()
        # every stop of the served block is active on DAY: its coordinates
        # let the point-trip check recompute the radius lists in Python
        self.stop_coords = {
            stop_name(r, c): (S._LAT0 + r * S._STEP, S._LON0 + c * S._STEP)
            for r in range(K)
            for c in range(K)
        }

    def near(self, lat: float, lon: float) -> set[str]:
        return {
            name
            for name, (slat, slon) in self.stop_coords.items()
            if haversine_meters_scalar(slat, slon, lat, lon) < RADIUS_M
        }


def stop_name(r: int, c: int) -> str:
    return f"Stop {r * S._GRID + c}"


def draw_cells(rng: random.Random) -> tuple[tuple[int, int], tuple[int, int]]:
    """Origin and destination cells, uniform over the served block and
    distinct."""
    while True:
        o = rng.randrange(K), rng.randrange(K)
        d = rng.randrange(K), rng.randrange(K)
        if o != d:
            return o, d


def draw_time(rng: random.Random) -> int:
    """Departure time, uniform over the window."""
    return rng.randrange(*WINDOW_S)


def draw_point(rng: random.Random, cell: tuple[int, int]) -> tuple[float, float]:
    """A point near a stop of the cell (within 0.4 grid steps)."""
    r, c = cell
    jitter = 0.4 * S._STEP
    return (
        S._LAT0 + r * S._STEP + rng.uniform(-jitter, jitter),
        S._LON0 + c * S._STEP + rng.uniform(-jitter, jitter),
    )


def check_legs(rows, time_s: int) -> str | None:
    """None when the leg table is a valid itinerary for a query at
    ``time_s``: consecutive legs chain (same stop and stoptime trip), the
    first departure is not before the query and the last arrival is
    inside the duration window. An empty table (no itinerary) is valid."""
    if not rows:
        return None
    for a, b in zip(rows, rows[1:]):
        if a["next_stop_id"] != b["starting_stop_id"] or a["next_trip"] != b["trip"]:
            return f"legs do not chain at {a['next_stop_id']} / {b['starting_stop_id']}"
    if rows[0]["departure"] < time_s:
        return f"first departure {rows[0]['departure']} before query {time_s}"
    if rows[-1]["arrival"] > time_s + MAX_DURATION_H * 3600:
        return f"last arrival {rows[-1]['arrival']} after the window"
    return None


def legs_by_pair(rows) -> dict[int, list]:
    """``routing_batch`` rows grouped by ``pair_id``, legs in order."""
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(r["pair_id"], []).append(r)
    return out


@dataclass
class Outcome:
    """What one call's outputs showed: ops failing a check, itineraries
    not found, and why each failure failed."""

    failed: int = 0
    infeasible: int = 0
    reasons: list[str] = field(default_factory=list)


class PointTrips:
    name = "point_trips"
    ops_per_call = 1

    def __init__(self, feed: Feed, seed: int):
        self.feed = feed
        self.rng = random.Random(seed)

    def draw(self):
        o, d = draw_cells(self.rng)
        t = draw_time(self.rng)
        return draw_point(self.rng, o), draw_point(self.rng, d), t

    def call(self, args):
        (slat, slon), (elat, elon), t = args
        return R.plan_trip(self.feed.tables, self.feed.graph, slat, slon, elat, elon, t,
                           radius_m=RADIUS_M, max_duration_h=MAX_DURATION_H)

    def check(self, args, out) -> Outcome:
        (slat, slon), (elat, elon), t = args
        rows = out["rows"]
        if not rows:
            return Outcome(infeasible=1)
        why = check_legs(rows, t)
        if why is None and rows[0]["starting_stop_name"] not in self.feed.near(slat, slon):
            why = f"first stop {rows[0]['starting_stop_name']} not in the start radius"
        if why is None and rows[-1]["next_stop"] not in self.feed.near(elat, elon):
            why = f"last stop {rows[-1]['next_stop']} not in the end radius"
        if why is None and out["changes"] != len({r["line"] for r in rows}) - 1:
            why = f"changes {out['changes']} do not match the legs' lines"
        return Outcome(failed=int(why is not None), reasons=[why] if why else [])

    def setup_checks(self) -> list[str]:
        return []


class BatchRouting:
    name = "batch_routing"
    ops_per_call = BATCH_PAIRS

    def __init__(self, feed: Feed, seed: int):
        self.feed = feed
        self.rng = random.Random(seed)
        self.first = None  # (args, rows) of the first call, for the identity check

    def draw(self):
        pairs = []
        for _ in range(BATCH_PAIRS):
            o, d = draw_cells(self.rng)
            pairs.append((stop_name(*o), stop_name(*d)))
        return pairs, draw_time(self.rng)

    def call(self, args):
        pairs, t = args
        rows = R.routing_batch(self.feed.graph, pairs, time_s=t,
                               max_duration_h=MAX_DURATION_H).collect()
        if self.first is None:
            self.first = (args, rows)
        return rows

    def check(self, args, rows) -> Outcome:
        pairs, t = args
        by_pair = legs_by_pair(rows)
        failed, reasons = 0, []
        for i in range(len(pairs)):
            why = check_legs(by_pair.get(i, []), t)
            if why is not None:
                failed += 1
                reasons.append(f"pair {i}: {why}")
        return Outcome(failed, len(pairs) - len(by_pair), reasons)

    def setup_checks(self) -> list[str]:
        """The first call's winners equal per-pair ``routing`` on winner
        identity (first departure, last arrival) for every pair, and the
        ``od_pairs_9`` winners equal the pinned ones. The per-pair calls are
        independent, so they run ``CHECK_THREADS`` at a time (Spark runs
        concurrent jobs of one session side by side)."""
        (pairs, t), rows = self.first
        by_pair = legs_by_pair(rows)

        def one(pair):
            return R.routing(self.feed.graph, t, pair[0], pair[1], MAX_DURATION_H).collect()

        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            sequential = list(pool.map(one, pairs))
        failures = []
        self.od9_winners = od_pairs_9_winners(self.feed)
        if self.od9_winners != OD9_WINNERS:
            failures.append(f"od_pairs_9 winners {self.od9_winners} != {OD9_WINNERS}")
        for i, ((s, d), seq) in enumerate(zip(pairs, sequential)):
            batch = by_pair.get(i, [])
            want = (seq[0]["departure"], seq[-1]["arrival"]) if seq else None
            got = (batch[0]["departure"], batch[-1]["arrival"]) if batch else None
            if want != got:
                failures.append(f"pair {i} {s} -> {d}: batch {got} != sequential {want}")
        return failures


WORKLOADS = {w.name: w for w in (PointTrips, BatchRouting)}


# od_pairs_9 winners on the benchmark feed at 14:00, as (first departure,
# last arrival, line changes) per pair. od_pairs_9's docstring promises one
# change per pair; the earliest-arrival winners have 0-6 (pair 0 rides one
# vertical route straight down column 0), so the benchmark pins the
# winners themselves: a change that moves any of them fails the run.
OD9_TIME_S = 14 * 3600
OD9_WINNERS = [
    (50420, 51030, 0), (50510, 51120, 1), (50420, 51120, 1),
    (50690, 51480, 2), (50420, 53280, 6), (50510, 51570, 2),
    (50600, 51660, 2), (50690, 52560, 4), (50420, 51210, 2),
]


def od_pairs_9_winners(feed: Feed) -> list[tuple | None]:
    """Winner identity and line changes of each ``od_pairs_9`` pair, from
    one ``routing_batch`` call."""
    pairs = S.od_pairs_9(K)
    rows = R.routing_batch(feed.graph, pairs, time_s=OD9_TIME_S,
                           max_duration_h=MAX_DURATION_H).collect()
    by_pair = legs_by_pair(rows)
    out = []
    for i in range(len(pairs)):
        legs = by_pair.get(i)
        out.append(
            (legs[0]["departure"], legs[-1]["arrival"], len({r["line"] for r in legs}) - 1)
            if legs else None
        )
    return out
