"""In-memory span tracer applied from outside the engine.

The engine has no spans of its own, so the traced run wraps each layer's
public functions where the engine looks them up: every module attribute
bound to the original function object is replaced (``plans.routing``
imports ``sssp`` and ``local_rows_df`` by name, so those bindings are
patched too). DataFrame actions are wrapped on
``pyspark.sql.classic.dataframe.DataFrame``, the class that implements
them on PySpark 4.x. Spans are (name, start, end, parent, op) tuples kept
in a list and written out once, at exit. Per-op Spark job, stage and task
counts come from the status tracker: each traced op runs in its own job
group.

A function that returns a lazy DataFrame (``find_near_stops``, the Arrow
tier of ``broadcast_dijkstra``) is timed until it returns; the action that
later runs its plan is timed in the function that calls the action.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import sys
import time

PKG = "routing_algorithm_for_graph_dbs_spark"

# (module, attribute, span name) — span names are the per-layer metric
# prefixes: <module>.<function>
FUNCTIONS = [
    ("plans.routing", "plan_trip", "plans.routing.plan_trip"),
    ("plans.routing", "routing", "plans.routing.routing"),
    ("plans.routing", "routing_batch", "plans.routing.routing_batch"),
    ("plans.routing", "routing_between_two_points_in_space",
     "plans.routing.routing_between_two_points_in_space"),
    ("plans.routing", "count_changes", "plans.routing.count_changes"),
    ("plans.routing", "itinerary_totals", "plans.routing.itinerary_totals"),
    ("operators.queries", "find_near_stops", "operators.queries.find_near_stops"),
    ("operators.calendar", "service_day_stoptimes",
     "operators.calendar.service_day_stoptimes"),
    ("graph.stop_bound", "earliest_arrival_bounds",
     "graph.stop_bound.earliest_arrival_bounds"),
    ("graph.stop_bound", "timetable_bound_data",
     "graph.stop_bound.timetable_bound_data"),
    ("graph.sssp", "sssp", "graph.sssp.sssp"),
    ("graph.sssp", "multi_source_dijkstra", "graph.sssp.multi_source_dijkstra"),
    ("graph.local_sssp", "broadcast_dijkstra",
     "graph.local_sssp.broadcast_dijkstra"),
    ("functions.localrel", "local_rows_df", "functions.localrel.local_rows_df"),
    ("plans.projection", "project_graph", "plans.projection.project_graph"),
    ("sources.synth_gtfs", "synth_gtfs", "sources.synth_gtfs"),
]

ACTIONS = ["collect", "count", "first", "head", "take", "tail", "isEmpty",
           "toPandas", "toArrow", "toLocalIterator", "localCheckpoint",
           "checkpoint"]
ACTION_SPAN = "spark.action"

# the per-layer metrics every traced run reports, with their units. *_per_op
# metrics cover the traced ops of the measured window; *.setup_s ones the
# set-up (feed, projection and the first warm-up call on the fresh graph,
# which builds its CSR and stop-bound timetable)
PER_LAYER = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.action_s_per_op": "s",
    "plans.routing.plan_trip.self_s_per_op": "s",
    "plans.routing.routing.self_s_per_op": "s",
    "plans.routing.routing_batch.self_s_per_op": "s",
    "plans.routing.routing_between_two_points_in_space.self_s_per_op": "s",
    "plans.routing.count_changes.self_s_per_op": "s",
    "plans.routing.itinerary_totals.self_s_per_op": "s",
    "operators.queries.find_near_stops.s_per_op": "s",
    "operators.calendar.service_day_stoptimes.calls_per_op": "count",
    "graph.stop_bound.earliest_arrival_bounds.s_per_op": "s",
    "graph.stop_bound.prune_ratio": "ratio",
    "graph.stop_bound.timetable_bound_data.s_per_op": "s",
    "graph.stop_bound.timetable_bound_data.setup_s": "s",
    "graph.sssp.driver_tier_calls": "calls/op",
    "graph.sssp.arrow_tier_calls": "calls/op",
    "graph.sssp.iterative_tier_calls": "calls/op",
    "graph.local_sssp.broadcast_dijkstra.s_per_op": "s",
    "graph.local_sssp.broadcast_dijkstra.setup_s": "s",
    "graph.local_sssp.lanes_per_call": "count",
    "functions.localrel.local_rows_df.calls_per_op": "count",
    "functions.localrel.local_rows_df.s_per_op": "s",
    "plans.projection.project_graph.setup_s": "s",
    "plans.projection.edge_count.setup_s": "s",
    "sources.synth_gtfs.setup_s": "s",
    "workload.infeasible_share": "ratio",
    "trace.overhead_pct": "%",
}


class Tracer:
    """Spans and counters of one traced run. ``install`` patches the
    engine; spans are recorded only while ``enabled`` is set, so ops can
    alternate between traced and untraced in one process."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.op = None  # id of the op being traced, None in set-up
        self.spans: list[tuple] = []  # (name, start, end, parent, op)
        self._stack: list[int] = []
        self._in_action = 0
        self.unreachable_calls = 0
        self.unreachable_true = 0
        self.lanes: list[int] = []  # n_lanes per broadcast_dijkstra call
        self.tiers: list[str] = []  # tier per SSSP dispatch, traced ops only
        self.jobs: list[tuple[int, int, int]] = []  # per traced op
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            tracer._note_call(name, args, kwargs)
            idx = tracer._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(idx)

        return wrapper

    def _wrap_action(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # an action implemented by another (first -> head -> take ->
            # collect) is one action: only the outermost is a span
            if not tracer.enabled or tracer._in_action:
                return fn(*args, **kwargs)
            tracer._in_action += 1
            idx = tracer._open(ACTION_SPAN)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(idx)
                tracer._in_action -= 1

        return wrapper

    def _note_call(self, name: str, args, kwargs) -> None:
        if self.op is None:
            return
        if name == "graph.local_sssp.broadcast_dijkstra":
            from routing_algorithm_for_graph_dbs_spark.graph import local_sssp

            n = kwargs.get("n_lanes")
            self.lanes.append(n or 0)
            driver = n is not None and 0 < n <= local_sssp.DRIVER_LANE_LIMIT
            self.tiers.append("driver" if driver else "arrow")
        elif name == "graph.sssp.multi_source_dijkstra":
            self.tiers.append("iterative")

    def _count_unreachable(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            out = fn(*args, **kwargs)
            if tracer.enabled and tracer.op is not None:
                tracer.unreachable_calls += 1
                tracer.unreachable_true += bool(out)
            return out

        return wrapper

    # -- patching ------------------------------------------------------

    def _replace_everywhere(self, original, replacement) -> None:
        """Rebind every engine module attribute that holds ``original``."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PKG):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, replacement)
                    self._patched.append((mod, attr, original))

    def install(self) -> None:
        for mod_name, attr, span in FUNCTIONS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            original = getattr(mod, attr)
            self._replace_everywhere(original, self._wrap(original, span))
        stop_bound = importlib.import_module(f"{PKG}.graph.stop_bound")
        original = stop_bound.provably_unreachable
        self._replace_everywhere(original, self._count_unreachable(original))

        projection = importlib.import_module(f"{PKG}.plans.projection")
        cls = projection.ProjectedGraph
        self._patched.append((cls, "edge_count", cls.edge_count))
        cls.edge_count = self._wrap(cls.edge_count, "plans.projection.edge_count")

        from pyspark.sql.classic.dataframe import DataFrame

        for attr in ACTIONS:
            if hasattr(DataFrame, attr):
                original = getattr(DataFrame, attr)
                self._patched.append((DataFrame, attr, original))
                setattr(DataFrame, attr, self._wrap_action(original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- ops -----------------------------------------------------------

    def begin_op(self, op_id: int) -> None:
        self.op = op_id
        self.enabled = True
        self.spark.sparkContext.setJobGroup(f"perfbench-op-{op_id}", "traced op")

    def end_op(self) -> None:
        """Close the op and count its jobs, stages and tasks."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(f"perfbench-op-{self.op}")
        stages, tasks = set(), 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        ran = 0
        for sid in stages:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                ran += 1
                tasks += st.numCompletedTasks
        self.jobs.append((len(job_ids), ran, tasks))
        sc.setJobGroup("perfbench-untraced", "untraced")
        self.enabled = False
        self.op = None

    # -- results -------------------------------------------------------

    def _durations(self):
        """(name, op, duration, self time) per closed span. A function's
        self time excludes the engine functions it called but keeps the
        Spark actions it ran itself: those are its own work (they are also
        summed, across layers, in ``spark.action_s_per_op``)."""
        child_s = [0.0] * len(self.spans)
        for name, start, end, parent, op in self.spans:
            if parent is not None and end is not None and name != ACTION_SPAN:
                child_s[parent] += end - start
        for i, (name, start, end, parent, op) in enumerate(self.spans):
            if end is not None:
                yield name, op, end - start, end - start - child_s[i]

    def metrics(self, traced_ops: int, ops_per_call: int, infeasible_share: float,
                overhead_pct: float) -> dict:
        """Every per-layer metric. ``traced_ops`` counts calls; per-op
        values divide by calls x ``ops_per_call`` (a batch call answers
        many OD pairs)."""
        n_ops = max(traced_ops * ops_per_call, 1)
        tot: dict[str, float] = {}
        self_tot: dict[str, float] = {}
        calls: dict[str, int] = {}
        setup: dict[str, float] = {}
        for name, op, dur, self_s in self._durations():
            if op is None:
                setup[name] = setup.get(name, 0.0) + dur
                continue
            tot[name] = tot.get(name, 0.0) + dur
            self_tot[name] = self_tot.get(name, 0.0) + self_s
            calls[name] = calls.get(name, 0) + 1

        def per_op(v: float) -> float:
            return v / n_ops

        out = {
            "spark.jobs_per_op": per_op(sum(j[0] for j in self.jobs)),
            "spark.stages_per_op": per_op(sum(j[1] for j in self.jobs)),
            "spark.tasks_per_op": per_op(sum(j[2] for j in self.jobs)),
            "spark.action_s_per_op": per_op(tot.get(ACTION_SPAN, 0.0)),
            "graph.stop_bound.prune_ratio": (
                self.unreachable_true / self.unreachable_calls
                if self.unreachable_calls else 0.0
            ),
            "graph.local_sssp.lanes_per_call": (
                float(statistics.mean(self.lanes)) if self.lanes else 0.0
            ),
            "workload.infeasible_share": infeasible_share,
            "trace.overhead_pct": overhead_pct,
        }
        for tier in ("driver", "arrow", "iterative"):
            out[f"graph.sssp.{tier}_tier_calls"] = per_op(self.tiers.count(tier))
        for key in PER_LAYER:
            if key in out:
                continue
            prefix, _, metric = key.rpartition(".")
            if metric == "self_s_per_op":
                out[key] = per_op(self_tot.get(prefix, 0.0))
            elif metric == "s_per_op":
                out[key] = per_op(tot.get(prefix, 0.0))
            elif metric == "calls_per_op":
                out[key] = per_op(calls.get(prefix, 0))
            elif metric == "setup_s":
                out[key] = setup.get(prefix, 0.0)
            else:
                raise KeyError(key)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end,
                                    "parent": parent, "op": op}) + "\n")
