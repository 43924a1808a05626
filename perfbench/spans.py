"""Spans around the benchmark's calls into each layer of the engine.

A span records name, layer, query id, start, end and its parent.  While a
span is open its Spark job group is set, so ``statusTracker`` can attribute
jobs, stages and tasks to it afterwards; a counter on py4j ``send_command``
counts driver-to-JVM round trips.  Spans stay in memory and are written out
once, at the end of the run.  A layer's self time is its span time minus the
part covered by its child spans.

Report a trace file:  python3 perfbench/spans.py <trace.json>
"""

from __future__ import annotations

import contextlib
import itertools
import json
import sys
import threading
import time
from collections import defaultdict


class _TripCounter:
    """Counts py4j ``send_command`` calls (both transports)."""

    def __init__(self) -> None:
        self.count = 0
        self._lock = threading.Lock()
        self._patched: list[tuple[type, object]] = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def counting(conn, *a, _orig=orig, **kw):
                with self._lock:
                    self.count += 1
                return _orig(conn, *a, **kw)

            cls.send_command = counting
            self._patched.append((cls, orig))

    def uninstall(self) -> None:
        for cls, orig in self._patched:
            cls.send_command = orig
        self._patched.clear()


class Tracer:
    """No-op unless ``enabled``; then records spans as described above."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.samples: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._trips = _TripCounter()
        self._sc = None
        self._t0 = time.perf_counter()

    def attach(self, spark) -> None:
        """Start counting py4j trips; spans opened before this carry no
        Spark counts (session start cannot be inside a job group)."""
        if self.enabled:
            self._sc = spark.sparkContext
            self._trips.install()

    def close(self) -> None:
        self._trips.uninstall()

    def sample(self, name: str, value: float, query: str | None = None) -> None:
        """A point measurement that is not a span (sizes, counts)."""
        if self.enabled:
            self.samples.append({"name": name, "value": value, "query": query})

    @contextlib.contextmanager
    def span(self, name: str, query: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids), "name": name, "layer": name.split(":")[0],
            "query": query, "parent": parent["id"] if parent else None,
            "start": time.perf_counter() - self._t0, "trips0": self._trips.count,
        }
        rec["group"] = f"perfbench-{rec['id']}"
        if self._sc is not None:
            self._sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0
            rec["trips"] = self._trips.count - rec.pop("trips0")
            if self._sc is not None:
                if parent is not None and parent["group"]:
                    self._sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
            else:
                rec["group"] = None
            self.spans.append(rec)

    def resolve_jobs(self) -> None:
        """Fill each span's own job, stage and task counts from statusTracker
        (after the work and before the session stops; a repeat call refreshes)."""
        if self._sc is None:
            return
        tracker = self._sc.statusTracker()
        for rec in self.spans:
            jobs = stages = tasks = 0
            if rec["group"]:
                for jid in tracker.getJobIdsForGroup(rec["group"]) or []:
                    jobs += 1
                    info = tracker.getJobInfo(jid)
                    for sid in (info.stageIds if info else []):
                        st = tracker.getStageInfo(sid)
                        stages += 1
                        tasks += st.numTasks if st else 0
            rec.update(jobs=jobs, stages=stages, tasks=tasks)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "samples": self.samples, **extra}, f, default=str)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


def layer_table(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, total/self seconds, own jobs/stages/tasks,
    py4j trips (self), and the self share of the traced wall time."""
    selft = self_times(spans)
    trips_incl = {s["id"]: s.get("trips", 0) for s in spans}
    kids_trips: dict[int, int] = defaultdict(int)
    for s in spans:
        if s["parent"] is not None:
            kids_trips[s["parent"]] += s.get("trips", 0)
    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0,
                                        "jobs": 0, "stages": 0, "tasks": 0, "trips": 0})
        r["calls"] += 1
        r["total_s"] += s["end"] - s["start"]
        r["self_s"] += selft[s["id"]]
        for k in ("jobs", "stages", "tasks"):
            r[k] += s.get(k, 0)
        r["trips"] += trips_incl[s["id"]] - kids_trips[s["id"]]
    wall = sum(selft.values()) or 1.0
    for r in rows.values():
        r["self_share"] = r["self_s"] / wall
        r["tasks_per_job"] = r["tasks"] / r["jobs"] if r["jobs"] else 0.0
    return rows


def main(path: str) -> None:
    with open(path) as f:
        trace = json.load(f)
    rows = layer_table(trace["spans"])
    head = (f"{'span':34} {'calls':>5} {'total_s':>9} {'self_s':>9} {'self%':>6} {'jobs':>5} "
            f"{'stages':>6} {'tasks':>6} {'task/job':>8} {'trips':>7}")
    print(head)
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"{name:34} {r['calls']:5d} {r['total_s']:9.3f} {r['self_s']:9.3f} "
              f"{100 * r['self_share']:6.1f} {r['jobs']:5d} {r['stages']:6d} {r['tasks']:6d} "
              f"{r['tasks_per_job']:8.1f} {r['trips']:7d}")
    if trace.get("per_layer"):
        print()
        for k, v in trace["per_layer"].items():
            print(f"{k:40} {v['value']:.6g} {v['unit']}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: python3 perfbench/spans.py <trace.json>")
    main(sys.argv[1])
