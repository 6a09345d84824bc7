"""Tracing for the ``--trace 1`` run: spans recorded by the benchmark's
own code around each public call, wrappers on the module attributes the
program imports at call time, one Spark job group per request, and the
Spark event log read back at the end. Spans stay in memory until the run
ends, when they are printed with the detail line. The untraced run uses
``NullTracer``, which records nothing."""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

from stats import self_time


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name, req=None):
        yield

    def request(self, req, kind):
        pass

    def wrap(self, module, attr, name):
        pass

    def unwrap_all(self):
        pass


class Tracer:
    """Spans are dicts (name, start, end, parent index, request id)."""

    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans = []
        self.groups = {}  # job group id -> request kind
        self._stack = []
        self._req = None
        self._wrapped = []

    @contextlib.contextmanager
    def span(self, name, req=None):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "req": self._req if req is None else req,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def request(self, req, kind):
        """Start request ``req``: its Spark jobs go to their own group."""
        self._req = req
        self.groups[req] = kind
        self.sc.setJobGroup(req, kind)

    def wrap(self, module, attr, name):
        """Replace ``module.attr`` with a spanned wrapper (restored by
        :meth:`unwrap_all`). Works for names the program imports inside a
        function body, which read the module attribute at call time."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, traced)
        self._wrapped.append((module, attr, fn))

    def unwrap_all(self):
        for module, attr, fn in reversed(self._wrapped):
            setattr(module, attr, fn)
        self._wrapped.clear()

    # -- reading it back ---------------------------------------------------
    def self_times(self, name, reqs):
        """Self time of every span called ``name`` in a request of ``reqs``."""
        out = []
        for i, s in enumerate(self.spans):
            if s["name"] != name or s["req"] not in reqs:
                continue
            kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == i]
            out.append(self_time((s["start"], s["end"]), kids))
        return out

    def count_jobs(self):
        """Read (jobs, tasks) per request from StatusTracker; call before
        Spark stops. ``job_counts`` then answers from this copy."""
        st = self.sc.statusTracker()
        self.jobs = {}
        for req in self.groups:
            jobs = st.getJobIdsForGroup(req)
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else []:
                    stage = st.getStageInfo(sid)
                    tasks += stage.numCompletedTasks if stage else 0
            self.jobs[req] = (len(jobs), tasks)

    def job_counts(self, req):
        """(jobs, tasks) Spark ran for request ``req``."""
        return self.jobs.get(req, (0, 0))



def event_log_totals(log_dir):
    """Per job group sums from the Spark event log: executor run time (s),
    JVM GC time (s), shuffle bytes written, input bytes read, task count."""
    # Spark writes a rolling log: a directory of events_<n>_<app> files
    # beside an appstatus marker and .crc checksums
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
        if f.startswith("events_")
    )
    stage_group = {}
    totals = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    t = totals.setdefault(
                        g, {"run_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
                            "input_bytes": 0, "tasks": 0},
                    )
                    t["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    t["tasks"] += 1
    return totals
