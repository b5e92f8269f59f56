"""Span tracing for the traced benchmark run.

Wrappers are installed from here, around calls into each layer's public
functions; no engine code is changed. A span records its name, start,
end and parent in memory. While a span is open, Spark jobs started on
the calling thread carry a job group naming it, so each job is counted
once, against the innermost open span.

Lazy plan constructors (``operators.dedup.collapse``, ``lake.mor.resolve``
when called from ``LakeTable.read``) only build plans: the jobs that
execute those plans start later and land in the consuming span.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

#: span name -> (layer it wraps, metric it should move, workloads).
#: Time metrics other than setup_s are the wall-time figures the runs
#: print; jobs_per_batch, tasks_per_batch, lookup_scan_bytes and
#: write_bytes_per_event are end-to-end metrics of BENCHMARK.json.
#: steady_cow is not in BENCHMARK.json; view_follow's bronze stream runs
#: the same COW micro-batch path, with the follower syncs on top. In
#: view_follow, apply.batch, operators.* and lake.table.commit also count
#: the view and silver tables' applies, made inside the sync spans.
LAYER_MAP = {
    "session.build": ("session.build_session", "setup_s", "all"),
    "sources.kafka.parse": (
        "sources.kafka.parse_kafka_records (incl. registry harvest job)",
        "events_per_s, tasks_per_batch",
        "bulk_backfill (no change on the others)"),
    "apply.batch": (
        "CdcApplier.apply_batch self time (stats + quarantine job, "
        "lineage write)", "batch_s_p50, jobs_per_batch",
        "view_follow, mor_read_write (small share in bulk_backfill)"),
    "operators.evolution": (
        "widen_for_batch, evolve_for_batch", "events_per_s",
        "bulk_backfill"),
    "operators.dedup.collapse": (
        "collapse_last_writer (plan build only)", "batch_s_p50",
        "view_follow"),
    "operators.merge": (
        "merge_into self time", "events_per_s / batch_s_p50, "
        "tasks_per_batch", "bulk_backfill / view_follow"),
    "lake.table.commit": (
        "LakeTable.commit_rewrite/commit_delta/commit_append "
        "(+ .bytes, .files)", "events_per_s, write_bytes_per_event",
        "bulk_backfill, view_follow"),
    "lake.table.load": (
        "LakeTable.load/refresh (manifest parse)", "batch_s_p50",
        "view_follow, mor_read_write"),
    "lake.stats.harvest": (
        "harvest_file_stats, harvest_blooms",
        "batch_s_p50, jobs_per_batch", "view_follow"),
    "lake.mor.resolve": (
        "mor.resolve + the benchmark's read/lookup calls "
        "(+ lake.stats.lookup_files_frac)",
        "read_s_p50, lookup_s_p50, lookup_scan_bytes", "mor_read_write"),
    "lake.maintenance.compact": (
        "maintenance.compact (+ .bytes)",
        "write_bytes_per_event, jobs_per_batch, batch_s_tail",
        "mor_read_write"),
    "lake.changes": (
        "table_changes", "batch_s_p50, jobs_per_batch",
        "view_follow (absent elsewhere)"),
    "streaming.runner": (
        "CdcStreamRunner.process_batch self time (+ .retries)",
        "batch_s_p50", "view_follow, mor_read_write"),
    "streaming.aggview.sync": (
        "AggViewRunner.sync", "batch_s_p50, jobs_per_batch",
        "view_follow (no change on mor_read_write)"),
    "streaming.cascade.sync": (
        "CascadeRunner.sync", "batch_s_p50, jobs_per_batch",
        "view_follow (no change on mor_read_write)"),
}

SPANS = tuple(LAYER_MAP)

#: the benchmark's own root span around one timed step; its self time
#: is the step's time that no layer span covers
STEP = "bench.step"


class Tracer:
    """In-memory span recorder; ``spans`` is a list of dicts."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "start": time.perf_counter(), "end": None, "attrs": {}}
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self._sc()
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", f"pb-{rec['id']}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            sc = self._sc()
            if sc is not None:
                sc.setLocalProperty(
                    "spark.jobGroup.id",
                    f"pb-{parent['id']}" if parent else None)

    def wrap(self, fn, name: str):
        """``fn`` run inside a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def install(tracer: Tracer) -> None:
    """Patch the layer entry points named in LAYER_MAP. Functions are
    patched where callers look them up: a module attribute when called
    through the module, the importing module's name otherwise."""
    from kafka_jdbc_sink_connector_spark import apply, session
    from kafka_jdbc_sink_connector_spark.lake import (
        changes, maintenance, mor, stats, table)
    from kafka_jdbc_sink_connector_spark.operators import merge
    from kafka_jdbc_sink_connector_spark.sources import kafka
    from kafka_jdbc_sink_connector_spark.streaming import (
        aggview, cascade, runner)

    def patch(owner, attr, name):
        setattr(owner, attr, tracer.wrap(getattr(owner, attr), name))

    patch(session, "build_session", "session.build")
    patch(kafka, "parse_kafka_records", "sources.kafka.parse")
    patch(apply.CdcApplier, "apply_batch", "apply.batch")
    patch(apply, "widen_for_batch", "operators.evolution")
    patch(apply, "evolve_for_batch", "operators.evolution")
    patch(apply, "collapse_last_writer", "operators.dedup.collapse")
    patch(merge, "merge_into", "operators.merge")

    LakeTable = table.LakeTable
    for attr in ("commit_rewrite", "commit_delta", "commit_append"):
        fn = getattr(LakeTable, attr)

        @functools.wraps(fn)
        def commit(self, *a, _fn=fn, **kw):
            # files and bytes the commit added: files of the new
            # snapshot that the table's previous snapshot did not have
            with tracer.span("lake.table.commit") as rec:
                old = set(self.snapshot.all_files())
                snap = _fn(self, *a, **kw)
                new = set(snap.all_files()) - old
                rec["attrs"]["files"] = len(new)
                rec["attrs"]["bytes"] = sum(
                    os.path.getsize(os.path.join(self.path, f))
                    for f in new)
                return snap

        setattr(LakeTable, attr, commit)
    load = LakeTable.__dict__["load"].__func__
    LakeTable.load = classmethod(tracer.wrap(load, "lake.table.load"))
    patch(LakeTable, "refresh", "lake.table.load")

    patch(stats, "harvest_file_stats", "lake.stats.harvest")
    patch(stats, "harvest_blooms", "lake.stats.harvest")
    patch(mor, "resolve", "lake.mor.resolve")
    patch(maintenance, "compact", "lake.maintenance.compact")
    patch(changes, "table_changes", "lake.changes")
    patch(aggview, "table_changes", "lake.changes")
    patch(cascade, "table_changes", "lake.changes")
    patch(runner.CdcStreamRunner, "process_batch", "streaming.runner")
    patch(aggview.AggViewRunner, "sync", "streaming.aggview.sync")
    patch(cascade.CascadeRunner, "sync", "streaming.cascade.sync")


def _self_time(rec: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its children cover."""
    covered, edge = 0.0, rec["start"]
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], edge), min(c["end"], rec["end"])
        if hi > lo:
            covered += hi - lo
            edge = hi
    return rec["end"] - rec["start"] - covered


def spark_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, executed stages, their tasks) run under a job group; a
    stage a job skipped (its shuffle output reused) ran no task and is
    not counted."""
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    stages = {}
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                stages[s] = si.numTasks
    return len(jobs), len(stages), sum(stages.values())


def layer_metrics(tracer: Tracer, sc, window: tuple[float, float],
                  n_steps: int) -> dict[str, tuple[float, str]]:
    """Per-layer metrics over the timed window, as means per timed step
    (``session.build``: totals over the whole run, as it runs once in
    set-up). Returns ``{name: (value, unit)}``."""
    lo, hi = window
    kids: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    acc = {n: [0, 0.0, 0, 0] for n in SPANS + (STEP,)}
    extra = {"commit_bytes": 0, "commit_files": 0, "compact_bytes": 0,
             "retries": 0}
    for s in tracer.spans:
        whole_run = s["name"] == "session.build"
        if s["name"] not in acc or s["end"] is None:
            continue
        if not whole_run and not (s["start"] >= lo and s["end"] <= hi):
            continue
        a = acc[s["name"]]
        jobs, stages, _ = spark_counts(sc, f"pb-{s['id']}")
        a[0] += 1
        a[1] += _self_time(s, kids.get(s["id"], []))
        a[2] += jobs
        a[3] += stages
        if s["name"] == "lake.table.commit":
            extra["commit_bytes"] += s["attrs"].get("bytes", 0)
            extra["commit_files"] += s["attrs"].get("files", 0)
        elif s["name"] == "lake.maintenance.compact":
            extra["compact_bytes"] += sum(
                c["attrs"].get("bytes", 0) for c in kids.get(s["id"], [])
                if c["name"] == "lake.table.commit")
        elif s["name"] == "streaming.runner":
            applies = sum(1 for c in kids.get(s["id"], [])
                          if c["name"] == "apply.batch")
            extra["retries"] += max(0, applies - 1)
    out: dict[str, tuple[float, str]] = {}
    for name, (calls, self_s, jobs, stages) in acc.items():
        per = 1 if name == "session.build" else n_steps
        out[f"{name}.calls"] = (calls / per, "count")
        out[f"{name}.self_s"] = (self_s / per, "s")
        out[f"{name}.jobs"] = (jobs / per, "count")
        out[f"{name}.stages"] = (stages / per, "count")
    out["lake.table.commit.bytes"] = (extra["commit_bytes"] / n_steps, "B")
    out["lake.table.commit.files"] = (extra["commit_files"] / n_steps,
                                      "count")
    out["lake.maintenance.compact.bytes"] = (
        extra["compact_bytes"] / n_steps, "B")
    out["streaming.runner.retries"] = (extra["retries"], "count")
    return out


def calibrate_overhead(n: int = 2000) -> float:
    """Seconds one empty traced call costs (span bookkeeping + the two
    job-group property sets), measured on a throwaway tracer."""
    t = Tracer()
    fn = t.wrap(lambda: None, "calibration")
    t0 = time.perf_counter()
    for _ in range(n):
        fn()
    return (time.perf_counter() - t0) / n
