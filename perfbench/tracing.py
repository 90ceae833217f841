"""Per-layer spans and counts for the traced run, recorded from outside the
engine.

``Tracer.install()`` swaps the public entry points the engine calls for
wrappers that record a span (name, start, end, parent, run id) and force the
DataFrame they return to materialize inside the span — Spark is lazy, so an
unforced span would time planning only.  Forced results are persisted and
released two rounds later, so the engine reuses them instead of computing
them twice.  Every job the tracer itself starts runs in the ``perfbench``
job group; the engine's job, stage and task counts come from
``SparkContext.statusTracker()`` over the jobs outside that group.  Python
time per UDF comes from Spark's ``spark.sql.pyspark.udf.profiler=perf``.
Spans stay in memory until ``dump()``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

TRACE_GROUP = "perfbench"


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.rounds: list[dict] = []  # one record per traced round
        self._open: dict | None = None  # the round in progress
        self._persisted: list[tuple[int, object]] = []  # (round seq, df)
        self._known_jobs: set[int] = set()
        self._restore: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    # ------------------------------------------------------------- spans
    def record(self, name: str, start: float, end: float, parent=None, **attrs) -> dict:
        span = {"name": name, "start": start, "end": end, "parent": parent,
                "run": self.run_id, **attrs}
        with self._lock:
            self.spans.append(span)
        return span

    def _parent(self):
        return self._open["id"] if self._open else None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {}
        t0 = time.time()
        try:
            yield rec
        finally:
            self.record(name, t0, time.time(), self._parent(), **attrs, **rec)

    @contextmanager
    def trace_jobs(self):
        """Run the enclosed Spark jobs in the tracer's own job group."""
        self.sc.setJobGroup(TRACE_GROUP, "perfbench trace")
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _force(self, df):
        """Persist and count ``df`` inside the caller's span."""
        with self.trace_jobs():
            df = df.persist()
            n = df.count()
        self._persisted.append((len(self.rounds), df))
        return df, n

    # ------------------------------------------------------- job counting
    def _drain_listener(self) -> None:
        # status-store updates arrive through the async listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def _engine_jobs(self) -> set[int]:
        self._drain_listener()
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def _open_round(self) -> None:
        self._known_jobs = self._engine_jobs()
        self._open = {"id": f"round-{len(self.rounds)}", "start": time.time(),
                      "rows_in": 0, "rows_out": 0, "hot_host_share": 0.0, "writes": 0}

    def _close_round(self, rnd: int, rdir: str) -> None:
        rec = self._open
        rec["end"] = time.time()
        rec["round"] = rnd
        jobs = self._engine_jobs() - self._known_jobs
        rec["jobs"] = sorted(jobs)
        files = [os.path.join(p, f) for p, _, fs in os.walk(rdir) for f in fs]
        rec["files"] = len(files)
        rec["bytes"] = sum(os.path.getsize(f) for f in files)
        self.record("engine.round", rec["start"], rec["end"], None, id=rec["id"], round=rnd)
        self.rounds.append(rec)
        self._open = None
        # results forced two rounds ago are no longer referenced by the engine
        keep = []
        for seq, df in self._persisted:
            if seq < len(self.rounds) - 1:
                df.unpersist()
            else:
                keep.append((seq, df))
        self._persisted = keep

    def task_counts(self) -> None:
        """Fill completed/failed task counts per round (after the crawl, so
        every stage's final counts have reached the status store)."""
        self._drain_listener()
        st = self.sc.statusTracker()
        for rec in self.rounds:
            stages = set()
            for j in rec["jobs"]:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            done = failed = 0
            for s in stages:
                si = st.getStageInfo(s)
                if si is not None:
                    done += si.numCompletedTasks
                    failed += si.numFailedTasks
            rec["tasks"], rec["failed_tasks"] = done, failed

    # ------------------------------------------------------------ patching
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from crawler_spark.operators import dedup as dd
        from crawler_spark.plans import engine as engine_mod
        from crawler_spark.sources import snapshots as snap

        tr = self
        select = engine_mod.select_fetch_batch
        admit = dd.BLOOM_OPS.admit
        update = dd.BLOOM_OPS.update
        probe = dd.bloom_probe
        read_full = snap.read_full
        read_deltas = snap.read_deltas

        def traced_select(frontier, robots, cfg):
            tr._open_round()
            with tr.span("trace.politeness_counts"):
                with tr.trace_jobs():
                    per_host = frontier.groupBy("host").count()
                    agg = per_host.agg(F.sum("count"), F.max("count")).first()
            rows_in = int(agg[0] or 0)
            with tr.span("politeness.select_fetch_batch") as rec:
                out, n = tr._force(select(frontier, robots, cfg))
                rec["rows"] = n
            o = tr._open
            o["rows_in"], o["rows_out"] = rows_in, n
            o["hot_host_share"] = (agg[1] or 0) / rows_in if rows_in else 0.0
            return out

        def traced_admit(cands, url_seen, bloom, n_buckets):
            # expansion (explode + prepare_url + robots) materializes first,
            # so the admit span covers the seen-filter alone
            with tr.span("engine.expand_candidates") as rec:
                cands, n = tr._force(cands)
                rec["rows"] = n
            with tr.span("dedup.admit") as rec:
                out, m = tr._force(admit(cands, url_seen, bloom, n_buckets))
                rec["rows_in"], rec["rows"] = n, m
            return out

        def traced_probe(candidates, bloom, n_buckets):
            with tr.span("dedup.bloom_probe") as rec:
                out, n = tr._force(probe(candidates, bloom, n_buckets))
                with tr.trace_jobs():
                    rec["passed"] = out.filter(F.col("probably_seen")).count()
                rec["rows"] = n
            return out

        def traced_update(bloom, admitted, n_buckets, fpp=dd.DEFAULT_FPP):
            with tr.span("dedup.bloom_update"):
                out, _ = tr._force(update(bloom, admitted, n_buckets, fpp))
            return out

        def traced_read_full(spark, ckpt_dir, name, rnd):
            with tr.span("snapshots.read_full", table=name) as rec:
                df = read_full(spark, ckpt_dir, name, rnd)
                with tr.trace_jobs():
                    rec["rows"] = df.count()
            return df

        def traced_read_deltas(spark, ckpt_dir, name, upto_round):
            with tr.span("snapshots.read_deltas", table=name) as rec:
                df = read_deltas(spark, ckpt_dir, name, upto_round)
                dirs = 0
                if df is not None:
                    dirs = len({os.path.dirname(f) for f in df.inputFiles()})
                    with tr.trace_jobs():
                        rec["rows"] = df.count()
                rec["dirs"] = dirs
            return df

        class TracedRoundCommit(snap.RoundCommit):
            def write(self, name, df):
                t0 = time.time()
                parent = tr._parent()
                super().write(name, df)
                tr._open["writes"] += 1

                def done(fut, name=name, t0=t0, parent=parent):
                    tr.record("snapshots.write", t0, time.time(), parent, table=name,
                              ok=fut.exception() is None)

                self._futs[name].add_done_callback(done)

            def commit(self, *args, **kwargs):
                with tr.span("snapshots.commit"):
                    out = super().commit(*args, **kwargs)
                tr._close_round(self.rnd, self.rdir)
                return out

        self._patch(engine_mod, "select_fetch_batch", traced_select)
        self._patch(dd.BLOOM_OPS, "admit", traced_admit)
        self._patch(dd.BLOOM_OPS, "update", traced_update)
        self._patch(dd, "bloom_probe", traced_probe)
        self._patch(snap, "read_full", traced_read_full)
        self._patch(snap, "read_deltas", traced_read_deltas)
        self._patch(snap, "RoundCommit", TracedRoundCommit)
        self.spark.profile.clear()
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")

    def uninstall(self) -> None:
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)
        for _, df in self._persisted:
            df.unpersist()
        self._persisted = []

    # ------------------------------------------------------- UDF profiles
    def udf_profile(self) -> dict:
        """{layer: {"s": cumulative seconds in the UDF body, "calls": {fn: n}}}
        from the perf profiler, keyed by the module the UDF body lives in."""
        bodies = {  # (file, function) of each UDF body the engine runs
            "extract": ("extract.py", "_f"),
            "urlnorm": ("urlnorm.py", "_f"),
            "imaging": ("imaging.py", "payload_check_group"),
        }
        out = {k: {"s": 0.0, "calls": {}} for k in bodies}
        results = self.spark.profile.profiler_collector._perf_profile_results
        for stats in results.values():
            for (fname, _line, func), (_cc, nc, _tt, ct, _callers) in stats.stats.items():
                for layer, (bf, bfunc) in bodies.items():
                    if fname == bf:
                        calls = out[layer]["calls"]
                        calls[func] = calls.get(func, 0) + nc
                        if func == bfunc:
                            out[layer]["s"] += ct
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def self_time(round_span: dict, children: list[dict]) -> float:
    """Round duration minus the part of it covered by child spans (which may
    overlap: table writes run on commit threads)."""
    lo, hi = round_span["start"], round_span["end"]
    ivs = sorted((max(lo, c["start"]), min(hi, c["end"])) for c in children)
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered
