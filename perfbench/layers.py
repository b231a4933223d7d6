"""The traced run's per-layer numbers.

``Probe`` installs the instrumentation (spans around the engine's
reader, writer and index-maintenance functions, a streaming-progress
listener, storage samples at span ends); ``per_layer`` joins the spans
with the Spark event log after the session stops and reduces each
traced iteration to one row of layer metrics, reporting their medians.
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
import os
import statistics
import sys

import harness

PKG = harness.PACKAGE

#: (module, functions, layer) — the calls a span wraps wherever the
#: engine's own modules reference them
_WRAPPED = [
    ("sources.readers", ["scan_csv", "scan_parquet", "load_testdata"], "sources"),
    ("sources.writers", ["write_csv", "write_parquet"], "sources"),
    ("operators.minhash_index", ["append_to_minhash_index"], "index"),
    ("operators.ivf_index", ["append_to_ivf_index", "maybe_compact_ivf_index"], "index"),
    ("operators.bm25", ["maybe_compact_bm25_index"], "index"),
]

#: metrics printed by ``--trace 1``: measured on every workload (a
#: layer a workload never calls reads 0 as a count or share). Layer
#: times that exist on one workload only (``sources.write_s``,
#: ``streaming.trigger_s``, ``index.compact_s``, ...) go to layers.json
#: alone: a time that reads 0 on every run is not a measurement.
PRINTED = {
    "session.start_s": "s",
    "session.worker_spawn_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.read_build_s": "s",
    "sources.input_bytes": "bytes",
    "sources.output_bytes": "bytes",
    "sources.output_files": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "exec.wall_s": "s",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.busy_share": "share",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.skew": "ratio",
    "exec.python_bytes": "bytes",
    "cache.bytes_peak": "bytes",
    "cache.leaked_bytes": "bytes",
    "dedup.verified_per_candidate": "share",
    "streaming.triggers": "count",
    "streaming.add_batch_share": "share",
    "index.compactions": "count",
    "index.files": "count",
    "index.bytes": "bytes",
    "index.bytes_per_input_byte": "share",
    "trace.overhead_share": "share",
}

def _wrap(tracer, fn, layer):
    @functools.wraps(fn)
    def traced(*a, **kw):
        with tracer.span(fn.__name__, layer) as s:
            out = fn(*a, **kw)
            if s is not None and fn.__name__.startswith("maybe_compact"):
                s.counts["compacted"] = int(bool(out))
            return out

    return traced


class Probe:
    def __init__(self, session, tracer):
        self.session, self.tracer = session, tracer
        self.patched: list[tuple[object, str, object]] = []
        self.progress: list[dict] = []
        self.listener = None

    def install(self) -> None:
        import importlib

        from pyspark.sql.streaming import StreamingQueryListener

        self.tracer.sc = self.session.spark.sparkContext
        for mod_name, fns, layer in _WRAPPED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            for name in fns:
                orig = getattr(mod, name)
                wrapped = _wrap(self.tracer, orig, layer)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith(PKG) and getattr(m, name, None) is orig:
                        self.patched.append((m, name, orig))
                        setattr(m, name, wrapped)

        progress = self.progress

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append({"ts": p.timestamp, "durationMs": dict(p.durationMs),
                                 "rows": p.numInputRows})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        self.session.spark.streams.addListener(self.listener)

        def sample(span):
            if span.layer in ("plans", "operators", "streaming", "index"):
                span.counts["cached"] = self.session.cached_bytes()

        self.tracer.on_close = sample

    def uninstall(self) -> None:
        for m, name, orig in self.patched:
            setattr(m, name, orig)
        self.tracer.on_close = None
        self.tracer.sc = None
        if self.listener is not None:
            self.session.spark.streams.removeListener(self.listener)


def _epoch(iso: str) -> float:
    return _dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def per_layer(session, tracer, probe, traced_s, untraced_s, leaked, rss_mb, work) -> dict:
    """Reduce the traced iterations to per-layer medians. Call after
    the session has stopped (the event log is complete then)."""
    jobs, stages, join_rows = harness.read_event_log(session.event_log_dir)
    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    ep = tracer.epoch

    def owner(job) -> harness.Span | None:
        g = job.group or ""
        if g.startswith("s") and g[1:].isdigit() and int(g[1:]) in by_id:
            return by_id[int(g[1:])]
        # streaming micro-batches run under the query's own job group:
        # attribute by submit time to the innermost enclosing span
        t = job.submit_s - ep
        inner = [s for s in spans if s.start <= t <= s.end]
        return max(inner, key=lambda s: s.start) if inner else None

    def ancestors(s):
        while s is not None:
            yield s
            s = by_id.get(s.parent) if s.parent is not None else None

    job_span = {j: owner(info) for j, info in jobs.items()}
    iterations = sorted({s.iteration for s in spans if s.layer == "iteration"})
    rows = []
    for it in iterations:
        sp = [s for s in spans if s.iteration == it]
        root = next(s for s in sp if s.layer == "iteration")
        my_jobs = [j for j, s in job_span.items() if s is not None and s.iteration == it]
        build_jobs = [j for j in my_jobs if any(a.layer == "plans" for a in ancestors(job_span[j]))]
        st_ids = sorted({st for j in my_jobs for st in jobs[j].stages if st in stages})
        sts = [stages[i] for i in st_ids]
        task_ms = sum(sum(s.task_ms) for s in sts)
        widest = max(sts, key=lambda s: s.tasks, default=None)
        if widest is not None and widest.task_ms:
            med = statistics.median(widest.task_ms)
            skew = max(widest.task_ms) / max(med, 1.0)
        else:
            skew = 0.0
        wall = root.seconds
        # useful-work ratio of the similarity layer: rows an operator
        # kept ÷ rows its join operators produced (the candidates it
        # scored), read from the SQL metrics of its own executions
        sims = {s.id for s in sp if s.layer == "similarity" and "kept" in s.counts}
        sim_execs = {jobs[j].execution for j in my_jobs if jobs[j].execution is not None
                     and any(a.id in sims for a in ancestors(job_span[j]))}
        candidates = sum(join_rows.get(ex, 0) for ex in sim_execs)
        kept = sum(by_id[i].counts["kept"] for i in sims)

        def total(layer, names=None):
            return sum(s.seconds for s in sp if s.layer == layer and (names is None or s.name in names))

        t0, t1 = root.start + ep, root.end + ep
        prog = [p for p in probe.progress if t0 <= _epoch(p["ts"]) <= t1]
        trig_ms = sum(p["durationMs"].get("triggerExecution", 0) for p in prog)
        add_ms = sum(p["durationMs"].get("addBatch", 0) for p in prog)
        idx_files, idx_bytes = root.counts.get("index_files", 0), root.counts.get("index_bytes", 0)
        row = {
            "sources.read_build_s": total("sources", {"scan_csv", "scan_parquet", "load_testdata"}),
            "sources.write_s": total("sources", {"write_csv", "write_parquet"}),
            "sources.input_bytes": root.counts.get("input_bytes", 0),
            "sources.output_files": root.counts.get("output_files", 0),
            "sources.output_bytes": root.counts.get("output_bytes", 0),
            "plans.build_s": total("plans"),
            "plans.build_jobs": len(build_jobs),
            "exec.wall_s": wall,
            "exec.task_s": task_ms / 1e3,
            "exec.cpu_s": sum(s.cpu_ns for s in sts) / 1e9,
            "exec.gc_s": sum(s.gc_ms for s in sts) / 1e3,
            "exec.busy_share": task_ms / 1e3 / (wall * session.cores),
            "exec.jobs": len(my_jobs),
            "exec.stages": len(sts),
            "exec.tasks": sum(s.tasks for s in sts),
            "exec.shuffle_write_bytes": sum(s.shuffle_write for s in sts),
            "exec.shuffle_read_bytes": sum(s.shuffle_read for s in sts),
            "exec.spill_bytes": sum(s.spill for s in sts),
            "exec.skew": skew,
            "exec.python_bytes": sum(s.python_bytes for s in sts),
            "cache.bytes_peak": max((s.counts.get("cached", 0) for s in sp), default=0),
            "cache.leaked_bytes": leaked.get(it, 0),
            "dedup.verified_per_candidate": kept / candidates if candidates else 0.0,
            "streaming.triggers": len(prog),
            "streaming.trigger_s": trig_ms / 1e3,
            "streaming.add_batch_share": add_ms / trig_ms if trig_ms else 0.0,
            "streaming.floor_s": (trig_ms - add_ms) / 1e3,
            "index.append_s": total("index", {"append_to_minhash_index", "append_to_ivf_index"}),
            "index.compact_s": total("index", {"maybe_compact_bm25_index", "maybe_compact_ivf_index"}),
            "index.compactions": sum(s.counts.get("compacted", 0) for s in sp),
            "index.files": idx_files,
            "index.bytes": idx_bytes,
            "index.bytes_per_input_byte": idx_bytes / root.counts["ingested_bytes"] if idx_bytes else 0.0,
            "index.lookup_build_s": total("plans", {"bm25_topk_from_index", "ivf_topk_from_index"}),
            "index.lookup_exec_s": total("operators", {"bm25_topk_from_index", "ivf_topk_from_index"}),
        }
        rows.append(row)
    med = {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}
    med["session.start_s"] = session.timings["start_s"] + session.timings["first_job_s"]
    med["session.worker_spawn_s"] = session.timings["worker_spawn_s"]
    med["session.peak_rss_mb"] = rss_mb
    med["trace.overhead_share"] = (statistics.median(traced_s) / statistics.median(untraced_s) - 1.0
                                   if traced_s and untraced_s else 0.0)
    with open(os.path.join(work, "layers.json"), "w") as f:
        json.dump({"iterations": rows, "median": med, "traced_s": traced_s,
                   "untraced_s": untraced_s}, f, indent=1)
    for k in sorted(med):
        print(f"perfbench: {k:>30} = {med[k]:.6g}", file=sys.stderr)
    return {k: (med[k], u) for k, u in PRINTED.items()}
