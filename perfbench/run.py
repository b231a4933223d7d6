"""Repository benchmark: one seeded workload, one Spark process.

    python3 perfbench/run.py --workload household_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into ``.perfbench_work/`` (nothing is read or written outside the
checkout). The run measures the cold set-up (JVM + session, first
job, Python worker pool), prepares inputs and oracles, then times a
fixed number of iterations that take about ``--seconds`` seconds (and
at least three), each one starting from empty Spark caches.
Outputs are checked against oracles after each iteration's clock stops.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` also turns
on the Spark event log and records spans (with Spark job groups)
around every call into the engine's layers; it prints the per-layer
metrics, and writes ``spans.jsonl`` and ``layers.json`` to the work
dir. Iterations alternate traced / untraced in a traced run, and the
difference is reported as ``trace.overhead_share``.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
See perfbench/README.md for what each metric means and which layer
metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

STARTED = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

#: a run must end well inside three minutes: no timed iteration starts
#: after LAST_START seconds, and the watchdog cancels Spark jobs still
#: running at CANCEL_AT
LAST_START, CANCEL_AT = 80.0, 160.0
#: a run times at least this many iterations, so that its medians can
#: pass over one outlier
MIN_TIMED = 3


def timed_iterations(wl, seconds: float) -> int:
    """How many iterations a run times: about --seconds of work on 4
    cores, fixed by --seconds alone, so that two versions of the engine
    measure the same iterations (index_ingest's batches grow the index,
    so a later batch costs more than an earlier one)."""
    n = max(MIN_TIMED, round(seconds / wl.iteration_s))
    return min(n, getattr(wl, "MAX_BATCHES", n))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["household_etl", "corpus_dedup", "index_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (tests use a small one)")
    p.add_argument("--work", default=None, help="work dir (default: <checkout>/.perfbench_work)")
    return p.parse_args(argv)


def make_workload(name: str, scale: float):
    import workloads as W

    if name == "household_etl":
        return W.HouseholdETL(n_households=max(200, int(8_000 * scale)))
    if name == "corpus_dedup":
        return W.CorpusDedup(n_docs=max(200, int(2000 * scale)), n_vecs=max(300, int(2000 * scale)))
    return W.IndexIngest(n_seed=max(200, int(600 * scale)), batch=max(50, int(200 * scale)))


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(args) -> dict:
    harness.ensure_package()
    import layers
    import workloads as W

    work = args.work or os.path.join(harness.ROOT, ".perfbench_work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = harness.loadavg()
    rivals = harness.rivals()
    if rivals:
        log("CONTENDED: another Spark JVM or pytest is live:\n  " + "\n  ".join(rivals))

    tracer = harness.Tracer(enabled=False)
    session = harness.Session(work, len(os.sched_getaffinity(0)), event_log=bool(args.trace))
    try:
        session.start()
        log(f"set-up {session.timings}")
        wl = make_workload(args.workload, args.scale)
        check = W.Check()
        ctx = W.Ctx(session, tracer, check, work, args.seed)
        if args.trace:
            probe = layers.Probe(session, tracer)
            probe.install()
        t_prep = time.perf_counter()
        wl.prepare(ctx)
        session.clear_cache()
        log(f"prepared in {time.perf_counter() - t_prep:.2f}s")

        rows, requests, traced_s, untraced_s, leaked = [], [], [], [], {}
        unstolen = []  # rows' wall seconds less the busy-CPU steal share

        def one(i: int, timed: bool) -> float:
            tracer.iteration = i
            ctx.requests, ctx.rows = [], None
            j0, t0 = harness.cpu_jiffies(), harness.now()
            with harness.watchdog(session, max(5.0, STARTED + CANCEL_AT - time.perf_counter())):
                with tracer.span(f"iteration {i}", "iteration") as root:
                    done = wl.iteration(ctx, warm=not timed)
            dt = harness.since(t0)
            stolen = harness.steal_share(j0, harness.cpu_jiffies())[1]
            leaked[i] = session.cached_bytes()
            session.clear_cache()
            wl.verify(ctx, done)
            if root is not None:
                root.counts.update(wl.stats())
            if timed:
                requests.extend(ctx.requests or [dt])
                rows.append(ctx.rows or dt)
                unstolen.append(rows[-1][0] * (1.0 - stolen))
            req = " ".join(f"{c:.2f}" for _, c in ctx.requests)
            log(f"iteration {i} {'timed' if timed else 'warm-up'} {dt[0]:.3f}s wall {dt[1]:.3f}s cpu"
                f" {stolen:.1%} stolen{' traced' if tracer.enabled else ''}"
                f"{'; request cpu s ' + req if req else ''}")
            return dt[0]

        i = 0
        for _ in range(wl.warmup):
            one(i, timed=False)
            i += 1
        jiffies0 = harness.cpu_jiffies()
        for k in range(timed_iterations(wl, args.seconds)):
            if k and time.perf_counter() - STARTED > LAST_START:
                log(f"LATE: stopped after {k} timed iterations to end inside three minutes")
                break
            tracer.enabled = bool(args.trace) and (k % 2 == 0)
            dt = one(i, timed=True)
            i += 1
            (traced_s if tracer.enabled else untraced_s).append(dt)
        tracer.enabled = False
        stored = wl.bytes_stored_per_input_byte() if hasattr(wl, "bytes_stored_per_input_byte") else None
        jiffies1 = harness.cpu_jiffies()
        rss = harness.peak_rss_mb()
        if args.trace:
            probe.uninstall()
    finally:
        session.stop()
    load_after = harness.loadavg()

    steal = harness.steal_share(jiffies0, jiffies1)[0]
    log(f"load average {load_before:.2f} -> {load_after:.2f}; cpu steal {steal:.1%}")
    if check.problems:
        log("FAILED CHECKS:\n  " + "\n  ".join(check.problems))
    if not rows or not requests:
        check.fail("no timed iteration completed its rows and requests")

    def med(values) -> float:
        values = list(values)
        return statistics.median(values) if values else 0.0

    report = {
        "setup_s": (session.timings["cpu_s"], "s", 1),
        "rows_per_cpu_s": (wl.rows_per_iter / med(c for _, c in rows), "1/cpu_s", len(rows)),
        "rows_per_unstolen_s": (wl.rows_per_iter / med(unstolen), "1/s", len(unstolen)),
        "request_cpu_ms.p50": (1e3 * med(c for _, c in requests), "ms", len(requests)),
    }
    if stored is not None:
        report["bytes_stored_per_input_byte"] = (stored, "B/B", 1)
    human = dict(report)
    human.update({
        "setup_wall_s": (session.timings["wall_s"], "s", 1),
        "rows_per_s": (wl.rows_per_iter / med(w for w, _ in rows), "1/s", len(rows)),
        "request_ms.p50": (1e3 * med(w for w, _ in requests), "ms", len(requests)),
        "peak_rss_mb": (rss, "MB", 1),
        "failed_share": (check.failed / max(check.attempted, 1), "share", check.attempted),
        "cpu_steal_share": (steal, "share", 1),
    })
    if args.trace:
        per_layer = layers.per_layer(session, tracer, probe, traced_s, untraced_s, leaked, rss, work)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
        tracer.dump(os.path.join(work, "spans.jsonl"))
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in report.items()}
    for k, (v, u, n) in human.items():
        log(f"{k:>18} = {v:.6g} {u}  n={n}")
    return {
        "correct": check.failed == 0,
        "attempted": max(check.attempted, 1),
        "failed": check.failed if check.attempted else 1,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a SIGTERM unwinds through run()'s finally, which stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
