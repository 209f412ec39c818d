"""Job-level benchmark: times the user-facing jobs end to end in a closed
loop, checks every call's output, and with ``--trace 1`` breaks a call down
by layer.

    python3 jobbench/run.py --workload extract_resume --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. One client runs one job call at a time
against ``local[nproc]`` Spark; each run is its own process and session.
Everything the run writes lives under ``.jobbench_work/`` in the checkout
and is removed at exit. The last stdout line is the result object;
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. The exit code is non-zero when any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "chapterbridge_ocr_worker_spark"
DEDUP_JOB = os.path.join("jobs", "dedup_job.py")


def _configure(work: str) -> int:
    """Size the session to this machine through the package's environment
    variables and keep every temporary file inside ``work``."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        # far below any machine's RAM (the package default is 32g); the
        # inputs are a few MB, and a small heap keeps the JVM's peak RSS
        # from swinging with heap-growth timing
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        # no hsperfdata file in the system temp directory
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        OCR_STUB_COST="0",
    )
    return cores


def _window(wl, seconds: float, traced: bool, tag: str, min_calls: int) -> list[dict]:
    """Closed loop: restore the prior state, time one call, check its
    output; repeat until ``seconds`` have passed and at least
    ``min_calls`` calls are made."""
    from common import ProcessTree, cpu_steal_s, tree_bytes

    calls = []
    start = time.perf_counter()
    while len(calls) < min_calls or time.perf_counter() - start < seconds:
        wl.prepare()
        group = f"jobbench-{tag}-{len(calls)}" if traced else None
        before = sum(tree_bytes(p)[0] for p in wl.write_root())
        spans = None
        if traced:
            from chapterbridge_ocr_worker_spark.sources import tables
            from tracing import TableSpans

            spans = TableSpans(tables)
        rec = {"group": group, "spans": spans, "errors": []}
        steal0 = cpu_steal_s()
        with ProcessTree() as tree:
            t0, p0 = time.time(), time.perf_counter()
            try:
                if spans:
                    with spans.active():
                        stats = wl.call(group)
                else:
                    stats = wl.call(group)
            except Exception:
                stats = None
                rec["errors"].append(traceback.format_exc(limit=3))
            rec["wall"] = time.perf_counter() - p0
            rec["window"] = (t0, time.time())
        rec["steal_s"] = cpu_steal_s() - steal0
        rec["rss_mb"] = tree.rss_mb
        rec["cpu_s"] = tree.cpu_s
        rec["rss_mb_by_process"] = [kb // 1024 for kb in tree.by_process_kb if kb >= 1024]
        if stats is not None:
            rec["stats"] = stats
            rec["docs"], rec["dead"] = wl.docs(stats)
            rec["bytes"] = sum(tree_bytes(p)[0] for p in wl.write_root()) - before
            try:
                rec["errors"] += wl.check(stats)
            except Exception:
                rec["errors"].append(traceback.format_exc(limit=3))
        for err in rec["errors"]:
            print(f"[{wl.name}] check failed: {err}", file=sys.stderr)
        calls.append(rec)
    return calls


def _end_to_end(calls: list[dict], setup_s: float) -> dict:
    from common import median

    ok = [c for c in calls if not c["errors"]]
    return {
        "wall_s": median([c["wall"] for c in ok]),
        "docs_per_s": median([c["docs"] / c["wall"] for c in ok]),
        "cpu_s": median([c["cpu_s"] for c in ok]),
        "setup_s": setup_s,
        "peak_rss_mb": median([c["rss_mb"] for c in ok]),
        "write_bytes_per_doc": median([c["bytes"] / max(c["docs"], 1) for c in ok]),
    }


def _per_layer(wl, untraced: list[dict], traced: list[dict], event_dir: str, cores: int) -> dict:
    from common import median
    from tracing import EventLog, cover, replay_inner

    log = EventLog(event_dir)
    per_call = []
    for c in traced:
        if c["errors"]:
            continue
        call = log.call(c["group"])
        if not (call.n_jobs and call.stages):
            # a call always runs Spark jobs; none in the log means the
            # attribution broke, which must not read as a layer doing nothing
            c["errors"].append(f"no jobs or stages of group {c['group']} in the event log")
            print(f"[{wl.name}] check failed: {c['errors'][-1]}", file=sys.stderr)
            continue
        m = call.metrics(c["wall"], cores, c["window"])
        m.update(c["spans"].metrics(wl.commit_tables, c["window"]))
        m["trace.cover_frac"] = cover(call.intervals() + c["spans"].intervals(), c["window"])
        m.update(wl.stats_layers(c["stats"]))
        per_call.append(m)
    keys = sorted({k for m in per_call for k in m})
    out = {k: median([m.get(k, 0.0) for m in per_call]) for k in keys}
    if wl.layer_inputs():
        out.update(replay_inner(wl.layer_inputs()))
    walls_u = [c["wall"] for c in untraced if not c["errors"]]
    walls_t = [c["wall"] for c in traced if not c["errors"]]
    everything = untraced + traced
    attempted = sum(c.get("docs", 0) + c.get("dead", 0) for c in everything)
    out["trace.overhead_s"] = median(walls_t) - median(walls_u)
    # a run holds a few calls, too few for any percentile above the median
    out["run.wall_s_max"] = max(walls_u + walls_t, default=0.0)
    out["run.calls"] = len(everything)
    out["run.doc_fail_frac"] = sum(c.get("dead", 0) for c in everything) / max(attempted, 1)
    out["run.error_frac"] = sum(bool(c["errors"]) for c in everything) / len(everything)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(PACKAGE) and os.path.isfile(DEDUP_JOB)):
        print(f"run from a checkout: {PACKAGE}/ and {DEDUP_JOB} not found", file=sys.stderr)
        return 2
    sys.path[:0] = [os.getcwd(), BENCH_DIR]
    from dedup import DedupWeekly
    from extract import ExtractResume

    workloads = {w.name: w for w in (ExtractResume, DedupWeekly)}
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2

    work = os.path.abspath(".jobbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cores = _configure(work)
        from common import shutdown_spark

        wl = workloads[args.workload](work, args.seed, cores)
        try:
            t0 = time.perf_counter()
            wl.setup()
            setup_s = time.perf_counter() - t0
            if args.trace:
                untraced = _window(wl, args.seconds / 2, False, "untraced", 1)
                event_dir = os.path.join(work, "events")
                wl.enable_trace(event_dir)
                traced = _window(wl, args.seconds / 2, True, "traced", 1)
                shutdown_spark()  # flushes the event log
                calls = untraced + traced
                metrics = _per_layer(wl, untraced, traced, event_dir, cores)
            else:
                calls = _window(wl, args.seconds, False, "timed", wl.timed_calls)
                metrics = _end_to_end(calls, setup_s)
        finally:
            shutdown_spark()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(bool(c["errors"]) for c in calls)
    with open("BENCHMARK.json") as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "call_wall_s": [round(c["wall"], 4) for c in calls],
                      "call_cpu_s": [round(c["cpu_s"], 2) for c in calls],
                      "call_cpu_steal_s": [round(c["steal_s"], 2) for c in calls],
                      "rss_mb_by_process": [c["rss_mb_by_process"] for c in calls]}))
    # a layer the workload does not run (the OCR loop in the dedup job,
    # say) reads 0
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(calls),
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]} for m in declared
        },
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
