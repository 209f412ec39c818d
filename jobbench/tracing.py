"""Tracing for the per-layer run: Spark's own event log folded per job call
and per layer, spans in this process around the ``sources.tables`` functions,
and a replay of the OCR inner loop through a counting engine.

Nothing here edits the package: the event log is a Spark setting, the
table spans wrap module attributes for the length of one traced call, and
the replay runs ``engine.inner.run_adaptive`` in this process.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

from common import median, quantile, tree_bytes

# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def enable_event_log(jvm, directory: str) -> None:
    """Turn Spark's event log on, uncompressed, for every SparkContext
    created from now on in this JVM. SparkConf loads ``spark.*`` system
    properties, so this also reaches the sessions a job's ``main`` builds."""
    system = jvm.java.lang.System
    os.makedirs(directory, exist_ok=True)
    system.setProperty("spark.eventLog.enabled", "true")
    system.setProperty("spark.eventLog.dir", "file://" + os.path.abspath(directory))
    system.setProperty("spark.eventLog.compress", "false")


class _Stage:
    def __init__(self) -> None:
        self.start = self.end = 0.0
        self.accs: dict[int, float] = {}
        self.run_ms: list[float] = []
        self.gc_ms = 0.0
        self.shuffle_read = 0
        self.shuffle_write = 0
        self.spill = 0


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Jobs, stages and task metrics of every application logged under a
    directory, with each stage's physical operators recovered from the SQL
    plans (an operator ran in a stage iff its SQL metrics updated there)."""

    def __init__(self, directory: str):
        # SQL metric accumulator id -> (operator name, operator text,
        # operator subtree text, metric name)
        self.nodes: dict[int, tuple[str, str, str, str]] = {}
        self.job_group: dict[int, str | None] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, _Stage] = defaultdict(_Stage)
        # one file per application, or a directory of rolled files
        paths = [p for p in glob.glob(os.path.join(directory, "*")) if os.path.isfile(p)]
        paths += glob.glob(os.path.join(directory, "*", "events_*"))
        for path in sorted(paths):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _plan(self, info: dict) -> str:
        subtree = info["simpleString"] + "\n" + "".join(
            self._plan(c) for c in info.get("children", [])
        )
        for m in info.get("metrics", []):
            self.nodes[m["accumulatorId"]] = (
                info["nodeName"], info["simpleString"], subtree, m["name"]
            )
        return subtree

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if "sparkPlanInfo" in e:
            self._plan(e["sparkPlanInfo"])
        elif kind == "SparkListenerJobStart":
            self.job_group[e["Job ID"]] = e.get("Properties", {}).get("spark.jobGroup.id")
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages[info["Stage ID"]]
            st.start = info.get("Submission Time", 0) / 1000
            st.end = info.get("Completion Time", 0) / 1000
            for acc in info.get("Accumulables", []):
                st.accs[acc["ID"]] = _num(acc.get("Value"))
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                return
            st = self.stages[e["Stage ID"]]
            st.run_ms.append(m["Executor Run Time"])
            st.gc_ms += m["JVM GC Time"]
            sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
            st.shuffle_read += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            st.shuffle_write += sw["Shuffle Bytes Written"]
            st.spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]

    def call(self, group: str) -> "CallTrace":
        jobs = [j for j, g in self.job_group.items() if g == group]
        stage_ids = {s for s, j in self.stage_job.items() if j in jobs}
        return CallTrace(
            self, len(jobs), [self.stages[s] for s in sorted(stage_ids) if s in self.stages]
        )


def _ran(log: EventLog, st: _Stage, pred) -> bool:
    return any(pred(*log.nodes[a][:3]) for a in st.accs if a in log.nodes)


def _is_ocr(name, text, subtree):
    return name == "MapInPandas"


def _is_kernel(name, text, subtree):
    return name in ("MapInArrow", "PythonMapInArrow")


def _is_reassembly(name, text, subtree):
    return "collect_list(struct(offset" in text


def _is_write(name, text, subtree):
    return "InsertIntoHadoopFsRelationCommand" in text


def _is_resume_join(name, text, subtree):
    # the anti-join against the table that marks finished work: lineage
    # for extraction, signatures for the dedup job
    return "Join" in name and "LeftAnti" in text and (
        "/lineage/" in subtree or "/signatures/" in subtree
    )


class CallTrace:
    """Per-layer figures of one job call, from its job group's stages."""

    def __init__(self, log: EventLog, n_jobs: int, stages: list[_Stage]):
        self.log, self.n_jobs, self.stages = log, n_jobs, stages

    def _where(self, pred) -> list[_Stage]:
        return [s for s in self.stages if _ran(self.log, s, pred)]

    @staticmethod
    def _task_s(stages: list[_Stage]) -> float:
        return sum(sum(s.run_ms) for s in stages) / 1000

    def metrics(self, wall: float, cores: int, window: tuple[float, float]) -> dict:
        ocr = self._where(_is_ocr)
        kernel = self._where(_is_kernel)
        writes = self._where(_is_write)
        reassembly = self._where(_is_reassembly)
        heaviest = max(ocr, key=lambda s: sum(s.run_ms), default=None)
        udf_rows = sum(
            v
            for s in ocr
            for a, v in s.accs.items()
            if self.log.nodes.get(a, ("",) * 4)[::3] == ("MapInPandas", "number of output rows")
        )
        task_s = self._task_s(self.stages)
        return {
            "pipeline.spark_jobs": self.n_jobs,
            "pipeline.task_s": task_s,
            "pipeline.core_busy_frac": task_s / (wall * cores) if wall else 0.0,
            "ocr_udf.task_s": self._task_s(ocr),
            "ocr_udf.rows": udf_rows,
            "skew.exchange_bytes": sum(s.shuffle_read for s in ocr),
            "skew.ocr_task_skew": (
                max(heaviest.run_ms) / max(median(heaviest.run_ms), 1.0) if heaviest else 0.0
            ),
            "reassemble.task_s": self._task_s(reassembly),
            "reassemble.shuffle_bytes": sum(s.shuffle_write for s in reassembly),
            "resume.antijoin_task_s": self._task_s(self._where(_is_resume_join)),
            "fastpath.task_s": self._task_s(kernel),
            "dedup.task_s": (
                self._task_s([s for s in self.stages if s not in kernel and s not in writes])
                if kernel
                else 0.0
            ),
            "spark.shuffle_bytes": sum(s.shuffle_write for s in self.stages),
            "spark.spill_bytes": sum(s.spill for s in self.stages),
            "spark.gc_s": sum(s.gc_ms for s in self.stages) / 1000,
            "trace.stage_cover_frac": cover(self.intervals(), window),
        }

    def intervals(self) -> list[tuple[float, float]]:
        return [(s.start, s.end) for s in self.stages]


def cover(intervals: list[tuple[float, float]], window: tuple[float, float]) -> float:
    """Share of ``window`` covered by the union of ``intervals``."""
    lo, hi = window
    covered, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            covered += b - a
            reach = b
    return covered / (hi - lo) if hi > lo else 0.0


# ---------------------------------------------------------------------------
# Spans around sources.tables
# ---------------------------------------------------------------------------

_READS = ("read_table", "read_table_latest", "read_table_pruned", "read_table_asof",
          "read_table_pruned_box", "list_snapshots")


class TableSpans:
    """Spans in this process around the public ``sources.tables`` functions for
    the length of one call: commit time per table, bytes and files each
    commit adds, and time spent planning reads."""

    def __init__(self, tables_module):
        self.tables = tables_module
        self.spans: list[tuple[str, str, float, float]] = []  # (function, table, start, end)
        self.bytes_written = 0
        self.files_written = 0
        self._depth = 0  # readers call each other; only the outermost call is a span

    def _wrap(self, fname: str):
        orig = getattr(self.tables, fname)

        def wrapper(*args, **kwargs):
            # append_snapshot(df, root, name); list_snapshots(root, name);
            # every reader is (spark, root, name, ...)
            name = kwargs.get("name", args[2] if len(args) > 2 else args[-1])
            root = args[1] if fname == "append_snapshot" else None
            before = tree_bytes(self.tables.table_path(root, name)) if root else (0, 0)
            t0 = time.time()
            self._depth += 1
            try:
                return orig(*args, **kwargs)
            finally:
                self._depth -= 1
                if not self._depth:
                    self.spans.append((fname, name, t0, time.time()))
                if root:
                    after = tree_bytes(self.tables.table_path(root, name))
                    self.bytes_written += after[0] - before[0]
                    self.files_written += after[1] - before[1]

        return orig, wrapper

    @contextlib.contextmanager
    def active(self):
        originals = {}
        for fname in ("append_snapshot", *_READS):
            originals[fname], wrapper = self._wrap(fname)
            setattr(self.tables, fname, wrapper)
        try:
            yield self
        finally:
            for fname, orig in originals.items():
                setattr(self.tables, fname, orig)

    def metrics(self, commit_tables: tuple[str, ...], window: tuple[float, float]) -> dict:
        out = {f"tables.commit_s.{t}": 0.0 for t in commit_tables}
        read_s = 0.0
        for fname, name, t0, t1 in self.spans:
            if fname == "append_snapshot" and name in commit_tables:
                out[f"tables.commit_s.{name}"] += t1 - t0
            elif fname in _READS:
                read_s += t1 - t0
        out["tables.read_s"] = read_s
        out["tables.bytes_written"] = self.bytes_written
        out["tables.files_written"] = self.files_written
        out["trace.span_cover_frac"] = cover(self.intervals(), window)
        return out

    def intervals(self) -> list[tuple[float, float]]:
        return [(a, b) for _, _, a, b in self.spans]


# ---------------------------------------------------------------------------
# Replay of the OCR inner loop
# ---------------------------------------------------------------------------


class CountingEngine:
    """Delegates to a real engine and counts and times each call, telling
    pass-A, pass-B and fallback tiles apart by where run_adaptive is."""

    def __init__(self, engine):
        self.engine = engine
        self.reset()

    def reset(self) -> None:
        self.decode_s = self.recognize_s = 0.0
        self.recognize_calls = self.pass_a = self.pass_b = 0
        self.tile_pixels = 0
        self.deduped = False  # set once run_adaptive reaches its NMS step

    def decode(self, data):
        t0 = time.perf_counter()
        try:
            return self.engine.decode(data)
        finally:
            self.decode_s += time.perf_counter() - t0

    def dimensions(self, image):
        return self.engine.dimensions(image)

    def crop(self, image, y_start, y_end):
        return self.engine.crop(image, y_start, y_end)

    def enhance(self, tile):
        return self.engine.enhance(tile)

    def recognize(self, tile):
        t0 = time.perf_counter()
        try:
            return self.engine.recognize(tile)
        finally:
            self.recognize_s += time.perf_counter() - t0
            self.recognize_calls += 1
            w, _ = self.engine.dimensions(tile.image)
            self.tile_pixels += w * (tile.y_end - tile.y_start)
            if not tile.enhanced:
                self.pass_a += 1
            elif not self.deduped:
                self.pass_b += 1


def replay_inner(blobs: list[bytes]) -> dict:
    """Run ``engine.inner.run_adaptive`` over ``blobs`` in this process
    through a counting stub engine and a timed NMS step."""
    from chapterbridge_ocr_worker_spark.engine import inner
    from chapterbridge_ocr_worker_spark.engine.stub import StubEngine

    engine = CountingEngine(StubEngine())
    orig_dedup = inner.deduplicate_lines
    nms = {"s": 0.0, "calls": 0, "in": 0, "out": 0}

    def timed_dedup(lines, *args, **kwargs):
        engine.deduped = True
        t0 = time.perf_counter()
        kept = orig_dedup(lines, *args, **kwargs)
        nms["s"] += time.perf_counter() - t0
        nms["calls"] += 1
        nms["in"] += len(lines)
        nms["out"] += len(kept)
        return kept

    totals = defaultdict(float)
    spans_ms: list[float] = []
    fallbacks = media = 0
    inner.deduplicate_lines = timed_dedup
    try:
        for blob in blobs:
            engine.reset()
            calls_before = nms["calls"]
            t0 = time.perf_counter()
            try:
                inner.run_adaptive(blob, engine)
            except ValueError:
                continue  # a planted corrupt blob: dead-lettered, not OCR'd
            spans_ms.append((time.perf_counter() - t0) * 1000)
            image = engine.engine.decode(blob)
            w, h = engine.engine.dimensions(image)
            media += 1
            fallbacks += nms["calls"] - calls_before > 1
            totals["decode"] += engine.decode_s
            totals["recognize"] += engine.recognize_s
            totals["calls"] += engine.recognize_calls
            totals["pass_a"] += engine.pass_a
            totals["pass_b"] += engine.pass_b
            totals["tile_px"] += engine.tile_pixels
            totals["image_px"] += w * h
    finally:
        inner.deduplicate_lines = orig_dedup
    n = max(media, 1)
    return {
        "inner.recognize_calls_per_media": totals["calls"] / n,
        "inner.passb_tile_frac": totals["pass_b"] / max(totals["pass_a"], 1),
        "inner.fallback_frac": fallbacks / n,
        "inner.pixels_per_image_pixel": totals["tile_px"] / max(totals["image_px"], 1),
        "inner.dedup_keep_ratio": nms["out"] / max(nms["in"], 1),
        "inner.decode_ms": totals["decode"] * 1000 / n,
        "inner.recognize_ms": totals["recognize"] * 1000 / n,
        "inner.dedup_ms": nms["s"] * 1000 / n,
        "inner.span_ms_p50": quantile(spans_ms, 0.5),
        "inner.span_ms_p99": quantile(spans_ms, 0.99),
    }
