"""Tracing: spans around engine calls, Spark job groups, the event-log
fold into per-layer metrics, and the process-tree memory sampler.

Each engine call made by the benchmark runs under the Spark job group
``<layer>.<call_site>``. With ``spark.eventLog.enabled`` (uncompressed)
every stage carries that group in its submission properties, so the
``SparkListenerTaskEnd`` records of the log can be summed per call site.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# call site -> layer, in the order the ledger reports them
CALL_SITES = {
    "parse": "sources.span_codec",
    "build_way_tiles": "operators.indexes",
    "prepare_extract_context": "operators.extract",
    "bbox_extract_batch": "operators.extract",
    "bbox_extract": "operators.extract",
    "knn_kring": "operators.knn",
    "intersections": "operators.intersections",
    "write_pbf": "sources.pbf",
    "read_pbf": "sources.pbf",
    "write_vex": "sources.vex",
    "read_vex": "sources.vex",
    "decode_media_features": "operators.multimodal",
    "sample_frames": "operators.multimodal",
    "dup_components": "operators.dedup",
    "ivf_pq_topk": "operators.similarity",
}
FIELDS = ("wall_s", "jobs", "tasks", "cpu_s", "offcpu_s", "gc_s", "shuffle_mb", "spill_mb")
# useful-to-attempted ratios: output rows per shuffle record read
YIELDS = ("bbox_extract_batch", "knn_kring")
# bytes written per entity by the two file codecs
SIZES = ("write_pbf", "write_vex")


def group_of(call_site: str) -> str:
    return f"{CALL_SITES[call_site]}.{call_site}"


def per_layer_names() -> list[str]:
    names = [f"{group_of(c)}.{f}" for c in CALL_SITES for f in FIELDS]
    names += [f"{group_of(c)}.yield" for c in YIELDS]
    names += [f"{group_of(c)}.bytes_per_entity" for c in SIZES]
    return names


class Tracer:
    """Spans (name, start, end, parent, request id) kept in memory. A
    span's name is the Spark job group its calls run under; spans do not
    nest, so ``parent`` is always null.

    When ``spark`` is None (untraced runs) no job group is set and no
    span is kept, so the untraced loop runs the engine calls bare."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, group: str, request: int):
        if self.spark is None:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": group,
            "parent": None,
            "request": request,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        set_group(self.spark, group)
        try:
            yield
        finally:
            set_group(self.spark, None)
            rec["end"] = time.perf_counter() - self._t0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def set_group(spark, group: str | None) -> None:
    """Set (or clear) this thread's Spark job group. PySpark pins each
    Python thread to its own JVM thread, so threads set their own."""
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


def fold_event_log(path: str) -> dict[str, dict[str, float]]:
    """Sum the task metrics of an uncompressed Spark event log per job
    group: {group: {jobs, tasks, run_s, cpu_s, gc_s, shuffle_write_mb,
    shuffle_records_read, spill_mb}}."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    out[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if not g or not m:
                    continue
                acc = out[g]
                acc["tasks"] += 1
                acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                sw = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_records_read"] += sr.get("Total Records Read", 0)
    return {g: dict(v) for g, v in out.items()}


def per_layer_metrics(
    folded: dict, walls: dict[str, list[float]], out_rows: dict[str, int], sizes: dict[str, float]
) -> dict[str, float]:
    """Per-call averages for every call site; zeros where the workload
    never calls it. ``walls`` maps call site -> span durations in the
    traced window, ``out_rows`` call site -> output rows summed over those
    calls, ``sizes`` call site -> bytes per entity written."""
    m: dict[str, float] = {}
    for c in CALL_SITES:
        g = group_of(c)
        n = len(walls.get(c, []))
        e = folded.get(g, {})
        per = (lambda v: v / n) if n else (lambda v: 0.0)
        m[f"{g}.wall_s"] = per(sum(walls.get(c, [])))
        m[f"{g}.jobs"] = per(e.get("jobs", 0.0))
        m[f"{g}.tasks"] = per(e.get("tasks", 0.0))
        m[f"{g}.cpu_s"] = per(e.get("cpu_s", 0.0))
        m[f"{g}.offcpu_s"] = per(max(0.0, e.get("run_s", 0.0) - e.get("cpu_s", 0.0)))
        m[f"{g}.gc_s"] = per(e.get("gc_s", 0.0))
        m[f"{g}.shuffle_mb"] = per(e.get("shuffle_write_mb", 0.0))
        m[f"{g}.spill_mb"] = per(e.get("spill_mb", 0.0))
    for c in YIELDS:
        g = group_of(c)
        read = folded.get(g, {}).get("shuffle_records_read", 0.0)
        m[f"{g}.yield"] = out_rows.get(c, 0) / read if read else 0.0
    for c in SIZES:
        m[f"{group_of(c)}.bytes_per_entity"] = sizes.get(c, 0.0)
    return m


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver Python, the JVM it launched and the JVM's Python workers),
    sampled every ``interval`` seconds on a daemon thread. Processes in
    ``exclude``, and their descendants, are left out."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_bytes = 0
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.tree_rss())
            self._stop.wait(self.interval)

    def tree_rss(self) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{d}/statm") as f:
                    pages = int(f.read().split()[1])
            except (OSError, ValueError, IndexError):
                continue
            fields = stat[stat.rindex(")") + 2 :].split()
            parent[int(d)] = int(fields[1])
            rss[int(d)] = pages * self._page
        tree = {os.getpid()}
        grew = True
        while grew:
            grew = False
            for pid, ppid in parent.items():
                if ppid in tree and pid not in tree and pid not in self.exclude:
                    tree.add(pid)
                    grew = True
        return sum(rss.get(p, 0) for p in tree)
