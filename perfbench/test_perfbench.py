"""Tests of the benchmark's own machinery: result checks, the event-log
fold and the latency summary. Run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402
from checks import Ledger, pandas_fingerprint, same_fingerprint  # noqa: E402
from run import tail_latency  # noqa: E402


def _extract(ids):
    return pd.DataFrame({"entity_type": ["node"] * len(ids), "id": ids})


def test_corrupted_result_counts_as_failed():
    ref = _extract([1, 2, 3])
    fp = lambda df: pandas_fingerprint(df, ["entity_type", "id"], by=["entity_type"])  # noqa: E731
    ledger = Ledger()
    ledger.record("bbox_extract", ("box",), fp(_extract([3, 1, 2])), same_fingerprint)
    ledger.record("bbox_extract", ("box",), fp(_extract([1, 2, 4])), same_fingerprint)  # one id corrupted
    ledger.record("knn_kring", ("knn",), [(0, 1, 7)])
    calls = []

    def reference(key):
        calls.append(key)
        return fp(ref) if key == ("box",) else [(0, 1, 8)]

    ledger.settle(reference)
    assert (ledger.attempted, ledger.failed) == (3, 2)
    assert calls == [("box",), ("knn",)]  # one reference per key
    assert ledger.failures[0].startswith("bbox_extract ('box',): mismatch")


def test_known_reference_is_not_rebuilt():
    ledger = Ledger(references={("a",): 7})
    calls = []
    ledger.record("op", ("a",), 7)
    ledger.record("op", ("b",), 8)
    ledger.settle(lambda key: calls.append(key) or 8)
    assert calls == [("b",)] and (ledger.attempted, ledger.failed) == (2, 0)


def test_raising_call_and_missing_reference_fail():
    ledger = Ledger()
    ledger.error("read_pbf", ValueError("truncated blob"))
    ledger.record("read_pbf", ("roundtrip",), {(): (1, 2)}, same_fingerprint)
    ledger.settle(lambda key: 1 / 0)
    assert (ledger.attempted, ledger.failed) == (2, 2)


def test_fingerprint_ignores_order_and_empty_groups():
    a = pd.DataFrame({"entity_type": ["node", "way", "node"], "id": [5, 6, 7]})
    b = a.iloc[::-1]
    fa = pandas_fingerprint(a, ["id"], by=["entity_type"])
    assert fa == pandas_fingerprint(b, ["id"], by=["entity_type"])
    assert same_fingerprint(fa, {**fa, ("relation",): (0, 0)})
    assert not same_fingerprint(fa, pandas_fingerprint(a.iloc[:2], ["id"], by=["entity_type"]))


def _task(stage, run_ms, cpu_ns, gc_ms=0, written=0, records=0, spilled=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": spilled,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            "Shuffle Read Metrics": {"Total Records Read": records},
        },
    }


def test_fold_event_log_sums_tasks_per_job_group(tmp_path):
    g = layers.group_of("bbox_extract_batch")
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": g}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": {"spark.jobGroup.id": g}},
        _task(0, 1500, 1_000_000_000, gc_ms=100, written=2_000_000),
        _task(1, 500, 250_000_000, records=40),
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        _task(2, 999, 1),  # untagged job: not attributed to any layer
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    folded = layers.fold_event_log(str(log))
    assert list(folded) == [g]
    f = folded[g]
    assert f["jobs"] == 1 and f["tasks"] == 2
    assert f["run_s"] == pytest.approx(2.0) and f["cpu_s"] == pytest.approx(1.25)
    assert f["shuffle_write_mb"] == pytest.approx(2.0) and f["shuffle_records_read"] == 40

    m = layers.per_layer_metrics(folded, {"bbox_extract_batch": [3.0, 5.0]}, {"bbox_extract_batch": 20}, {})
    assert m[f"{g}.wall_s"] == 4.0 and m[f"{g}.tasks"] == 1.0
    assert m[f"{g}.offcpu_s"] == pytest.approx(0.375)
    assert m[f"{g}.yield"] == 0.5
    assert m["sources.pbf.read_pbf.tasks"] == 0.0  # idle layer
    assert sorted(m) == sorted(layers.per_layer_names())


def test_per_layer_names():
    names = layers.per_layer_names()
    assert len(names) == len(set(names)) == 15 * 8 + 2 + 2


def test_tail_latency_needs_ten_samples_beyond():
    assert tail_latency([1.0] * 19)["tail_s"] is None
    t = tail_latency([float(i) for i in range(1, 41)])
    assert t["tail_s"] == 30.0 and t["tail_pct"] == 75.0 and t["p50_s"] == 20.5


def test_rss_sampler_leaves_out_excluded_children():
    import subprocess
    import time

    hog = "x = bytearray(200 * 10**6); import sys; sys.stdin.read()"
    child = subprocess.Popen([sys.executable, "-c", hog], stdin=subprocess.PIPE)
    try:
        sampler = layers.RssSampler()
        for _ in range(100):  # until the child holds its 200 MB
            with_child = sampler.tree_rss()
            sampler.exclude.add(child.pid)
            without = sampler.tree_rss()
            sampler.exclude.clear()
            if with_child - without > 150e6:
                break
            time.sleep(0.1)
        assert with_child - without > 150e6
    finally:
        child.stdin.close()
        child.wait()


def test_start_child_returns_the_result():
    from run import start_child

    here = os.path.dirname(os.path.abspath(__file__))
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (here, old) if p)
    try:
        pid, result = start_child(tail_latency, [3.0, 1.0, 2.0])
    finally:
        if old is None:
            del os.environ["PYTHONPATH"]
        else:
            os.environ["PYTHONPATH"] = old
    assert pid != os.getpid()
    assert result()["p50_s"] == 2.0


def test_reap_children_waits_for_orphaned_grandchildren():
    import subprocess

    # in a fresh interpreter: becoming a subreaper cannot be undone
    script = """
import os, subprocess, sys
from run import adopt_orphans, child_pids, reap_children
adopt_orphans()
# the shell exits at once, leaving its sleep to this process
out = subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"], capture_output=True, text=True).stdout
orphan = int(out)
assert orphan in child_pids()
reap_children(grace_s=0.5)
assert child_pids() == []
try:
    os.kill(orphan, 0)
    sys.exit("orphan still running")
except ProcessLookupError:
    pass
"""
    here = os.path.dirname(os.path.abspath(__file__))
    done = subprocess.run([sys.executable, "-c", script], cwd=here, capture_output=True, text=True, timeout=60)
    assert done.returncode == 0, done.stderr
