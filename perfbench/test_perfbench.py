"""Tests of the benchmark itself: seeded inputs, the tracer, and a
tiny-size run of every workload that must pass its check.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import numpy as np
import pytest

from pandarus_spark.geometry import geom as G
from perfbench import run as R
from perfbench import workloads as W
from perfbench.tracing import Tracer

def _digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        cols = [p[c] for c in p.columns] if hasattr(p, "columns") else [p]
        for col in cols:
            arr = np.asarray(col)
            if arr.dtype == object:
                for v in arr:
                    h.update(v if isinstance(v, bytes) else repr(v).encode())
            else:
                h.update(np.ascontiguousarray(arr).tobytes())
    return h.hexdigest()


GENERATORS = {
    "overlay_pages": lambda s: W.pages_ids(s, 500),
    "zonal_tiles": lambda s: W.zones(s, 8, 6),
    "dedup_lsh": lambda s: (W.corpus(s, 300),),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_inputs_are_seed_deterministic(name):
    gen = GENERATORS[name]
    a, b, c = gen(7), gen(7), gen(8)
    assert _digest(*a) == _digest(*b)
    assert _digest(*a) != _digest(*c)
    for x, y in zip(a, c):
        assert x.shape == y.shape
        if hasattr(x, "columns"):
            assert list(x.columns) == list(y.columns)
            assert list(x.dtypes) == list(y.dtypes)


def test_pages_expected_counts_neighbours():
    # probe 0 overlaps base 0, 1, GRID_COLS, GRID_COLS + 1; base 1 is absent
    base = np.array([0, W.GRID_COLS, W.GRID_COLS + 1])
    e = W.pages_expected(base, np.array([0]))
    assert e["rows"] == 3
    p = W.page_boxes(np.array([0]), True)[0]
    measure = 0.0
    for b in W.page_boxes(base, False):
        x0, y0, x1, y1 = max(p[0], b[0]), max(p[1], b[1]), min(p[2], b[2]), min(p[3], b[3])
        ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
        measure += G.measure({"type": "Polygon", "coordinates": [ring]}, "polygon")
    assert e["measure"] == pytest.approx(measure, rel=1e-9)
    assert e["tiles"] == 3  # each small base box sits inside one res-8 cell


def test_trace_spans_nest_and_self_times_sum():
    tr = Tracer("t")
    with tr.span("root") as root:
        time.sleep(0.01)
        with tr.span("a"):
            time.sleep(0.02)
            with tr.span("a.inner"):
                time.sleep(0.01)
        with tr.span("b"):
            time.sleep(0.01)
    with tr.span("other"):
        pass
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["a"]["parent"] == root["id"]
    assert by_name["a.inner"]["parent"] == by_name["a"]["id"]
    assert by_name["other"]["parent"] is None
    for s in tr.spans:
        parent = tr.spans[s["parent"]] if s["parent"] is not None else None
        if parent:
            assert parent["start"] <= s["start"] <= s["end"] <= parent["end"]
        assert tr.self_time(s["id"]) >= 0
        assert s["run"] == "t"
    total = sum(tr.self_time(i) for i in tr.subtree(root["id"]))
    assert total == pytest.approx(tr.duration(root["id"]), abs=1e-9)


@pytest.fixture(scope="module")
def spark():
    # the benchmark's session settings must not leak into other tests
    # that run later in the same process
    saved = dict(os.environ)
    try:
        R.configure_env()
        from pandarus_spark.session import build_session
        s = build_session(app="perfbench-tests")
        s.sparkContext.setLogLevel("ERROR")
        yield s
        R.stop_session(s)
    finally:
        os.environ.clear()
        os.environ.update(saved)


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_tiny_workload_passes_its_check(spark, name):
    wl = W.WORKLOADS[name](spark, seed=3, size="tiny")
    wl.prepare()
    try:
        out = wl.job()
        assert wl.check(out) == []
        assert wl.work_rows(out) > 0
        tr = Tracer(name)
        with tr.span("job.staged") as root:
            staged = wl.staged(tr)
        staged.update(wl.diagnostics(tr))
        assert set(staged) <= set(R.declared("per_layer"))
        assert len(tr.children(root["id"])) >= 2
        total = sum(tr.self_time(i) for i in tr.subtree(root["id"]))
        assert total == pytest.approx(tr.duration(root["id"]), abs=1e-9)
    finally:
        wl.release()


def test_check_catches_a_wrong_result(spark):
    wl = W.WORKLOADS["dedup_lsh"](spark, seed=3, size="tiny")
    wl.generate()
    good = {"pairs": wl.expected["pairs"], "clusters": wl.expected["clusters"],
            "docs": len(wl.docs_pdf)}
    assert wl.check(good) == []
    assert wl.check(dict(good, pairs=good["pairs"] - 1))


def test_traced_run_reports_the_refine_tiers(spark):
    wl = W.WORKLOADS["zonal_tiles"](spark, seed=5, size="tiny")
    wl.prepare()
    try:
        ops = R.Ops()
        res = R.traced_run(wl, spark, ops, 0.1, Tracer("t"), {"build_s": 1.0, "warmup_s": 1.0})
    finally:
        wl.release()
    m = res["metrics"]
    assert ops.failed == 0
    assert set(m) == set(R.declared("per_layer"))
    # the zones' overlay with their offset copy runs the convex and concave tiers
    for k in ("refine.rows_convex", "refine.rows_concave", "intersect.refine_s",
              "intersect.refine_out_rows", "raster_stats.stats_s", "geometry.clip_pairs_per_s"):
        assert m[k] > 0, k


def test_cli_prints_every_end_to_end_metric():
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "zonal_tiles",
                        "--seed", "5", "--seconds", "1", "--trace", "0"],
                       cwd=R.ROOT, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert set(res["metrics"]) == set(R.declared("end_to_end"))
