"""Tests of the benchmark itself (not of sketchlib).

    python3 -m pytest perfbench/tests -q

The last test starts Spark for each workload at the tiny size (about a
minute in total).
"""

import json
import os
import re
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
sys.path.insert(0, ROOT)

from perfbench.trace import Recorder  # noqa: E402
from perfbench.workloads import (SIZES, Build, derive_seed,  # noqa: E402
                                 serve_schedule, table_tokens)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    MANIFEST = json.load(_f)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _same_schedule(a, b) -> bool:
    return len(a) == len(b) and all(
        va == vb and np.array_equal(np.asarray(xa), np.asarray(xb))
        for (va, xa), (vb, xb) in zip(a, b))


def test_generator_is_deterministic_in_seed(tmp_path):
    assert derive_seed(7, "delta", 3) == derive_seed(7, "delta", 3)
    assert derive_seed(7, "delta", 3) != derive_seed(8, "delta", 3)

    hot = np.arange(10, 74, dtype=np.int64)
    present = np.arange(1000, dtype=np.int64)
    assert _same_schedule(serve_schedule(5, hot, present),
                          serve_schedule(5, hot, present))
    assert not _same_schedule(serve_schedule(5, hot, present),
                              serve_schedule(6, hot, present))

    tables = []
    for seed, sub in ((3, "a"), (3, "b"), (4, "c")):
        wl = Build(SIZES["tiny"], seed, str(tmp_path / sub))
        wl.setup(None, 0)
        tables.append(table_tokens(wl.table))
    assert np.array_equal(tables[0], tables[1])
    assert not np.array_equal(tables[0], tables[2])


def test_benchmark_json_follows_name_rules():
    committed = MANIFEST
    names = [w["name"] for w in committed["workloads"]]
    names += [m["name"] for m in committed["end_to_end"]]
    names += [m["name"] for m in committed["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"]
               for w in committed["workloads"])
    for m in committed["end_to_end"] + committed["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    bounds = {m["name"]: m["bound"] for m in committed["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_span_self_time_never_exceeds_duration():
    rec = Recorder("t")
    rec.enabled = True
    with rec.span("op.root"):
        with rec.span("store.a"):
            with rec.span("serde.b"):
                pass
        with rec.span("catalog.c"):
            pass
    st = rec.self_times()
    assert len(st) == 4
    for s in rec.spans:
        assert 0.0 <= st[s.span_id] <= s.duration
    root = next(s for s in rec.spans if s.parent_id is None)
    kids = [s for s in rec.spans if s.parent_id == root.span_id]
    assert len(kids) == 2
    assert st[root.span_id] == pytest.approx(
        root.duration - sum(k.duration for k in kids), abs=1e-9)
    assert all(s.run_id == "t" for s in rec.spans)


def test_wrap_records_and_restores():
    class Layer:
        @staticmethod
        def f(x):
            return x + 1

    rec = Recorder("w")
    seen = []
    rec.wrap(Layer, "f", "layer.f", on_result=seen.append)
    assert Layer.f(1) == 2 and rec.spans == []   # disabled: no span
    rec.enabled = True
    assert Layer.f(2) == 3
    assert [s.name for s in rec.spans] == ["layer.f"] and seen == [3]
    rec.restore()
    assert Layer.f(3) == 4 and len(rec.spans) == 1


def test_op_traces_every_other_occurrence_of_each_kind():
    rec = Recorder("o")
    rec.active = True
    kinds = ["fold", "topk", "member", "fold", "topk", "fold", "member"]
    traced = []
    for kind in kinds:
        with rec.op(kind) as on:
            traced.append(on)
    assert traced == [True, True, True, False, False, True, False]
    assert not rec.enabled
    assert [s.name for s in rec.spans] == ["op.fold", "op.topk",
                                           "op.member", "op.fold"]


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "11", "--seconds", "2", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=170)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [
    ("build", 0), ("ingest", 0), ("ingest", 1)])
def test_tiny_run_is_correct_and_names_match(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    table = MANIFEST["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in table} == {
        n: m["unit"] for n, m in res["metrics"].items()}
    assert all(NAME.match(n) for n in res["metrics"])
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())
