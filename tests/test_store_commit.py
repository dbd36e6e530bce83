"""The store's commit point (store._commit): a writer killed after each
durable step of a commit — parts written, generation claimed, head
replaced — leaves the committed state before that commit or the one
after it, never a mix, and a retry converges to the rebuild's bytes.
Concurrent commits of one name: the second is refused; of different
names: both land.

The killed writers run in a subprocess without Spark (``spark=None``:
the store never needs a session, and the global and grouped folds build
their deltas on driver threads)."""

import functools
import math
import os
import shutil
import subprocess
import sys
import threading

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from sketchlib import store
from sketchlib.countmin import CMConfig, CountMinSketch
from sketchlib.datagen import generate_token_table
from sketchlib.incremental import (current_group_sketches,
                                   incremental_build,
                                   incremental_build_grouped)
from sketchlib.spark_build import (build_aggregator_parquet,
                                   grouped_parquet_fleet)

_fac = functools.partial(CountMinSketch,
                         CMConfig(eps=1e-2, delta=math.exp(-3), seed=5))
KILLED = 17
# the function whose return ends each durable step of a commit
STEPS = {"parts": "_write_parts", "claim": "_claim", "head": "_write_head"}


def _sketch(n):
    s = _fac()
    s.update_batch(np.arange(n, dtype=np.int64))
    return s


def _lineage(n):
    return pd.DataFrame({"pid": range(n), "n_rows": [10] * n,
                         "n_items": [10] * n, "total_count": [10] * n,
                         "build_ms": [1.0] * n})


OPS = {
    "save": lambda st, data: store.save_sketch(
        None, st, "x", _sketch(40), lineage=_lineage(3)),
    "fold": lambda st, data: incremental_build(
        None, data, "tokens", _fac, store_path=st, name="cm", n_slices=1),
    "grouped": lambda st, data: incremental_build_grouped(
        None, data, "source", "tokens", _fac, store_path=st, name="g",
        n_slices=1),
    "compact": lambda st, data: store.compact_store(None, st),
}


def _land(data, i, rows):
    os.makedirs(data, exist_ok=True)
    generate_token_table(os.path.join(data, f".p{i}"), rows=rows, seed=i,
                         dist="zipf")
    os.replace(os.path.join(data, f".p{i}"),
               os.path.join(data, f"p{i}.parquet"))


def _state(st):
    """What a fresh reader sees: winners, manifests and lineage rows."""
    store._MEMO.clear()
    head = store._head(st)
    lineage = sorted(
        (r["name"], r["seq"], r["pid"]) for p in head["parts"]["lineage"]
        for r in pq.read_table(f"{st}/lineage/{p}").to_pylist())
    return ({n: (w.seq, w.sha256)
             for n, w in store._winner_rows(st, payload=()).items()},
            {n: sorted(store._manifest_rows(st, n)) for n in ("cm", "g")},
            lineage)


@pytest.fixture(scope="module")
def seeded(tmp_path_factory):
    """A store holding "x" (with lineage), a global fold "cm" and a
    grouped fold "g" of one data file, a second file landed since, and
    the state before and after each op run to completion."""
    base = tmp_path_factory.mktemp("commit")
    data, st = str(base / "data"), str(base / "seed")
    _land(data, 0, 300)
    store.save_sketch(None, st, "x", _sketch(20), lineage=_lineage(2))
    OPS["fold"](st, data)
    OPS["grouped"](st, data)
    _land(data, 1, 100)
    after = {}
    for op, run in OPS.items():
        ref = str(base / f"ref-{op}")
        shutil.copytree(st, ref)
        run(ref, data)
        after[op] = _state(ref)
    return data, st, _state(st), after


@pytest.mark.parametrize("step", list(STEPS))
@pytest.mark.parametrize("op", list(OPS))
def test_killed_writer_leaves_a_committed_state(seeded, tmp_path, op,
                                                step):
    data, seed, before, after = seeded
    st = str(tmp_path / "store")
    shutil.copytree(seed, st)
    child = (
        "import os, sys\n"
        "from sketchlib import store\n"
        "from tests import test_store_commit as t\n"
        f"real = store.{STEPS[step]}\n"
        "def killed(*a, **kw):\n"
        "    real(*a, **kw)\n"
        f"    os._exit({KILLED})\n"
        f"store.{STEPS[step]} = killed\n"
        f"t.OPS[{op!r}]({st!r}, {data!r})\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run([sys.executable, "-c", child], cwd=root,
                          env={**os.environ, "PYTHONPATH": root},
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == KILLED, proc.stderr

    # readers see the commit only once its head is replaced
    assert _state(st) == (after[op] if step == "head" else before)

    # the retry (which installs a claimed commit first) converges
    OPS[op](st, data)
    store._MEMO.clear()
    if op == "save":
        assert (store.load_sketch(None, st, "x").to_bytes()
                == _sketch(40).to_bytes())
    elif op == "fold":
        full = build_aggregator_parquet(None, data, "tokens", _fac,
                                        n_slices=1)
        assert (store.load_sketch(None, st, "cm").to_bytes()
                == full.sketch.to_bytes())
        assert OPS["fold"](st, data).no_op      # nothing left, nothing twice
    elif op == "grouped":
        full = {g: sk.to_bytes() for g, (sk, _) in grouped_parquet_fleet(
            None, data, "source", "tokens", _fac, n_slices=1).items()}
        got = current_group_sketches(None, st, "g")
        assert {g: s.to_bytes() for g, s in got.items()} == full
        assert OPS["grouped"](st, data).no_op
    else:
        assert _state(st) == before
        assert all(len(ps) == 1
                   for ps in store._head(st)["parts"].values())


@pytest.mark.parametrize("names", [("x", "x"), ("x", "y")])
def test_concurrent_commits(tmp_path, names):
    """Two writers read the store at the same generation and commit at
    once: of one name, the second is refused and nothing of it is
    visible; of different names, both land."""
    st = str(tmp_path / "store")
    store.save_sketch(None, st, "x", _sketch(5))
    ready = threading.Barrier(2)
    out = {}

    def writer(i, name):
        try:
            with store._transaction(st):
                store.save_sketch(None, st, name, _sketch(10 + i))
                ready.wait()
            out[i] = "landed"
        except store.CommitConflict:
            out[i] = "refused"

    threads = [threading.Thread(target=writer, args=(i, n))
               for i, n in enumerate(names)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if names[0] == names[1]:
        assert sorted(out.values()) == ["landed", "refused"]
        (won,) = [i for i, r in out.items() if r == "landed"]
        assert store.latest_entry(None, st, "x")[0] == 1
        assert (store.load_sketch(None, st, "x").to_bytes()
                == _sketch(10 + won).to_bytes())
    else:
        assert out == {0: "landed", 1: "landed"}
        for i, n in enumerate(names):
            assert (store.load_sketch(None, st, n).to_bytes()
                    == _sketch(10 + i).to_bytes())
    assert store._head(st)["generation"] == 2 + (names[0] != names[1])
