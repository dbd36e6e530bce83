"""The benchmark's two closed-loop workloads, one client each.

Every input comes from ``sketchlib.datagen`` with a seed derived from the
workload seed, so the same seed gives the same tables, deltas and query
mix. Each workload

- ``setup(spark, rep)``: generates its data and, for ``ingest``, registers
  the table (timed as set-up; repeated into fresh directories);
- ``prepare_reference()``: builds the single-process reference the answers
  are checked against (untimed);
- ``warmup(seconds)``: untimed steps for about ``seconds`` (at least one;
  on ingest at least enough for the reads to cover the whole mix), so JVM
  and worker warm-up is not measured;
- ``step(rec)``: one closed-loop step; returns the ``Op`` records of the
  operations it ran, each checked against the reference. ``rec`` is the
  span recorder (``None`` for untimed passes).
"""

from __future__ import annotations

import math
import os
import time
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from sketchlib import catalog, datagen, spark_build
from sketchlib.countmin import CMConfig, CountMinSketch

CM_CFG = CMConfig(eps=1e-4, delta=math.exp(-3), seed=1337)
KINDS = ["cm", "theta", "mg", "bloom"]
COLUMN = "tokens"

# The ingest table is 1,000 rows (~260k tokens): an answer's time is the
# store and manifest Spark jobs around a sub-millisecond point query, so a
# larger table barely moves it, while set-up (which registers four kinds,
# three times per run) grows with it. The build table has four 12,500-row
# row groups, one slice per core at local[4]. Warm-up is per workload: a
# build is numpy work in Python workers and is warm after one pass, while
# the JVM keeps JIT-compiling the catalog's Spark jobs for the first few
# ingest steps (folds take 20-40% longer there), so ingest warms longer.
SIZES = {
    "full": {"build_rows": 50_000, "ingest_rows": 1_000,
             "setup_reps": 3, "warmup_s": {"build": 2.0, "ingest": 12.0}},
    "tiny": {"build_rows": 2_000, "ingest_rows": 500,
             "setup_reps": 1, "warmup_s": {"build": 0.0, "ingest": 0.0}},
}
# each ingest delta is 1% of the registered table, the delta bench.py's
# incremental workload appends
DELTA_PCT = 1
# answers that read the fresh entry after each fold
READS_PER_DELTA = 2

# One block of the read mix, shuffled per block. No traffic trace exists
# for the catalog, so the mix is an assumption: every verb once per block,
# with single-key frequency split evenly between hot Zipf keys and cold
# uniform keys, and stale_files as the freshness probe a client makes.
# Verb costs are close (store reads dominate each answer), so the read
# p50 moves little with the weights.
SERVE_BLOCK = ("frequency_hot", "frequency_cold", "frequencies",
               "count_distinct", "topk", "member", "stale_files")
BATCH_KEYS = 64
TOPK = 10


@dataclass
class Op:
    kind: str
    latency_s: float
    ok: bool
    items: int = 1
    traced: bool = False


def derive_seed(seed: int, *tags) -> int:
    """A 31-bit seed for one input of the workload, fixed by ``seed``."""
    words = [seed] + [int.from_bytes(str(t).encode(), "little") for t in tags]
    return int(np.random.SeedSequence(words).generate_state(1)[0] & 0x7FFFFFFF)


def table_tokens(path: str) -> np.ndarray:
    """Every token of a parquet file or directory, flattened."""
    col = pq.read_table(path, columns=[COLUMN]).column(0)
    return col.combine_chunks().flatten().to_numpy()


def exact_counts(srt: np.ndarray, keys) -> np.ndarray:
    """Occurrences of each key in the SORTED token array ``srt``."""
    keys = np.asarray(keys, dtype=srt.dtype)
    return (np.searchsorted(srt, keys, side="right")
            - np.searchsorted(srt, keys, side="left"))


def parquet_footprint(path: str) -> tuple[int, int]:
    """(parquet part files, their bytes) under ``path``."""
    n_files = n_bytes = 0
    for root, _, names in os.walk(path):
        for nm in names:
            if nm.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, nm))
    return n_files, n_bytes


def hot_keys(tokens: np.ndarray, n: int) -> np.ndarray:
    uniq, counts = np.unique(tokens, return_counts=True)
    order = np.lexsort((uniq, -counts))
    return uniq[order[:n]].astype(np.int64)


def serve_schedule(seed: int, hot: np.ndarray, present: np.ndarray,
                   blocks: int = 100) -> list[tuple[str, object]]:
    """The read mix: ``blocks`` shuffled copies of SERVE_BLOCK, each verb
    with its argument (hot Zipf keys, cold uniform keys, or keys present in
    the table)."""
    rng = np.random.default_rng(derive_seed(seed, "serve-mix"))
    out = []
    for _ in range(blocks):
        for verb in rng.permutation(SERVE_BLOCK):
            if verb == "frequency_hot":
                arg = int(rng.choice(hot))
            elif verb == "frequency_cold":
                arg = int(rng.integers(0, 2**31 - 1))
            elif verb == "frequencies":
                arg = np.concatenate([
                    rng.choice(hot, BATCH_KEYS // 2),
                    rng.integers(0, 2**31 - 1, BATCH_KEYS // 2)]).astype(np.int64)
            elif verb == "member":
                arg = int(rng.choice(present))
            else:
                arg = None
            out.append((str(verb), arg))
    return out


def _timed(rec, kind: str, fn):
    """(result, seconds, traced) of ``fn()``; a traced run traces every
    other operation of each kind."""
    with nullcontext(False) if rec is None else rec.op(kind) as traced:
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0, traced


class Build:
    """Repeated ``spark_build.build_sketch_parquet`` CM builds over one
    Zipf token table; every sketch must be byte-identical to a
    single-process ``update_batch`` reference over the same tokens."""

    name = "build"
    primary = ("build",)

    def __init__(self, size: dict, seed: int, workdir: str) -> None:
        self.rows = size["build_rows"]
        self.seed = seed
        self.workdir = workdir
        self.results = []            # BuildResult of every measured build

    def setup(self, spark, rep: int) -> None:
        self.spark = spark
        self.table = os.path.join(self.workdir, f"rep{rep}", "build.parquet")
        datagen.generate_token_table(self.table, rows=self.rows,
                                     seed=derive_seed(self.seed, "build"))

    def prepare_reference(self) -> None:
        # only the reference's bytes stay resident, so the driver's peak
        # RSS in the window is the library's, not this token array's
        tokens = table_tokens(self.table)
        ref = CountMinSketch(CM_CFG)
        ref.update_batch(tokens)
        self.ref_bytes = ref.to_bytes()
        self.n_tokens = len(tokens)

    def _build(self):
        return spark_build.build_sketch_parquet(self.spark, self.table,
                                                COLUMN, CM_CFG)

    def warmup(self, seconds: float) -> None:
        t0 = time.perf_counter()
        self._build()
        while time.perf_counter() - t0 < seconds:
            self._build()

    def step(self, rec) -> list[Op]:
        res, lat, traced = _timed(rec, "build", self._build)
        self.results.append(res)
        ok = res.sketch.to_bytes() == self.ref_bytes
        return [Op("build", lat, ok, items=self.n_tokens, traced=traced)]


class Ingest:
    """Writes alternate with reads against one table registered once with
    kinds cm, theta, mg and bloom. Each step lands one delta file of
    uniform keys, then answers under the ``auto`` policy: the first answer
    (``frequencies``) folds the delta, the next READS_PER_DELTA read the
    fresh entry, walking the read mix."""

    name = "ingest"
    primary = ("fold",)

    def __init__(self, size: dict, seed: int, workdir: str) -> None:
        self.size = size
        self.seed = seed
        self.workdir = workdir
        self.deltas = 0
        self.reads = 0
        self.part_files = []
        self.store_bytes = []

    def setup(self, spark, rep: int) -> None:
        self.spark = spark
        base = os.path.join(self.workdir, f"rep{rep}")
        self.table = os.path.join(base, self.name)
        self.store_path = os.path.join(base, "store")
        datagen.generate_token_table(
            os.path.join(self.table, "part-00000.parquet"),
            rows=self.size["ingest_rows"],
            seed=derive_seed(self.seed, self.name))
        self.catalog = catalog.SketchCatalog(spark, self.store_path)
        self.catalog.register(self.table, COLUMN, KINDS)

    def prepare_reference(self) -> None:
        self.rows = self.size["ingest_rows"]
        self.tokens = table_tokens(self.table)
        self._index()
        self.ref = CountMinSketch(CM_CFG)
        self.ref.update_batch(self.tokens)
        self.hot = hot_keys(self.tokens, 64)
        # keys of the registered table stay present whatever is appended
        present = np.unique(self.tokens).astype(np.int64)
        self.schedule = serve_schedule(self.seed, self.hot, present)

    def _index(self) -> None:
        self.sorted_tokens = np.sort(self.tokens)   # for exact counts
        self.distinct = 1 + int(np.count_nonzero(np.diff(self.sorted_tokens)))

    def _fresh(self, a) -> bool:
        return a.covered_rows == self.rows and a.stale_files == 0

    def _freq_ok(self, a, keys) -> bool:
        keys = np.atleast_1d(np.asarray(keys, dtype=np.int64))
        est = np.atleast_1d(np.asarray(a.value, dtype=np.int64))
        return (np.array_equal(est, self.ref.point_query_batch(keys))
                and bool((est >= exact_counts(self.sorted_tokens,
                                              keys)).all()))

    def _call(self, verb: str, arg):
        cat, t = self.catalog, self.table
        if verb.startswith("frequency_"):
            return cat.frequency(t, COLUMN, arg)
        if verb == "frequencies":
            return cat.frequencies(t, COLUMN, arg)
        if verb == "count_distinct":
            return cat.count_distinct(t, COLUMN)
        if verb == "topk":
            return cat.topk(t, COLUMN, TOPK)
        if verb == "member":
            return cat.member(t, COLUMN, arg)
        return cat.stale_files(t, COLUMN)

    def _check(self, verb: str, arg, a) -> bool:
        if verb == "stale_files":
            return a == 0
        if not self._fresh(a) or a.refreshed:
            return False
        if verb.startswith("frequenc"):
            return self._freq_ok(a, arg)
        if verb == "count_distinct":
            # theta k=4096: rse ~1.6%; 10% is over six sigma
            return abs(a.value - self.distinct) <= 0.1 * self.distinct
        if verb == "topk":
            bound = a.extra["bound"]
            exact = exact_counts(self.sorted_tokens,
                                 [k for k, _ in a.value])
            return len(a.value) == TOPK and all(
                c <= e <= c + bound for (_, c), e in zip(a.value, exact))
        return a.value is True          # member of a present key

    def warmup(self, seconds: float) -> None:
        # whole untimed steps (the first folds of a session are cold), at
        # least enough for the reads to walk one whole block of the mix, so
        # every verb has run; the window's reads start at the mix's head
        min_steps = -(-len(SERVE_BLOCK) // READS_PER_DELTA)
        t0 = time.perf_counter()
        for _ in range(min_steps):
            self.step(None)
        while time.perf_counter() - t0 < seconds:
            self.step(None)
        self.reads = 0
        self.part_files.clear()
        self.store_bytes.clear()

    def step(self, rec) -> list[Op]:
        self.deltas += 1
        k = self.deltas
        rows = max(1, self.size["ingest_rows"] * DELTA_PCT // 100)
        name = f"part-{k:05d}.parquet"
        staged = os.path.join(self.workdir, "staging", name)
        datagen.generate_token_table(staged, rows=rows, dist="uniform",
                                     seed=derive_seed(self.seed, "delta", k))
        delta = table_tokens(staged)
        rng = np.random.default_rng(derive_seed(self.seed, "keys", k))
        keys = np.concatenate([self.hot[:16],
                               rng.choice(delta, 16)]).astype(np.int64)
        # the fold's latency runs from the delta landing to the answer
        os.replace(staged, os.path.join(self.table, name))
        a, fold_lat, traced = _timed(rec, "fold", lambda: (
            self.catalog.frequencies(self.table, COLUMN, keys)))

        # the reference follows the table outside the timed answers
        self.ref.update_batch(delta)
        self.tokens = np.concatenate([self.tokens, delta])
        self._index()
        self.rows += rows
        ops = [Op("fold", fold_lat,
                  a.refreshed and self._fresh(a) and self._freq_ok(a, keys),
                  items=rows, traced=traced)]

        for _ in range(READS_PER_DELTA):
            verb, arg = self.schedule[self.reads % len(self.schedule)]
            self.reads += 1
            a, lat, traced = _timed(rec, verb, lambda: self._call(verb, arg))
            ops.append(Op(verb, lat, self._check(verb, arg, a),
                          traced=traced))

        n_files, n_bytes = parquet_footprint(self.store_path)
        self.part_files.append(n_files)
        self.store_bytes.append(n_bytes)
        return ops


WORKLOADS = {w.name: w for w in (Build, Ingest)}
