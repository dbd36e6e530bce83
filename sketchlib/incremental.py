"""Incremental maintenance of published sketches over append-only tables.

At 10^12 sequences a full sketch build is hours of cluster time, but the
table GROWS — an Iceberg append commit adds new data files and never
rewrites existing ones. Mergeability makes maintenance exact, not
approximate: sketch(old ∪ delta) == merge(sketch(old), sketch(delta))
byte-for-byte (the same associativity the reference relies on to merge
partition sketches, cm.h:342-349 mergeCMs). So the steady-state cost of
keeping a published sketch current is proportional to the APPENDED data
only: a daily 0.1% append costs 0.1% of a rebuild, forever.

``incremental_build`` is the load-merge-save loop around that identity:

1. list the table's current data files (path + size = file identity);
2. diff against the files the name's lineage has ingested (``_plan``);
3. parquet-direct build over ONLY the new files
   (spark_build.build_aggregator_parquet(files=...));
4. merge into the loaded previous sketch and commit the next seq, its
   lineage and the new files' manifest rows — ``(name, seq, file,
   file_size)`` in the store's ``ingested/``, paths RELATIVE to the
   table root so the table can move wholesale — as ONE store commit: a
   fold that dies anywhere leaves the previous state, and its retry
   folds the same delta exactly once.

One lineage record serves every fold shape (global, grouped, table):
each commit's MARKER row ``(name, seq, "", base)`` names the committed
epoch and the base epoch where its lineage began (the last full
(re)build). ``_lineage`` is its one reader — the epoch, the base, and
the files ingested in between — and every fold, staleness check,
epoch pin and snapshot diff reads through it.

Append-only is a checked assumption, not a hope: an ingested file whose
size changed or that disappeared means the table was compacted/rewritten
in place — the delta can no longer be identified by listing, so the call
refuses and the caller rebuilds under a new name (or the same name: a
``rebuild=True`` build rescans everything and starts a new lineage, its
marker's base, at the next seq). Iceberg snapshot metadata would make
this diff exact per commit; the file-listing manifest is the
engine-portable equivalent and uses the identical contract (data files
are immutable once committed).

Driver-side cost is one file listing + one manifest read per call —
O(#files) strings, the same order as any parquet directory scan the
build itself must do. One writer per name, enforced by the store's
commit for the blob folds: a fold refused because another writer folded
the name first re-runs once from the new state — usually a no-op, since
that writer folded the same files. Table folds are not guarded (see
``incremental_build_table``).

The module's full surface, one function per maintenance/analysis shape:

- ``incremental_build``        — one global sketch (any mergeable type)
- ``incremental_build_grouped``— one sketch per key (per-source fleet);
  only groups the delta touches are read/republished, in one commit
  with the epoch's manifest rows
- ``incremental_build_table``  — the ε-beyond-executor-memory regime:
  (row, col, cnt) parquet epochs merged by counter-coordinate
  groupBy-sum, no dense blob, no driver state
- ``snapshot_diff`` / ``snapshot_diff_table`` — linear sketches
  subtract, so new − old of two publishes IS the appended delta's
  sketch, bit-exact (dense) / row-exact (table); cross-lineage seqs
  refused
- ``grouped_epoch`` / ``current_group_sketches`` — the pins external
  readers need (dead groups below the rebuild base)
"""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import dataclass, field
from typing import NamedTuple

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import store
from .spark_build import (BuildResult, _merge_fleets,
                          build_aggregator_parquet, grouped_parquet_fleet,
                          walk_parquet_files)


def _current_files(table_path: str) -> dict[str, int]:
    """{relative_path: size} for every parquet data file under the table,
    via spark_build.walk_parquet_files — the SAME lister the build
    planners use, so the manifest can never disagree with what a build
    scans (hive-partitioned layouts refused there)."""
    if not os.path.isdir(table_path):
        return {os.path.basename(table_path): os.path.getsize(table_path)}
    # every walked path starts with table_path: slicing the prefix off
    # equals os.path.relpath, which abspath-es both sides per file
    n = len(os.path.join(table_path, ""))
    return {f[n:]: os.path.getsize(f)
            for f in walk_parquet_files(table_path)}


def _lineage(store_path: str, name: str, seq: int | None = None
             ) -> tuple[int | None, int, dict[str, int]]:
    """(epoch, base, ingested) of ``name``'s maintenance lineage in ONE
    manifest read — the one reader of the commit markers ``(name, seq,
    "", base)``: the committed epoch (the highest marker, or the past
    committed epoch ``seq``), the base epoch its lineage began at (the
    last full (re)build), and {relative_path: size} of the files folded
    in [base, epoch] — rows below the base describe a pre-rebuild table
    state. (None, 0, {}) when that epoch was never committed. A base of
    -1 (global markers of stores written before the marker carried it)
    reads as 0."""
    rows = store._manifest_rows(store_path, name)
    markers = [(s, b) for s, f, b in rows
               if not f and (seq is None or s == seq)]
    if not markers:
        return None, 0, {}
    epoch, base = max(markers)
    base = max(base, 0)
    return epoch, base, {f: sz for s, f, sz in rows
                         if f and base <= s <= epoch}


class _Plan(NamedTuple):
    """A fold's delta: the lineage's committed epoch and base, the epoch
    and base the fold commits, and the files it folds."""
    epoch: int | None
    base: int
    next_epoch: int
    next_base: int
    new: dict[str, int]

    @property
    def full(self) -> bool:
        """A first build or a rebuild: nothing to merge into."""
        return self.next_base == self.next_epoch


def _diff_files(current: dict[str, int], ingested: dict[str, int],
                table_path: str, name: str) -> dict[str, int]:
    """Files in ``current`` not yet ingested; refuses in-place rewrites
    (the append-only contract of every fold shape)."""
    mutated = {f for f, sz in ingested.items() if current.get(f, sz) != sz}
    removed = ingested.keys() - current.keys()
    if mutated or removed:
        raise ValueError(
            f"table {table_path} is not append-only vs sketch {name!r}: "
            f"{len(mutated)} file(s) changed size, {len(removed)} removed "
            "— the delta cannot be identified by listing; re-run with "
            f"rebuild=True (e.g. {sorted(mutated | removed)[:3]})")
    return {f: sz for f, sz in current.items() if f not in ingested}


def _plan(table_path: str, store_path: str, name: str,
          rebuild: bool) -> _Plan:
    """The delta of ``name``'s next fold over ``table_path`` — every
    file when the lineage is new or ``rebuild`` (a new lineage begins at
    the next epoch), else the files the lineage has not ingested. Every
    fold shape and every staleness check plans through here."""
    epoch, base, ingested = _lineage(store_path, name)
    current = _current_files(table_path)
    nxt = 0 if epoch is None else epoch + 1
    if epoch is None or rebuild:
        return _Plan(epoch, base, nxt, nxt, current)
    return _Plan(epoch, base, nxt, base,
                 _diff_files(current, ingested, table_path, name))


def _abs_files(table_path: str, new: dict[str, int]) -> list[str]:
    if os.path.isdir(table_path):
        return [os.path.join(table_path, f) for f in sorted(new)]
    return [table_path] if new else []


def _append_manifest(store_path: str, name: str, seq: int,
                     files: dict[str, int], base: int = 0) -> None:
    # The commit-marker row (file="") records epoch ``seq`` and its
    # lineage's base even for an EMPTY delta.
    rows = [(name, seq, "", base)]
    rows += [(name, seq, f, sz) for f, sz in sorted(files.items())]
    with store._transaction(store_path, join=True):
        store._stage(store_path, "ingested", rows)


def _in_one_commit(fold):
    """Run ``fold`` in one store transaction — its sketch, lineage and
    manifest rows commit together, ``wall_s`` covers the commit — and
    once more from the new state when another writer committed one of
    its names first (store.CommitConflict)."""
    @functools.wraps(fold)
    def run(*args, store_path: str, **kw):
        t0 = time.perf_counter()
        try:
            with store._transaction(store_path):
                res = fold(*args, store_path=store_path, **kw)
        except store.CommitConflict:
            with store._transaction(store_path):
                res = fold(*args, store_path=store_path, **kw)
        res.wall_s = time.perf_counter() - t0
        return res
    return run


@dataclass
class IncrementalResult:
    sketch: object
    seq: int                 # seq the result is published under
    prev_seq: int | None     # seq merged from (None on first build)
    new_files: int           # files folded by THIS call
    new_rows: int            # rows scanned by THIS call
    wall_s: float = 0.0      # with the commit (set by _in_one_commit)
    lineage: pd.DataFrame = field(repr=False, default=None)
    meta: dict = field(repr=False, default=None)   # published row's meta

    @property
    def no_op(self) -> bool:
        return self.prev_seq == self.seq


@_in_one_commit
def incremental_build(spark: SparkSession, table_path: str, values_col: str,
                      factory, *, store_path: str, name: str,
                      extract_array=None, fanout: int | None = None,
                      n_slices: int | None = None,
                      rebuild: bool = False,
                      meta: dict | None = None,
                      builder=None) -> IncrementalResult:
    """Bring the published sketch ``name`` up to date with ``table_path``,
    scanning only files appended since the last call. Returns the current
    sketch either way; publishes a new seq only when there was new data.

    For merge-order-invariant sketches (CM, Count-Sketch, HLL, Bloom,
    theta — and MultiSketches of them) the result is byte-identical to a
    from-scratch build over the whole table (merge associativity —
    tested), so callers never trade accuracy for the 1000x scan saving.
    KLL/t-digest/Misra-Gries fold correctly too (their guarantees
    survive any merge tree) but their bytes depend on merge-tree shape,
    so expect bound-level equivalence with a rebuild, not bit equality.

    ``factory`` must construct the same sketch configuration every call —
    merging mismatched configs raises, it never silently degrades.
    ``rebuild=True`` ignores the ingested files, rescans everything, and
    starts a new lineage at the new seq (the recovery path after a table
    rewrite).

    ``builder`` generalizes the delta scan to ANY build path: a callable
    ``(spark, file_list) -> BuildResult`` run over only the appended
    files — e.g. a pairs build for weighted-item aggregators
    (``lambda sp, fs: build_aggregator_pairs(sp.read.parquet(*fs),
    key, weight, factory)``). It must be deterministic in the file list
    and use the same factory configuration every call; when set,
    values_col/extract_array/fanout/n_slices are ignored. An empty file
    list is handled here (fresh empty sketch), so builders never see
    zero files.
    """
    plan = _plan(table_path, store_path, name, rebuild)
    prev = store.latest_sketch(spark, store_path, name)
    if not plan.full and not plan.new:
        return IncrementalResult(
            sketch=prev[2], seq=prev[0], prev_seq=prev[0], new_files=0,
            new_rows=0, lineage=pd.DataFrame(), meta=prev[1])

    abs_files = _abs_files(table_path, plan.new)
    if builder is not None:
        if abs_files:
            res = builder(spark, abs_files)
        else:
            res = BuildResult.empty(factory())
    else:
        res = build_aggregator_parquet(
            spark, table_path, values_col, factory, fanout=fanout,
            n_slices=n_slices, extract_array=extract_array,
            files=abs_files)
    sketch = res.sketch
    if not plan.full:
        sketch = prev[2]
        sketch.merge(res.sketch)
    # n_rows on the published row is CUMULATIVE (the rows the sketch
    # covers — what audits compare against total_count); the delta's own
    # count lives in meta.delta_rows
    prev_rows = 0 if plan.full else int(prev[1].get("table_rows", 0))
    table_rows = prev_rows + int(res.n_rows)
    # the meta exactly as a later read of the published row returns it
    meta = json.loads(json.dumps(
        {**(meta or {}), "incremental_from": plan.epoch,
         "delta_files": len(plan.new), "delta_rows": res.n_rows,
         "table_rows": table_rows, "rebuild": bool(rebuild)},
        sort_keys=True))
    seq = store.save_sketch(
        spark, store_path, name, sketch, lineage=res.lineage,
        n_rows=table_rows, seq=plan.next_epoch, meta=meta)
    _append_manifest(store_path, name, seq, plan.new, plan.next_base)
    return IncrementalResult(
        sketch=sketch, seq=seq, prev_seq=plan.epoch,
        new_files=len(plan.new), new_rows=res.n_rows, lineage=res.lineage,
        meta=meta)


@dataclass
class GroupedIncrementalResult:
    sketches: dict            # group -> sketch, UPDATED groups only
    seq: int                  # committed epoch of the result
    prev_seq: int | None
    new_files: int
    new_rows: int
    updated_groups: int       # groups republished by THIS call
    wall_s: float = 0.0       # with the commit (set by _in_one_commit)

    @property
    def no_op(self) -> bool:
        return self.prev_seq == self.seq


@_in_one_commit
def incremental_build_grouped(spark: SparkSession, table_path: str,
                              key_col: str, values_col: str, factory, *,
                              store_path: str, name: str,
                              rebuild: bool = False, fanout: int = 8,
                              n_slices: int | None = None,
                              meta: dict | None = None,
                              builder=None
                              ) -> GroupedIncrementalResult:
    """Grouped counterpart of incremental_build: keep ONE sketch per
    ``key_col`` value (e.g. per-source corpus profiles) current over an
    append-only table, scanning only appended files. Groups are stored
    as ``{name}/{group}`` rows; ONLY groups present in the delta are
    republished — a daily append touching 3 of 10k sources rewrites 3
    KB-scale rows. Per-group results are byte-identical to from-scratch
    grouped builds (merge associativity, as in the global path; tested).
    The group rows and the epoch's manifest rows are ONE commit, as on
    the global path. NULL group keys are refused — str() coercion would
    silently merge NULL with the literal string "None".

    Driver fan-in per call: (groups in the delta) x blob size — only the
    delta's groups are loaded from the store and only they are returned
    in ``sketches``; groups the delta doesn't touch are never read (use
    current_group_sketches for the committed full set). At 10^12 scale
    the delta touches few groups, which is the point.

    ``builder`` generalizes the delta scan like the global path's hook:
    a callable ``(spark, file_list) -> {key: (sketch, n_rows)}``, the
    fleet ``grouped_parquet_fleet`` returns — e.g. ``collect_fleet`` of
    ``build_grouped_aggregator_pairs`` for per-group weighted samples.
    When set, values_col/fanout/n_slices are ignored; it must be
    deterministic in the file list and use the same factory config
    every call."""
    if "/" in name:
        raise ValueError(f"grouped sketch name may not contain '/': {name!r}")
    plan = _plan(table_path, store_path, name, rebuild)
    if not plan.full and not plan.new:
        return GroupedIncrementalResult(
            sketches={}, seq=plan.epoch, prev_seq=plan.epoch, new_files=0,
            new_rows=0, updated_groups=0)

    from . import serde
    delta = {}
    if plan.new:
        files = _abs_files(table_path, plan.new)
        delta = (builder(spark, files) if builder is not None
                 else grouped_parquet_fleet(
                     spark, table_path, key_col, values_col, factory,
                     fanout=fanout, n_slices=n_slices, files=files))
    if None in delta:
        raise ValueError(
            f"{key_col} contains NULL keys: a null group is refused "
            "(str() coercion would silently merge it with the string "
            "'None') — filter or fillna the key column first")
    delta = {str(k): v for k, v in delta.items()}
    # the touched groups' committed rows — blob and CUMULATIVE n_rows —
    # in one store read, then the delta folded into them
    fleet = {}
    if not plan.full and delta:
        prior = store._winner_rows(
            store_path, names=[f"{name}/{g}" for g in delta],
            min_seq=plan.base, max_seq=plan.epoch,
            payload=("blob", "n_rows"))
        fleet = {n[len(name) + 1:]: (serde.loads(w.blob), w.n_rows)
                 for n, w in prior.items()}
    fleet = _merge_fleets(fleet, delta)
    entries = [(f"{name}/{g}", plan.next_epoch, *fleet[g]) for g in delta]
    store.save_sketches_bulk(
        spark, store_path, entries,
        meta={**(meta or {}), "incremental_from": plan.epoch,
              "delta_files": len(plan.new), "rebuild": bool(rebuild)})
    _append_manifest(store_path, name, plan.next_epoch, plan.new,
                     plan.next_base)
    return GroupedIncrementalResult(
        sketches={g: fleet[g][0] for g in delta},
        seq=plan.next_epoch, prev_seq=plan.epoch, new_files=len(plan.new),
        new_rows=sum(n for _, n in delta.values()),
        updated_groups=len(entries))


def grouped_epoch(spark: SparkSession, store_path: str,
                  name: str) -> tuple[int | None, int]:
    """(committed epoch, base epoch) of a maintenance lineage of any fold
    shape — the pins a correct external read needs: dead pre-rebuild
    rows sit BELOW the base. (None, 0) when nothing is committed yet."""
    return _lineage(store_path, name)[:2]


def grouped_epoch_at(spark: SparkSession, store_path: str, name: str,
                     seq: int) -> tuple[int, int]:
    """(epoch, base) pins of a PAST committed epoch ``seq`` of a grouped
    lineage (e.g. for drift between two epochs): a group's winner may sit
    at any seq in [base, seq], the base read from ``seq``'s own commit
    marker, so rows of a lineage dead at ``seq`` are excluded. KeyError
    when ``seq`` was never committed."""
    epoch, base, _ = _lineage(store_path, name, int(seq))
    if epoch is None:
        raise KeyError(
            f"{name!r} has no committed epoch {seq} (see grouped_epoch "
            "for the current committed state)")
    return epoch, base


def current_group_sketches(spark: SparkSession, store_path: str,
                           name: str) -> dict[str, object]:
    """The COMMITTED full group set of a grouped maintenance lineage:
    store.load_group_sketches pinned to the committed epoch and the
    rebuild base (excludes groups dropped by the last rebuild). This is
    the read external consumers want — an unpinned load_group_sketches
    sees dead groups."""
    epoch, base = grouped_epoch(spark, store_path, name)
    if epoch is None:
        return {}
    return store.load_group_sketches(spark, store_path, name,
                                     max_seq=epoch, min_seq=base)


@dataclass
class TableIncrementalResult:
    table: object             # DataFrame over the committed counter table
    path: str                 # parquet location of that table
    seq: int
    prev_seq: int | None
    new_files: int
    wall_s: float

    @property
    def no_op(self) -> bool:
        return self.prev_seq == self.seq


def incremental_build_table(spark: SparkSession, table_path: str,
                            values_col: str, cfg, *, store_path: str,
                            name: str, rebuild: bool = False,
                            flush_triples: int = 1 << 22
                            ) -> TableIncrementalResult:
    """Incremental maintenance for the sketch-AS-table path
    (spark_build.build_sketch_table) — the regime where d×w×8 bytes
    exceeds executor memory (ε below ~1e-8) and no dense blob ever
    exists. The published artifact is a distributed (row, col, cnt)
    parquet table per epoch; a fold builds triples over ONLY the
    appended files and merges them into the previous epoch's table by
    counter-coordinate groupBy-sum — additions commute, so the merged
    counters are IDENTICAL to a from-scratch table build (tested via the
    sketch_from_table byte-identity bridge at feasible ε). Nothing
    touches the driver: the fold is one triples scan of the delta plus
    one nnz-bounded shuffle, vs a full 10^12-row rescan for a rebuild.

    Store layout: ``<store>/tables/<name>/seq=<k>/``, written before the
    manifest commit of epoch k; a fold that dies first leaves a
    directory no commit marker names, which reads ignore and the retry
    overwrites. Do not reuse a blob-sketch name for a table sketch —
    they share the manifest namespace.

    The single-writer rule is NOT enforced for table folds: the
    ``seq=<k>/`` write happens outside the store commit, whose
    transaction starts only at the manifest append, after the plan. Two
    racing table folds of one name can therefore both commit a marker
    for one epoch, and the later Spark write can overwrite the directory
    the earlier fold committed. Run one table fold per name at a time."""
    t0 = time.perf_counter()
    from .spark_build import _TRIPLE_SCHEMA, build_sketch_table
    plan = _plan(table_path, store_path, name, rebuild)
    root = f"{store_path}/tables/{name}"
    if not plan.full and not plan.new:
        path = f"{root}/seq={plan.epoch}"
        return TableIncrementalResult(
            table=spark.read.parquet(path), path=path, seq=plan.epoch,
            prev_seq=plan.epoch, new_files=0,
            wall_s=time.perf_counter() - t0)

    abs_files = _abs_files(table_path, plan.new)
    if abs_files:
        delta = build_sketch_table(spark.read.parquet(*abs_files),
                                   values_col, cfg,
                                   flush_triples=flush_triples)
    else:
        delta = spark.createDataFrame([], _TRIPLE_SCHEMA)
    if not plan.full:
        prev_tab = spark.read.parquet(f"{root}/seq={plan.epoch}")
        delta = (prev_tab.unionByName(delta).groupBy("row", "col")
                 .agg(F.sum("cnt").alias("cnt")))
    out = f"{root}/seq={plan.next_epoch}"
    delta.write.mode("overwrite").parquet(out)
    _append_manifest(store_path, name, plan.next_epoch, plan.new,
                     plan.next_base)
    return TableIncrementalResult(
        table=spark.read.parquet(out), path=out, seq=plan.next_epoch,
        prev_seq=plan.epoch, new_files=len(plan.new),
        wall_s=time.perf_counter() - t0)


def prune_table_epochs(spark: SparkSession, store_path: str, name: str,
                       *, keep: int = 2) -> list[int]:
    """Delete table-regime epoch directories older than the newest
    ``keep`` (committed epoch inclusive). Unlike the KB-scale blob store
    — where history is cheap and snapshot diffs want it — each table
    epoch is a FULL nnz-sized counter table, so daily folds would grow
    storage by one table per day forever. Epochs above the committed one
    (left by a fold that died before its commit) are left alone: the
    retry overwrites them.
    ``snapshot_diff_table`` against a pruned epoch fails with a clear
    error rather than a raw missing-path. Returns the pruned seqs."""
    import shutil as _shutil
    if keep < 1:
        raise ValueError("keep must be >= 1 (the committed epoch itself)")
    epoch = _lineage(store_path, name)[0]
    if epoch is None:
        return []
    root = os.path.join(store_path, "tables", name)
    if not os.path.isdir(root):
        return []
    pruned = []
    for d in os.listdir(root):
        if not d.startswith("seq="):
            continue
        try:
            s = int(d.split("=", 1)[1])
        except ValueError:
            continue    # stray non-numeric dir (e.g. a leftover seq=tmp)
        if s <= epoch - keep:
            _shutil.rmtree(os.path.join(root, d), ignore_errors=True)
            pruned.append(s)
    return sorted(pruned)


def _read_epoch_table(spark: SparkSession, store_path: str, name: str,
                      seq: int):
    df = store.read_table(spark,
                          f"{store_path}/tables/{name}/seq={seq}")
    if df is None:
        raise KeyError(
            f"table epoch {seq} of {name!r} is gone — pruned by "
            "prune_table_epochs (diffs need both epochs retained)")
    return df


def snapshot_diff_table(spark: SparkSession, store_path: str, name: str,
                        seq_old: int, seq_new: int | None = None):
    """Table-regime counterpart of snapshot_diff: the counter-wise
    difference of two published (row, col, cnt) epochs IS the counter
    table of the data appended between them (same linearity as the dense
    subtract — the groupBy-sum merge is coordinate-wise addition). A
    full-outer join on (row, col) with coalesced-zero subtraction; rows
    that cancel to zero are dropped, matching what a direct delta build
    never emits. Distributed end to end — no driver state, any ε.

    ``seq_new`` defaults to the committed epoch. Epochs outside the
    current lineage are refused by the manifest pins (seq_old below the
    last rebuild's base describes a table state that no longer exists —
    its counters may subtract without going negative yet mean nothing;
    seq_new above the committed epoch would read an uncommitted
    directory). Within the lineage, non-prefix operands (any counter
    going negative) are refused, as in CountMinSketch.subtract. The
    joined diff is cached around the negativity check so the caller's
    first action doesn't recompute the shuffle; unpersist the returned
    frame when done with it."""
    epoch, base, _ = _lineage(store_path, name)
    if epoch is None:
        raise KeyError(f"no table sketch named {name!r} in {store_path}")
    if seq_new is None:
        seq_new = epoch
    if not base <= seq_old <= seq_new <= epoch:
        raise ValueError(
            f"epochs ({seq_old}, {seq_new}) outside the current lineage "
            f"of {name!r} (base {base}, committed {epoch}): below-base "
            "epochs predate the last rebuild, above-committed epochs were "
            "never committed")
    new = _read_epoch_table(spark, store_path, name, seq_new)
    old = _read_epoch_table(spark, store_path, name, seq_old)
    diff = (new.withColumnRenamed("cnt", "cnt_new")
            .join(old.withColumnRenamed("cnt", "cnt_old"),
                  ["row", "col"], "full_outer")
            .select("row", "col",
                    (F.coalesce("cnt_new", F.lit(0))
                     - F.coalesce("cnt_old", F.lit(0))).alias("cnt"))
            .cache())
    neg = diff.filter(F.col("cnt") < 0).limit(1).count()
    if neg:
        diff.unpersist()
        raise ValueError(
            f"epoch {seq_old} is not a prefix of epoch {seq_new} for "
            f"{name!r} (a counter would go negative) — operands swapped")
    return diff.filter(F.col("cnt") > 0)


def snapshot_diff(spark: SparkSession, store_path: str, name: str,
                  seq_old: int, seq_new: int | None = None):
    """The sketch of the data appended between two published seqs of
    ``name`` — WITHOUT scanning any data. Linear sketches (Count-Min,
    Count-Sketch) are counter-wise sums of per-item contributions, so
    for snapshots of one append-only stream table_new − table_old is
    bit-for-bit the sketch of the delta (the merge identity inverted;
    tested byte-identical to a direct build over the appended files).
    Every estimate guarantee then holds on the delta itself — "which
    tokens grew the most between Monday's and Friday's publish" is a
    pure store operation costing two KB-scale reads.

    ``seq_new`` defaults to the latest publish. Non-linear sketches
    (HLL, Bloom, KLL, MG, theta, MultiSketch containing them) have no
    subtraction — refused by type, never approximated silently. Seqs
    from different lineages are refused too: after a rebuild=True, seqs
    below the rebuild describe a table state that no longer exists, and
    their subtraction can pass the negative-counter check (deletions
    masked by colliding additions) while meaning nothing — the commit
    marker of ``seq_new`` records its lineage's base (``_lineage``),
    enforced here."""
    ent_new = store.latest_sketch(spark, store_path, name, seq=seq_new)
    ent_old = store.latest_sketch(spark, store_path, name, seq=seq_old)
    if ent_new is None or ent_old is None:
        missing = seq_new if ent_new is None else seq_old
        raise KeyError(f"no sketch named {name!r}"
                       + (f" at seq {missing}" if missing is not None
                          else ""))
    new, old = ent_new[2], ent_old[2]
    if not hasattr(new, "subtract"):
        raise TypeError(
            f"{type(new).__name__} is not a linear sketch: snapshot "
            "diffs need counter-wise subtraction (CountMinSketch or "
            "CountSketch)")
    lineage_base = _lineage(store_path, name, ent_new[0])[1]
    if ent_old[0] < lineage_base:
        raise ValueError(
            f"seq {ent_old[0]} predates the lineage of seq {ent_new[0]} "
            f"(rebuilt at seq {lineage_base}): the old snapshot describes "
            "a table state that no longer exists, so their difference is "
            "meaningless even where no counter goes negative")
    return new.subtract(old)
