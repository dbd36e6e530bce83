"""Distributed sketch builds on Spark DataFrames.

This is the Spark-native restatement of the reference's buffer-then-merge
architecture (SURVEY.md §3.1): the reference absorbs updates into an in-RAM
buffer sketch and batch-merges it into the disk-resident sketch
(/root/reference/cm.h:523-530, experiments.txt:8-23). Here every *partition*
(or parquet row-group slice) plays the buffer role: mapInArrow/mapInPandas
builds one partial sketch per partition from the Arrow value buffer (zero
per-row Python) and emits one row ``(pid, sketch: binary, lineage
metrics)``. Raw tokens never shuffle; only partial blobs move.

One partial builder per source; a sketch type is a factory and a feed.
DataFrame sources run ``_agg_partial_builder`` (mapInArrow), parquet
row-group slices ``_parquet_agg_partial_builder``, grouped DataFrame
builds ``_grouped_agg_builder``; each emits the same partial record
(``_partial_row``). The factory makes an empty sketch; the feed updates
it from one Arrow batch or column. Count-Min is ``CountMinSketch(cfg)``
fed by ``update_batch`` (``update_batch_cu`` when ``cu``), as any other
sketch.

One merge planner (``_merge``) turns partials into the result, picking one
of three cases from sizes the driver already knows:

  driver fold  partial count x partial bytes <= _DRIVER_FOLD_MAX_BYTES (the
               common case): ONE Spark job collects every partial, blob and
               lineage together (``toArrow``); the driver folds the blobs
               in pid order. No persist, no shuffle.
  shuffle tree above that bound: ``pmod(pid, m)`` merge stages over the
               blob shuffle, recursive so that no task and not the driver
               folds more than ``fanout`` blobs (fanout^2 partials take one
               stage, fanout^3 two, ...); the driver folds the survivors.
  in-process   parquet builds whose value column is at most
               _IN_PROCESS_MAX_BYTES uncompressed (from the row-group
               footers the planner reads anyway): the same slice builder
               the Spark tasks run is called in the driver process; no
               Spark job at all (small incremental deltas).

CM, HLL, theta, Bloom and Count-Sketch merge by addition (or max/union), so
all three cases and every partitioning give byte-identical results.
Order-sensitive sketches (MG, KLL) are folded in a fixed pid order, so the
driver fold and the in-process path agree byte for byte and every path is
reproducible run to run on the same layout.

Checkpointed builds write partials to a parquet directory keyed by
partition id (the analogue of the reference's mmap'd SSD residency,
cm.h:141-148); ``checkpoint_dir`` builds resume by skipping partitions whose
partials already exist.
"""

from __future__ import annotations

import functools
import hashlib
import json
import math
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F

from .countmin import CMConfig, CountMinSketch
from .hashing import columns_into, tokens_to_u64
from . import serde, store

_PARTIAL_SCHEMA = (
    "pid int, sketch binary, n_rows bigint, n_items bigint, "
    "total_count bigint, build_ms double"
)
_PARTIAL_PA_SCHEMA = pa.schema([
    ("pid", pa.int32()),
    ("sketch", pa.binary()),
    ("n_rows", pa.int64()),
    ("n_items", pa.int64()),
    ("total_count", pa.int64()),
    ("build_ms", pa.float64()),
])
_LINEAGE_PA_SCHEMA = pa.schema(
    [f for f in _PARTIAL_PA_SCHEMA if f.name != "sketch"])
_TREE_SCHEMA = "pid int, sketch binary"

# Driver fold bound on partial count x partial bytes. The collect holds
# every blob twice at its peak (the JVM's Arrow batches, then the Python
# table), so 64 MB costs at most 128 MB: an eighth of Spark's default 1 GB
# driver heap. Time is not the limit: the driver folds 652 KB Count-Min
# partials (eps=1e-4) at about 1.2 GB/s, so 64 MB (~100 partials) takes
# ~50 ms, while each job the tree adds costs ~0.2 s (dropping two took
# perfbench's build p50 from 1.33 to 0.93 s; 4 vCPU).
_DRIVER_FOLD_MAX_BYTES = 64 << 20

# In-process bound on the value column's uncompressed bytes. One driver
# core folds the catalog's cm+theta+mg+bloom MultiSketch at about 25 MB/s
# of column bytes and a Count-Min at about 40 MB/s, so 4 MB takes at most
# ~160 ms: less than the ~0.4 s a one-job fold spends in Spark (perfbench
# ingest fold p50 0.45 s through the driver fold, 0.04 s in-process;
# 4 vCPU). perfbench's ingest deltas (17 KB) and registered table
# (0.59 MB) fold here; its build table (37.5 MB) stays on parallel slices.
_IN_PROCESS_MAX_BYTES = 4 << 20


@dataclass
class BuildResult:
    sketch: CountMinSketch
    lineage: pd.DataFrame          # per-partition (pid, n_rows, n_items, total_count, build_ms)
    n_rows: int
    wall_s: float

    @property
    def tokens_per_sec(self) -> float:
        return self.sketch.n_items / self.wall_s if self.wall_s else float("nan")

    @classmethod
    def empty(cls, sketch, wall_s: float = 0.0) -> "BuildResult":
        """A build over no input: zero lineage rows, with the columns and
        dtypes of every other build's lineage."""
        return cls(sketch=sketch,
                   lineage=_lineage(_LINEAGE_PA_SCHEMA.empty_table()),
                   n_rows=0, wall_s=wall_s)


def _lineage(partials: pa.Table) -> pd.DataFrame:
    """Per-partial lineage in pid order, one dtype per column whichever
    path (Spark collect, checkpoint read, in-process) produced it."""
    names = _LINEAGE_PA_SCHEMA.names
    return (partials.select(names).cast(_LINEAGE_PA_SCHEMA)
            .sort_by("pid").to_pandas())


def _flat_values(col) -> np.ndarray:
    """Arrow column -> flat numpy values: list columns are flattened via
    their offsets (null list slots contribute nothing), scalar columns pass
    through; a zero-copy view where the buffer allows one."""
    if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        col = col.flatten()
    return col.to_numpy(zero_copy_only=False)


def _flat_tokens(batch: pa.RecordBatch, col_idx: int) -> np.ndarray:
    """``_flat_values`` of one batch column: the default ``extract``."""
    return _flat_values(batch.column(col_idx))


def _assign_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Task-assignment DataFrame with EXACTLY one row per partition.

    ``createDataFrame(rows).repartition(k)`` round-robins with a RANDOM
    start offset per source partition, so k assignment rows land in only
    ~(1 - 1/e)·k of the k partitions (multinomial collisions): measured at
    local[32], 32 one-chunk build tasks ran on 20 workers, and wall clock
    was 2-3 chunk durations because straggler tasks folded 2-3 chunks
    back-to-back (BENCH/BASELINE.md Session M). ``parallelize(rows,
    len(rows))`` slices the list contiguously — one assignment per task,
    deterministic, no shuffle."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, max(1, len(rows))), schema)


def _pid() -> int:
    ctx = TaskContext.get()
    return ctx.partitionId() if ctx is not None else 0


def _partial_row(pid: int, sk, n_rows: int, t0: float) -> dict:
    """THE partial record of every ungrouped builder, as columns:
    ``build_ms`` is the fold since ``t0``; the blob is ``dumps_partial``
    (size-adaptive where the sketch has such an encoding)."""
    ms = (time.perf_counter() - t0) * 1e3
    return {"pid": [pid], "sketch": [serde.dumps_partial(sk)],
            "n_rows": [n_rows], "n_items": [sk.n_items],
            "total_count": [getattr(sk, "total_count", 0)],
            "build_ms": [ms]}


def _update(sk, vals, cu: bool) -> None:
    (sk.update_batch_cu if cu else sk.update_batch)(vals)


def _column_feed(values_col: str, extract=None, cu: bool = False):
    """Feed of one value column: ``extract(batch, col_idx)`` (default:
    flatten) into ``update_batch``, or ``update_batch_cu`` when ``cu``."""
    extract = extract or _flat_tokens

    def feed(sk, batch):
        _update(sk, extract(batch, batch.schema.get_field_index(values_col)),
                cu)
    return feed


def _agg_partial_builder(factory, feed, skip_pids=frozenset()):
    """THE mapInArrow partial builder: one ``factory()`` sketch per
    partition, ``feed(sketch, batch)`` per Arrow batch, one partial row.
    Partitions in ``skip_pids`` (checkpointed already) emit nothing. Both
    callables must be picklable."""
    def fn(batches):
        pid = _pid()
        if pid in skip_pids:
            return
        t0 = time.perf_counter()
        sk = factory()
        n_rows = 0
        for batch in batches:
            feed(sk, batch)
            n_rows += batch.num_rows
        yield pa.RecordBatch.from_pydict(_partial_row(pid, sk, n_rows, t0),
                                         schema=_PARTIAL_PA_SCHEMA)
    return fn


def _build_frame(src: DataFrame, factory, feed, fanout: int | None,
                 t0: float) -> BuildResult:
    """Partials of ``src`` through the one builder, merged by the planner."""
    partials = src.mapInArrow(_agg_partial_builder(factory, feed),
                              schema=_PARTIAL_SCHEMA)
    return _merge(partials, partials.rdd.getNumPartitions(),
                  _blob_bytes(factory), fanout, factory, t0)


def _fold(pids, blobs):
    """Merge partial blobs in ascending pid order; None when there are
    none. The fixed order keeps order-sensitive merges (MG, KLL)
    reproducible."""
    acc = None
    for i in np.argsort(np.asarray(pids), kind="stable"):
        blob = blobs[int(i)]
        sk = serde.loads(blob.as_py() if isinstance(blob, pa.Scalar)
                         else bytes(blob))
        acc = sk if acc is None else acc.merge(sk)
    return acc


def _merge_bucket(key, pdf):
    """One shuffle-tree task: fold its group's blobs, keyed by the bucket."""
    acc = _fold(pdf["pid"].to_numpy(), pdf["sketch"].to_numpy())
    return pd.DataFrame({"pid": [int(key[0])],
                         "sketch": [serde.dumps_partial(acc)]})


def _shuffle_tree(partials: DataFrame, fanout: int | None,
                  n_partials: int) -> DataFrame:
    """Merge stages over the blob shuffle, leaving at most ``fanout`` rows
    for the driver. The last stage groups by ``pmod(pid, fanout)``; each
    stage before it has ``fanout`` times the buckets of the next, and
    stages are added until no task folds more than ``fanout`` blobs: up
    to fanout^2 partials take one stage, up to fanout^3 two. Bucket ids
    become the next stage's pids. The default fanout, ceil(sqrt(n)),
    gives one stage."""
    if fanout is None:
        fanout = math.isqrt(max(0, n_partials - 1)) + 1
    mods = [fanout]
    while fanout > 1 and n_partials > mods[-1] * fanout:
        mods.append(mods[-1] * fanout)
    level = partials.select("pid", "sketch")
    for m in reversed(mods):
        level = (level
                 .groupBy(F.pmod(F.col("pid"), F.lit(m)).alias("bucket"))
                 .applyInPandas(_merge_bucket, schema=_TREE_SCHEMA))
    return level


def _merge(partials: DataFrame, n_partials: int, blob_bytes: int,
           fanout: int | None, empty, t0: float) -> BuildResult:
    """THE merge planner for Spark-built partials (module docstring):
    driver fold in one job while ``n_partials * blob_bytes`` stays under
    _DRIVER_FOLD_MAX_BYTES, the shuffle tree above it. ``empty()`` makes
    the result for zero partials."""
    if n_partials * blob_bytes <= _DRIVER_FOLD_MAX_BYTES:
        tbl = partials.toArrow()
        return _result(_fold(tbl["pid"], tbl["sketch"]), tbl, empty, t0)
    partials = partials.persist()
    try:
        lineage = partials.select(*_LINEAGE_PA_SCHEMA.names).toArrow()
        top = _shuffle_tree(partials, fanout, n_partials).toArrow()
    finally:
        partials.unpersist()
    return _result(_fold(top["pid"], top["sketch"]), lineage, empty, t0)


def _result(sketch, lineage: pa.Table, empty, t0: float) -> BuildResult:
    lin = _lineage(lineage)
    return BuildResult(sketch=empty() if sketch is None else sketch,
                       lineage=lin, n_rows=int(lin["n_rows"].sum()),
                       wall_s=time.perf_counter() - t0)


def _checkpointed(spark: SparkSession, checkpoint_dir: str, n_partials: int,
                  fresh, blob_bytes: int, fanout: int | None, empty,
                  t0: float) -> BuildResult:
    """A resumable build: partials append to ``{checkpoint_dir}/partials``
    keyed by pid; ``fresh(done)`` is the DataFrame of the partials whose
    pid is not in ``done``, built only when a pid of range(n_partials) is
    missing; then every partial there is merged. The done pids are read
    with the partial schema given: a missing directory means none is done,
    one holding only an uncommitted ``_temporary/`` reads as 0 rows, and
    any other read failure raises, rather than rebuilding every partition
    and appending it beside partials that exist."""
    path = checkpoint_dir.rstrip("/") + "/partials"
    prior = store.read_table(spark, path, schema=_PARTIAL_SCHEMA)
    done = frozenset() if prior is None else frozenset(
        r["pid"] for r in prior.select("pid").collect())
    if any(p not in done for p in range(n_partials)):
        fresh(done).write.mode("append").parquet(path)
    partials = store.read_table(spark, path, schema=_PARTIAL_SCHEMA)
    if partials is None:
        return BuildResult.empty(empty(), time.perf_counter() - t0)
    return _merge(partials, n_partials, blob_bytes, fanout, empty, t0)


def build_sketch(df: DataFrame, tokens_col: str, cfg: CMConfig, *,
                 cu: bool = False, fanout: int | None = None,
                 checkpoint_dir: str | None = None) -> BuildResult:
    """Build one Count-Min sketch over every token in ``df[tokens_col]``.

    ``cu`` selects the conservative-update variant per partition (partials
    are then merged by addition: estimates land between pure-CU and standard
    CM, still one-sided upper bounds — SURVEY.md §7 hard-part 2).

    ``checkpoint_dir`` makes the build resumable: stage-1 partials are
    appended to ``{checkpoint_dir}/partials`` keyed by partition id; a rerun
    skips partitions already present and merges old + new. CAVEAT: pids here
    are the DataFrame's partition ids, so resume is only sound if the rerun
    reproduces the same partitioning (same input files, same
    maxPartitionBytes, no repartition change). For layout-pinned resume that
    validates this instead of assuming it, use ``build_sketch_parquet``
    (slice assignment persisted in SLICES.json).
    """
    t0 = time.perf_counter()
    src = df.select(tokens_col).filter(F.col(tokens_col).isNotNull())
    factory = functools.partial(CountMinSketch, cfg)
    feed = _column_feed(tokens_col, cu=cu)
    if checkpoint_dir is None:
        return _build_frame(src, factory, feed, fanout, t0)
    return _checkpointed(
        df.sparkSession, checkpoint_dir, src.rdd.getNumPartitions(),
        lambda done: src.mapInArrow(_agg_partial_builder(factory, feed, done),
                                    schema=_PARTIAL_SCHEMA),
        _blob_bytes(factory), fanout, factory, t0)


def _counts_feed(key_col: str, count_col: str):
    def feed(cm, batch):
        cm.update_batch(batch.column(key_col).to_numpy(zero_copy_only=False),
                        counts=batch.column(count_col).to_numpy(
                            zero_copy_only=False))
    return feed


def build_sketch_from_counts(df: DataFrame, key_col: str, count_col: str,
                             cfg: CMConfig, *,
                             fanout: int | None = None) -> BuildResult:
    """Weighted build over a PRE-AGGREGATED (key, count) table — the
    reference's ``update(i, c)`` with c != 1 (cm.h:260, 482-488), batched:
    each partition folds its (key, count) rows with one weighted
    scatter-add, partials merge through the planner as usual. Counter-table- and
    total_count-identical to building from the exploded unit-update
    stream (tested) — NOT blob-byte-identical, because the serialized
    header's n_items records rows folded (len(keys)) rather than
    Σ counts — at the cost of one scan of the aggregate instead of
    Σ counts updates."""
    t0 = time.perf_counter()
    src = (df.select(key_col, count_col)
           .filter(F.col(key_col).isNotNull() & F.col(count_col).isNotNull()))
    return _build_frame(src, functools.partial(CountMinSketch, cfg),
                        _counts_feed(key_col, count_col), fanout, t0)


# ---------------------------------------------------------------------------
# parquet-direct source: pyarrow row-group reads inside the Python workers
# ---------------------------------------------------------------------------
# Spark's physical plan for mapInArrow over a parquet scan is
# Scan(columnar) -> ColumnarToRow -> MapInArrow: every array element is
# bounced through a JVM row before being re-encoded to Arrow (measured
# ~0.5 GB/s ceiling — the NumPy kernel alone sustains >5 GB/s aggregate).
# For the dominant "build a sketch over a parquet table" job we instead let
# Spark schedule *row-group assignments* and have each Python task read its
# row groups straight into Arrow with pyarrow — the same pattern as a
# columnar DataSource, with Spark still owning distribution, retries and the
# merge topology. Slices are deterministic, so checkpoint resume is keyed by
# slice id and carries (file, row-group) lineage.


def _list_row_groups(path: str, files: list[str] | None = None,
                     column: str | None = None
                     ) -> list[tuple[str, int, int, int]]:
    """[(file, row_group_idx, n_rows, column_bytes)] for a parquet file or
    directory (recursive), from the footers alone. ``column_bytes`` is the
    uncompressed size of ``column``'s chunks in that row group (every leaf
    of a nested column; 0 when ``column`` is None) — the in-process
    planner's size. Hive-partitioned layouts (key=val dirs) are REFUSED:
    their partition columns live in directory names, not the files, so a
    raw row-group scan would silently drop them — route those through
    ``build_sketch(spark.read.parquet(path), ...)`` instead.

    ``files``: explicit file list (absolute paths) to scan INSTEAD of
    walking ``path`` — the incremental-maintenance path, where only the
    files appended since the last published sketch are read."""
    import pyarrow.parquet as pq
    if files is None:
        files = walk_parquet_files(path)
    out = []
    for f in sorted(files):
        md = pq.read_metadata(f)
        leaves = [j for j in range(md.num_columns)
                  if column is not None
                  and (md.schema.column(j).path == column
                       or md.schema.column(j).path.startswith(column + "."))]
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            out.append((f, i, rg.num_rows,
                        sum(rg.column(j).total_uncompressed_size
                            for j in leaves)))
    return out


def walk_parquet_files(path: str) -> list[str]:
    """Every .parquet data file under ``path`` (recursive, sorted), or
    [path] for a single file. THE file-lister shared by the build
    planners and incremental maintenance's manifest diff — one walk
    definition so the manifest can never disagree with what a build
    scans. Hive-partitioned layouts (key=val dirs) are REFUSED: their
    partition-column values live in directory names, invisible to a raw
    row-group scan."""
    if not os.path.isdir(path):
        return [path]
    files = []
    for root, dirs, names in os.walk(path):
        dirs.sort()
        for d in dirs:
            if "=" in d:
                raise ValueError(
                    f"{path} is a hive-partitioned dataset ({d}/): "
                    "partition-column values are not inside the files; "
                    "use build_sketch(spark.read.parquet(path), ...)")
        for name in sorted(names):
            if name.endswith(".parquet"):
                files.append(os.path.join(root, name))
    return files


def _slice_assignments(rgs: list[tuple], n_slices: int):
    """Contiguous row-group ranges per slice, one row per (slice, file)."""
    n = len(rgs)
    n_slices = max(1, min(n_slices, n))
    rows = []
    for s in range(n_slices):
        lo = s * n // n_slices
        hi = (s + 1) * n // n_slices
        by_file: dict[str, list[int]] = {}
        for f, i, *_ in rgs[lo:hi]:
            by_file.setdefault(f, []).append(i)
        for f, idxs in by_file.items():
            rows.append((s, f, idxs))
    return n_slices, rows


# Worker-persistent ParquetFile handles: a task re-opening the file would
# re-parse the whole footer (~0.25 s on a 640-row-group file), and tasks
# scale with row groups, so per-task parses are O(row_groups^2) total work
# — measured as ~30% of all worker CPU before caching. Reused Python
# workers keep this module imported, so the cache amortizes to one parse
# per (worker, file). Entries are validated against os.stat (mtime_ns,
# size): a file rewritten at the same path within a long-lived session is
# reopened, not served stale. Bounded FIFO so worker fds don't accumulate.
_PQ_FILE_CACHE: dict = {}
_PQ_FILE_CACHE_MAX = 64


def _pq_file(path: str):
    import pyarrow.parquet as pq
    st = os.stat(path)
    sig = (st.st_mtime_ns, st.st_size)
    entry = _PQ_FILE_CACHE.get(path)
    if entry is not None and entry[0] == sig:
        return entry[1]
    if entry is not None:
        del _PQ_FILE_CACHE[path]
    pf = pq.ParquetFile(path)
    while len(_PQ_FILE_CACHE) >= _PQ_FILE_CACHE_MAX:
        _PQ_FILE_CACHE.pop(next(iter(_PQ_FILE_CACHE)))
    _PQ_FILE_CACHE[path] = (sig, pf)
    return pf


def _parquet_agg_partial_builder(factory, values_col: str,
                                 extract_array=None, cu: bool = False):
    """THE parquet slice builder: one ``factory()`` sketch per slice, read
    row group by row group through the worker-persistent ParquetFile
    cache. Null rows are dropped, as the DataFrame path's isNotNull filter
    drops them (a null scalar would decay its chunk to float64 NaNs), so
    the sketch bytes and ``n_rows`` equal that path's. The feed is
    ``extract_array(pa.Array) -> np.ndarray`` (default: flatten; e.g.
    ngrams.array_bigrams) into ``update_batch``, or ``update_batch_cu``
    when ``cu``."""
    extract_array = extract_array or _flat_values

    def one_slice(slice_id: int, parts: list[tuple[str, list[int]]]):
        t0 = time.perf_counter()
        sk = factory()
        n_rows = 0
        for file, rgs in parts:
            pf = _pq_file(file)
            for rg in rgs:
                # use_threads=False: every core already runs a worker; nested
                # Arrow threadpools (32 tasks x 32 threads) thrash the box
                col = pf.read_row_group(int(rg), columns=[values_col],
                                        use_threads=False).column(0)
                for chunk in col.chunks:
                    if chunk.null_count:
                        chunk = chunk.drop_null()
                    n_rows += len(chunk)   # ROWS, before list flattening
                    _update(sk, extract_array(chunk), cu)
        return pd.DataFrame(_partial_row(slice_id, sk, n_rows, t0))

    return _slice_dispatch(one_slice)


def _slice_dispatch(one_slice):
    """mapInPandas wrapper shared by every parquet-direct builder: a
    partition may carry several slices; each MUST yield its own partial
    keyed by its own slice id (checkpoint resume correctness). A slice
    whose ``one_slice`` returns None (no groups) yields nothing."""
    def fn(pdf_iter):
        by_slice: dict[int, list[tuple[str, list[int]]]] = {}
        for pdf in pdf_iter:
            for _, row in pdf.iterrows():  # tiny: one row per (slice, file)
                by_slice.setdefault(int(row["slice_id"]), []).append(
                    (row["file"], [int(r) for r in row["rgs"]]))
        for slice_id in sorted(by_slice):
            out = one_slice(slice_id, by_slice[slice_id])
            if out is not None:
                yield out
    return fn


def _rg_layout_digest(rgs: list[tuple]) -> str:
    h = hashlib.sha256()
    for f, i, n, *_ in rgs:
        h.update(f"{os.path.basename(f)}|{i}|{n}\n".encode())
    return h.hexdigest()


def _pin_checkpoint_slices(checkpoint_dir: str, rgs, n_slices: int | None,
                           default_n_slices: int) -> int:
    """Persist (or validate against) the slice assignment of a checkpointed
    build. Slice ids must mean the same row-group ranges across runs —
    resuming under a different core count (defaultParallelism feeds the
    n_slices default) or against rewritten data would otherwise reinterpret
    completed pids and silently double-count/omit row groups. First run
    records {n_slices, layout digest}; resumes reuse the recorded n_slices
    and refuse a changed layout or a conflicting explicit n_slices."""
    meta_path = os.path.join(checkpoint_dir, "SLICES.json")
    digest = _rg_layout_digest(rgs)
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta["layout"] != digest:
            raise ValueError(
                f"checkpoint {checkpoint_dir} was built against a different "
                "parquet row-group layout; completed slice ids are not "
                "transferable — use a fresh checkpoint_dir")
        if n_slices is not None and n_slices != meta["n_slices"]:
            raise ValueError(
                f"checkpoint {checkpoint_dir} pinned n_slices="
                f"{meta['n_slices']}, got explicit n_slices={n_slices}")
        return int(meta["n_slices"])
    if n_slices is None:
        n_slices = default_n_slices
    os.makedirs(checkpoint_dir, exist_ok=True)
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"n_slices": int(n_slices), "layout": digest}, f)
    os.replace(tmp, meta_path)
    return int(n_slices)


def _default_n_slices(spark: SparkSession, n_rgs: int) -> int:
    # ~4 tasks per core: the Python-worker framework costs ~0.2-0.3 s
    # per task (measured via machine-busy minus in-task CPU), so
    # row-group-sized tasks (~3M tokens) burn ~50% of worker CPU on
    # overhead; ~4x-parallelism slices amortize it while keeping
    # stragglers bounded. Explicit n_slices overrides (finer slices =
    # finer checkpoint lineage).
    par = spark.sparkContext.defaultParallelism
    return min(n_rgs, max(4 * par, 1))


def build_sketch_parquet(spark: SparkSession, path: str, tokens_col: str,
                         cfg: CMConfig, *, cu: bool = False,
                         fanout: int | None = None, n_slices: int | None = None,
                         checkpoint_dir: str | None = None) -> BuildResult:
    """Count-Min build over a parquet table using Python-side columnar reads.

    Functionally identical (byte-identical result, same ``n_rows``) to
    ``build_sketch(spark.read.parquet(path), ...)`` but ~5x faster: the token
    arrays never pass through JVM rows. Null rows are dropped as in
    ``build_sketch``; list and scalar columns are both accepted. With
    ``checkpoint_dir`` the slice assignment is pinned in
    {checkpoint_dir}/SLICES.json on the first run, so resume skips completed
    slices before any IO happens and is immune to a changed core count or
    data layout (validated, not assumed).
    """
    t0 = time.perf_counter()
    rgs = _list_row_groups(path, column=tokens_col)
    factory = functools.partial(CountMinSketch, cfg)
    builder = _parquet_agg_partial_builder(factory, tokens_col, cu=cu)
    if checkpoint_dir is None:
        return _build_slices(spark, rgs, n_slices, builder,
                             _blob_bytes(factory), fanout, factory, t0)
    if not rgs:
        return BuildResult.empty(factory(), time.perf_counter() - t0)
    # pass the raw (possibly-None) n_slices: an explicit value must match
    # the pinned one, but the parallelism-derived DEFAULT must not be
    # treated as explicit — a resume on a different core count would
    # spuriously conflict with the pinned assignment
    n_slices = _pin_checkpoint_slices(
        checkpoint_dir.rstrip("/"), rgs, n_slices,
        _default_n_slices(spark, len(rgs)))
    n_slices, rows = _slice_assignments(rgs, n_slices)
    return _checkpointed(
        spark, checkpoint_dir, n_slices,
        lambda done: _assign_slices(
            spark, [r for r in rows if r[0] not in done]).mapInPandas(
                builder, schema=_PARTIAL_SCHEMA),
        _blob_bytes(factory), fanout, factory, t0)


def _assign_slices(spark: SparkSession, rows) -> DataFrame:
    return _assign_df(spark, rows, "slice_id int, file string, rgs array<int>")


def _build_slices(spark: SparkSession, rgs, n_slices: int | None, builder,
                  blob_bytes: int, fanout: int | None, empty,
                  t0: float) -> BuildResult:
    """Partials of a parquet slice ``builder`` (a _slice_dispatch
    function), merged by the planner: in this process when the value
    column (``rgs``' fourth field) is at most _IN_PROCESS_MAX_BYTES, else
    one Spark task per slice and ``_merge``. The slices are the same
    either way, so the partials and their pid-order fold are too."""
    if not rgs:
        return BuildResult.empty(empty(), time.perf_counter() - t0)
    if n_slices is None:
        n_slices = _default_n_slices(spark, len(rgs))
    n_slices, rows = _slice_assignments(rgs, n_slices)
    if sum(r[3] for r in rgs) <= _IN_PROCESS_MAX_BYTES:
        assign = pd.DataFrame(rows, columns=["slice_id", "file", "rgs"])
        tbl = pa.Table.from_pandas(pd.concat(list(builder(iter([assign])))),
                                   schema=_PARTIAL_PA_SCHEMA,
                                   preserve_index=False)
        return _result(_fold(tbl["pid"], tbl["sketch"]), tbl, empty, t0)
    partials = _assign_slices(spark, rows).mapInPandas(
        builder, schema=_PARTIAL_SCHEMA)
    return _merge(partials, n_slices, blob_bytes, fanout, empty, t0)


_GEN_TOKBUF = None  # per-worker persistent token buffer (see fn below)


def build_sketch_generated(spark: SparkSession, rows: int, cfg: CMConfig, *,
                           seed: int = 1337, dist: str = "zipf",
                           cu: bool = False,
                           fanout: int | None = None) -> BuildResult:
    """CM build over the deterministic token table WITHOUT materializing it.

    ``spark.read.format("sketchlib_tokens")`` is the convenient route to the
    generated table, but its physical plan pays the Python-source double hop
    (generate in a Python worker -> Arrow -> JVM rows -> re-encode Arrow for
    mapInArrow): measured ~1.5 M tok/s per busy core vs 28 M tok/s for bare
    generation — ~95% of CPU in serialization. Here each task instead
    receives only a ``(chunk_idx, start_row, rows)`` assignment, regenerates
    its chunks from (seed, chunk_idx) and folds them straight into a partial
    sketch in-process; tokens never cross a process boundary and only
    KB-sized sketch blobs shuffle. Byte-identical to building from the
    DataSource DataFrame (tested) — merge order is irrelevant.

    Task granularity is one 100k-row chunk (~26 M tokens, ~1 s): chunk
    content is a single RNG stream, so a chunk is the smallest independently
    regenerable unit. This is also the zero-IO closed loop for the
    compute-scaling A/B in BASELINE.md (no storage, no page cache).
    """
    from .datagen import CHUNK_ROWS, chunk_tokens

    t0 = time.perf_counter()
    assigns = []
    start = 0
    idx = 0
    while start < rows:
        n = min(CHUNK_ROWS, rows - start)
        assigns.append((idx, start, n))
        start += n
        idx += 1

    def fn(pdf_iter):
        # one persistent token buffer per (reused) Python worker — module
        # global, NOT per task: a fresh ~200 MB allocation per chunk
        # re-faults every page on the next one (released pages re-zeroed
        # by the kernel); at 32 concurrent workers the fault path
        # contends and generation collapses ~6x (measured,
        # BENCH/BASELINE.md Session E). Workers are single-threaded, and
        # the buffer is fully overwritten by each chunk before use.
        global _GEN_TOKBUF
        if _GEN_TOKBUF is None or _GEN_TOKBUF.shape[0] < CHUNK_ROWS * 512:
            _GEN_TOKBUF = np.empty(CHUNK_ROWS * 512, dtype=np.int32)
        buf = _GEN_TOKBUF
        for pdf in pdf_iter:
            for _, row in pdf.iterrows():  # tiny: one row per chunk
                t1 = time.perf_counter()
                cm = CountMinSketch(cfg)
                _, toks, _ = chunk_tokens(int(seed), int(row["chunk"]),
                                          int(row["n"]), dist, out=buf)
                if cu:
                    cm.update_batch_cu(toks)
                else:
                    # preagg OFF: the sort-based dedup is DRAM-bound at 32
                    # concurrent zero-IO workers (266 vs 158 M tok/s
                    # measured — Session E); with IO/decode interleaved
                    # (parquet path) the heuristic default still wins
                    cm.update_batch(toks, preaggregate=False)
                yield pd.DataFrame(_partial_row(int(row["chunk"]), cm,
                                                int(row["n"]), t1))

    factory = functools.partial(CountMinSketch, cfg)
    if not assigns:
        return BuildResult.empty(factory(), time.perf_counter() - t0)
    partials = _assign_df(spark, assigns, "chunk int, start bigint, n int"
                          ).mapInPandas(fn, schema=_PARTIAL_SCHEMA)
    return _merge(partials, len(assigns), _blob_bytes(factory), fanout,
                  factory, t0)


# ---------------------------------------------------------------------------
# grouped build: one sketch per key (e.g. per source), map-side combined
# ---------------------------------------------------------------------------

_GROUPED_PARTIAL_SCHEMA = (
    "key string, pid int, sketch binary, n_rows bigint, n_items bigint, "
    "total_count bigint"
)
_GROUPED_PARTIAL_PA_SCHEMA = pa.schema([
    ("key", pa.string()),
    ("pid", pa.int32()),
    ("sketch", pa.binary()),
    ("n_rows", pa.int64()),
    ("n_items", pa.int64()),
    ("total_count", pa.int64()),
])
_GROUPED_MERGED_SCHEMA = (
    "key string, sketch binary, n_rows bigint, n_items bigint, total_count bigint"
)


def _ragged_take(flat: np.ndarray, starts: np.ndarray,
                 lens: np.ndarray) -> np.ndarray:
    """Concatenate flat[s:s+l] for each (s, l) — the cumsum index trick:
    one O(total) int64 temp, no per-row Python, no sort."""
    nz = lens > 0
    starts, lens = starts[nz], lens[nz]
    if starts.shape[0] == 0:
        return flat[:0]
    total = int(lens.sum())
    idx = np.ones(total, dtype=np.int64)
    idx[0] = starts[0]
    if starts.shape[0] > 1:
        pos = np.cumsum(lens[:-1])
        idx[pos] = starts[1:] - starts[:-1] - lens[:-1] + 1
    np.cumsum(idx, out=idx)
    return flat[idx]


def _ingest_grouped(sketches: dict, rows: dict, keys: np.ndarray,
                    values_col, make_sketch, cu: bool) -> None:
    """Fold one batch's (keys, values) into per-key sketches. ``values_col``
    is an Arrow array (list or scalar). Grouping sorts only the ROW keys
    (thousands) and gathers each key's token ranges with a ragged take —
    never a token-count-sized sort/repeat: those ~n_tokens×8-byte
    temporaries were the dominant cost per batch and fault badly on
    long-lived workers with fragmented heaps."""
    import pyarrow.compute as pc
    is_list = pa.types.is_list(values_col.type) or pa.types.is_large_list(values_col.type)
    if is_list:
        # flatten() skips NULL list slots, so a null slot must contribute
        # length 0 — value_lengths() yields null there, and a bare
        # astype(int64) of its NaN would produce INT64_MIN and wreck the
        # offsets cumsum (silent wrong grouping)
        flat = values_col.flatten().to_numpy(zero_copy_only=False)
        lens = np.asarray(pc.fill_null(values_col.value_lengths(), 0)
                          .to_numpy(zero_copy_only=False)).astype(np.int64)
    else:
        flat = values_col.to_numpy(zero_copy_only=False)
        lens = np.ones(len(keys), dtype=np.int64)
    offsets = np.zeros(len(keys) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    # a NULL group key is its own group (Spark groupBy semantics); np.unique
    # cannot order None against str, so peel those rows off first
    null_keys = np.array([k is None for k in keys.tolist()], dtype=bool)
    if null_keys.any():
        starts_n = offsets[:-1][null_keys]
        lens_n = lens[null_keys]
        sk = sketches.get(None)
        if sk is None:
            sk = sketches[None] = make_sketch()
            rows[None] = 0
        seg = _ragged_take(flat, starts_n, lens_n)
        (sk.update_batch_cu if cu else sk.update_batch)(seg)
        rows[None] += int(null_keys.sum())
        keep = ~null_keys
        keys = keys[keep]
        lens = lens[keep]
        off_starts = offsets[:-1][keep]
    else:
        off_starts = offsets[:-1]
    if keys.shape[0] == 0:
        return
    uniq, inv = np.unique(keys, return_inverse=True)
    row_counts = np.bincount(inv, minlength=len(uniq))
    # one stable argsort of the group ids replaces a per-group `inv == g`
    # mask (that scan was O(n_groups x n_rows) per batch — quadratic for
    # high-cardinality keys); bounds come from the group sizes
    order = np.argsort(inv, kind="stable")
    bounds = np.zeros(len(uniq) + 1, dtype=np.int64)
    np.cumsum(row_counts, out=bounds[1:])
    starts_all = off_starts
    for g, key in enumerate(uniq.tolist()):
        sk = sketches.get(key)
        if sk is None:
            sk = sketches[key] = make_sketch()
            rows[key] = 0
        sel = order[bounds[g]:bounds[g + 1]]
        seg = _ragged_take(flat, starts_all[sel], lens[sel])
        if cu:
            sk.update_batch_cu(seg)
        else:
            sk.update_batch(seg)
        rows[key] += int(row_counts[g])


def _grouped_rows(pid: int, sketches: dict, rows: dict) -> dict:
    """Grouped-partial columns: one row per key (a NULL key first)."""
    ordered = sorted(sketches, key=lambda k: (k is not None, k))
    return {"key": ordered, "pid": [pid] * len(ordered),
            "sketch": [serde.dumps_partial(sketches[k]) for k in ordered],
            "n_rows": [rows[k] for k in ordered],
            "n_items": [sketches[k].n_items for k in ordered],
            "total_count": [getattr(sketches[k], "total_count", 0)
                            for k in ordered]}


def _grouped_agg_builder(ingest):
    """THE grouped mapInArrow builder: per-(partition, key) sketches that
    ``ingest(sketches, rows, batch)`` (the grouped feed) folds each Arrow
    batch into; one partial row per key."""
    def fn(batches):
        pid = _pid()
        sketches: dict = {}
        rows: dict = {}
        for batch in batches:
            ingest(sketches, rows, batch)
        if sketches:
            yield pa.RecordBatch.from_pydict(
                _grouped_rows(pid, sketches, rows),
                schema=_GROUPED_PARTIAL_PA_SCHEMA)
    return fn


def _grouped_feed(values_col: str, factory, cu: bool = False):
    """Grouped feed of one value column, keyed by the batch's ``key``."""
    def ingest(sketches, rows, batch):
        _ingest_grouped(sketches, rows,
                        batch.column("key").to_numpy(zero_copy_only=False),
                        batch.column(values_col), factory, cu)
    return ingest


def _grouped_frame(df: DataFrame, key_col: str, values_col: str, factory,
                   cu: bool, fanout: int) -> DataFrame:
    """Per-key sketches of one value column through the grouped builder."""
    src = (df.select(F.col(key_col).alias("key"), F.col(values_col))
             .filter(F.col(values_col).isNotNull()))
    partials = src.mapInArrow(
        _grouped_agg_builder(_grouped_feed(values_col, factory, cu)),
        schema=_GROUPED_PARTIAL_SCHEMA)
    return _grouped_merge(partials, fanout, src.rdd.getNumPartitions())


def _merge_grouped_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """One key's partials folded in pid order (whatever order the shuffle
    delivered them in), so MG and KLL fleets are reproducible."""
    acc = _fold(pdf["pid"].to_numpy(), pdf["sketch"].to_numpy())
    return pd.DataFrame({
        "key": [pdf["key"].iloc[0]],
        "sketch": [acc.to_bytes()],
        "n_rows": [int(pdf["n_rows"].sum())],
        "n_items": [acc.n_items],
        "total_count": [getattr(acc, "total_count", 0)],
    })


# Below ~1k partials per key a two-level tree buys nothing: every stage
# boundary is a straggler barrier (one slow task stalls the stage — the
# dominant cost on a contended host), and level-1 merge tasks cost more
# scheduling/worker overhead than the blob adds they perform. The tree is
# for the 10^5-10^6-partial regime (SCALE.md); small builds merge in ONE
# grouped stage. Both fold in pid order; level 1 emits its bucket as the
# pid of its output.
_GROUPED_TREE_THRESHOLD = 1024


def _grouped_merge(partials: DataFrame, fanout: int,
                   n_partials: int | None) -> DataFrame:
    if n_partials is not None and n_partials <= _GROUPED_TREE_THRESHOLD:
        return (partials.groupBy("key")
                .applyInPandas(_merge_grouped_pdf,
                               schema=_GROUPED_MERGED_SCHEMA))
    level1 = (partials
              .groupBy("key", F.pmod(F.col("pid"), F.lit(fanout)).alias("bucket"))
              .applyInPandas(
                  lambda key, pdf: _merge_grouped_pdf(pdf).assign(
                      pid=int(key[1]))[_GROUPED_PARTIAL_PA_SCHEMA.names],
                  schema=_GROUPED_PARTIAL_SCHEMA))
    return (level1.groupBy("key")
            .applyInPandas(_merge_grouped_pdf,
                           schema=_GROUPED_MERGED_SCHEMA))


def build_grouped(df: DataFrame, key_col: str, tokens_col: str, cfg: CMConfig,
                  *, cu: bool = False, fanout: int = 8) -> DataFrame:
    """One sketch per distinct ``key_col`` value.

    Raw rows are never shuffled: stage 1 builds per-(partition, key) partials
    inside mapInArrow (map-side combine), so a skewed key distribution (the
    reference's Zipf workload, and FIXTURES.md's 70%-"web" source column)
    costs no hot shuffle partition. Stage 2 tree-merges per (key, pid%fanout),
    stage 3 per key — the classic salted two-level aggregation, with the
    sketch blob as the aggregation state.

    Returns a DataFrame ``(key, sketch, n_rows, n_items, total_count)``.
    """
    return _grouped_frame(df, key_col, tokens_col,
                          functools.partial(CountMinSketch, cfg), cu, fanout)


def collect_grouped(grouped_df: DataFrame) -> dict[str, CountMinSketch]:
    return {r["key"]: CountMinSketch.from_bytes(bytes(r["sketch"]))
            for r in grouped_df.collect()}


# ---------------------------------------------------------------------------
# batch point queries: broadcast sketch + scalar pandas UDF
# ---------------------------------------------------------------------------

# Worker-persistent deserialized sketches, keyed by CONTENT digest — never by
# id(): a broadcast blob's id() can be reused by a later broadcast after GC,
# which would silently serve the wrong sketch. The digest is computed once on
# the driver (blobs are ~KB-MB) and shipped inside the UDF closure. Bounded
# FIFO so long sessions with many sketches don't pin old tables.
_SKETCH_CACHE: dict[str, object] = {}
_SKETCH_CACHE_MAX = 16


def _cached_sketch(digest: str, blob: bytes):
    sk = _SKETCH_CACHE.get(digest)
    if sk is None:
        while len(_SKETCH_CACHE) >= _SKETCH_CACHE_MAX:
            _SKETCH_CACHE.pop(next(iter(_SKETCH_CACHE)))
        sk = _SKETCH_CACHE[digest] = serde.loads(bytes(blob))
    return sk


def _probe_udf(spark: SparkSession, sketch, method: str, rtype: str):
    """Broadcast + digest-cached deserialize + Arrow-vectorized probe — the
    ONE implementation behind point_query_col / sketch_probe_col /
    register_sql_udfs (previously three drifting copies)."""
    from pyspark.sql.functions import pandas_udf

    blob = sketch.to_bytes()
    digest = hashlib.blake2b(blob, digest_size=16).hexdigest()
    bc = spark.sparkContext.broadcast(blob)

    @pandas_udf(rtype)
    def probe(keys: pd.Series) -> pd.Series:
        if keys.isna().any():
            # fail LOUDLY: Arrow->pandas turns a null-containing int64
            # batch into float64+NaN, silently corrupting keys >= 2^53
            # (false negatives / wrong estimates). The exact integers are
            # unrecoverable here — callers must pre-filter.
            raise ValueError(
                "probe column contains NULLs; filter isNotNull() before "
                "probing (null batches degrade int64 keys to float64)")
        sk = _cached_sketch(digest, bc.value)
        out = getattr(sk, method)(keys.to_numpy())
        return pd.Series(np.asarray(out))

    return probe


def point_query_col(spark: SparkSession, sketch: CountMinSketch, key_col):
    """Column expression estimating the frequency of every key in ``key_col``
    against a broadcast ``sketch`` — vectorized, one deserialize per task."""
    return _probe_udf(spark, sketch, "point_query_batch", "long")(key_col)


def sketch_probe_col(spark: SparkSession, sketch, key_col, *,
                     method: str = "point_query_batch",
                     rtype: str = "long"):
    """Generalized broadcast probe: a column expression applying any
    sketchlib sketch's batch probe (CM ``point_query_batch``, Bloom
    ``contains_batch``, ...) to every key of ``key_col`` — Arrow-vectorized,
    digest-cached one deserialize per worker, nothing collected to the
    driver. The membership/estimate verdicts then aggregate distributively
    (sum/count on the probed column), which is the 100 TB shape: the
    driver never sees per-key rows."""
    return _probe_udf(spark, sketch, method, rtype)(key_col)


def register_sql_udfs(spark: SparkSession, sketches: dict) -> None:
    """Expose broadcast point-query UDFs to the SQL surface: after
    ``register_sql_udfs(spark, {"cm_est": sketch})``,
    ``spark.sql("SELECT token, cm_est(token) FROM t")`` probes the sketch
    with the same digest-cached, Arrow-vectorized path as point_query_col.
    Any sketchlib sketch with ``point_query_batch`` works (CM standard or
    conservative-update)."""
    for name, sketch in sketches.items():
        spark.udf.register(
            name, _probe_udf(spark, sketch, "point_query_batch", "long"))


def inner_product_rawlog(spark: SparkSession, sketch: CountMinSketch,
                         df: DataFrame, tokens_col: str) -> int:
    """Join-size estimate between a BUILT sketch and a raw, NOT-yet-sketched
    token DataFrame, in one pass over the raw log — the reference's
    sketch × raw-log innerProductQuery (cm.h:723-785: replay the update list
    against the sketch, per-row Σ, then min over rows), without the
    reference's chunked-path bugs (cm.h:653/767).

    Identity used by the test suite: Σ_t f_R(t)·S[j, h_j(t)] is exactly the
    row-j dot product of S with a sketch built from R, so this equals the
    two-sketch estimate bit-for-bit — but skips the second build's shuffle
    and memory. Per partition only a d-vector of partial sums moves.
    """
    blob = sketch.to_bytes()
    digest = hashlib.blake2b(blob, digest_size=16).hexdigest()
    bc = spark.sparkContext.broadcast(blob)
    depth = sketch.cfg.depth

    def fn(batches):
        sums = np.zeros(depth, dtype=np.int64)
        seen = False
        col_idx = None
        for batch in batches:
            if col_idx is None:
                col_idx = batch.schema.get_field_index(tokens_col)
            toks = _flat_tokens(batch, col_idx)
            if toks.shape[0]:
                cm = _cached_sketch(digest, bc.value)
                sums += cm.row_probe_sums(toks)
                seen = True
        if seen:
            yield pa.RecordBatch.from_pydict(
                {"sums": [sums.tolist()]},
                schema=pa.schema([("sums", pa.list_(pa.int64()))]))

    src = df.select(tokens_col).filter(F.col(tokens_col).isNotNull())
    rows = src.mapInArrow(fn, schema="sums array<long>").collect()
    if not rows:
        return 0
    # Python-int accumulation: per-slice partials are safely int64, but
    # their grand total passes 2^63 around 10^12-update streams
    total = [0] * depth
    for r in rows:
        for j, v in enumerate(r["sums"]):
            total[j] += int(v)
    return int(min(total))


def inner_product_rawlog_parquet(spark: SparkSession, sketch: CountMinSketch,
                                 path: str, tokens_col: str, *,
                                 n_slices: int | None = None) -> int:
    """inner_product_rawlog over a parquet token table via the same
    Python-side columnar row-group reads as build_sketch_parquet — the raw
    log never passes through JVM rows, and per slice only a d-vector of
    partial sums returns to the driver."""
    blob = sketch.to_bytes()
    digest = hashlib.blake2b(blob, digest_size=16).hexdigest()
    bc = spark.sparkContext.broadcast(blob)
    depth = sketch.cfg.depth

    rgs = _list_row_groups(path)
    if n_slices is None:
        n_slices = _default_n_slices(spark, len(rgs))
    n_slices, rows_assign = _slice_assignments(rgs, n_slices)

    def fn(pdf_iter):
        sums = np.zeros(depth, dtype=np.int64)
        seen = False
        for pdf in pdf_iter:
            for _, row in pdf.iterrows():  # tiny: one row per (slice, file)
                pf = _pq_file(row["file"])
                for rg in row["rgs"]:
                    col = pf.read_row_group(int(rg), columns=[tokens_col],
                                            use_threads=False).column(0)
                    for chunk in col.chunks:
                        toks = _flat_values(chunk)
                        if toks.shape[0]:
                            cm = _cached_sketch(digest, bc.value)
                            sums += cm.row_probe_sums(toks)
                            seen = True
        if seen:
            yield pd.DataFrame({"sums": [sums.tolist()]})

    if not rows_assign:
        return 0      # empty table: inner product with anything is 0
    assign = _assign_slices(spark, rows_assign)
    rows = assign.mapInPandas(fn, schema="sums array<long>").collect()
    if not rows:
        return 0
    # Python-int accumulation: per-slice partials are safely int64, but
    # their grand total passes 2^63 around 10^12-update streams
    total = [0] * depth
    for r in rows:
        for j, v in enumerate(r["sums"]):
            total[j] += int(v)
    return int(min(total))


# ---------------------------------------------------------------------------
# generic mergeable-aggregator builds: same topology, any sketch
# ---------------------------------------------------------------------------
# Every sketch in the library (CountMinSketch, HllSketch, BloomFilter,
# DDSketch, KllSketch, TDigest) is a mergeable aggregator: update_batch /
# merge / to_bytes with a magic-dispatched serde. That makes the build
# topology sketch-independent — one partial per partition, the merge
# planner over blobs — so every sketch, Count-Min included, runs through
# the same builders with only its factory and feed differing.


def build_aggregator(df: DataFrame, values_col: str, factory, *,
                     fanout: int | None = None,
                     extract=None) -> BuildResult:
    """Distributed build of ANY sketchlib mergeable sketch over a column.

    ``values_col`` may be a scalar column (e.g. ``n_tok`` for quantile
    sketches) or an array column (e.g. ``tokens`` for HLL/Bloom — flattened
    to its Arrow value buffer). ``factory`` is a zero-arg callable producing
    an empty sketch; it must be picklable (module-level or functools.partial).
    ``extract`` overrides the batch->values extraction (default flatten;
    e.g. ngrams.batch_bigrams feeds packed within-row token pairs).
    """
    t0 = time.perf_counter()
    src = df.select(values_col).filter(F.col(values_col).isNotNull())
    return _build_frame(src, factory, _column_feed(values_col, extract),
                        fanout, t0)


def _blob_bytes(factory) -> int:
    """Planner size of one partial: the empty sketch's nbytes(). Exact
    for fixed-size sketches (CM, HLL, Bloom, Count-Sketch); a floor for
    bounded-growth ones (theta, MG, KLL), whose partials stay KB-scale."""
    return int(factory().nbytes())


def _string_flat_lens(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Arrow string/binary column -> (flat uint8 value buffer, per-row
    lengths) with zero per-row Python: string arrays store their values
    tightly packed in offset order, so the concatenation IS the slice of
    the data buffer between the first and last offset."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        raise ValueError("key/payload column must not contain nulls")
    t = col.type
    wide = pa.types.is_large_string(t) or pa.types.is_large_binary(t)
    if not (wide or pa.types.is_string(t) or pa.types.is_binary(t)):
        raise ValueError(f"expected a string/binary column, got {t}")
    bufs = col.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int64 if wide else np.int32)[
        col.offset:col.offset + len(col) + 1].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    return data[offs[0]:offs[-1]], np.diff(offs)


def _pairs_feed(key_col: str, weight_col: str, payload_col: str | None):
    """Feed of weighted-item sketches (PrioritySample): keys and payloads
    straight from the Arrow value buffers (update_flat), weights as one
    numpy column."""
    def feed(sk, batch):
        kflat, klens = _string_flat_lens(batch.column(key_col))
        w = batch.column(weight_col).to_numpy(zero_copy_only=False)
        payload = (() if payload_col is None
                   else _string_flat_lens(batch.column(payload_col)))
        sk.update_flat(kflat, klens, w, *payload)
    return feed


def build_aggregator_pairs(df: DataFrame, key_col: str, weight_col: str,
                           factory, *, payload_col: str | None = None,
                           fanout: int | None = None) -> BuildResult:
    """Distributed build of a weighted-ITEM sketch (e.g. PrioritySample)
    over (key, weight[, payload]) columns — the two-column counterpart of
    build_aggregator, same partial schema, same merge planner, same
    lineage. Rows with NULL or non-positive weight are excluded at the
    scan (they contribute nothing to any subset sum); a NULL payload maps
    to the empty-string group — the same label rows get when no payload
    column is passed — so one unlabeled row degrades its own group label,
    not the whole build (Arrow flat buffers reject nulls)."""
    t0 = time.perf_counter()
    cols = [F.col(key_col).cast("string").alias(key_col),
            F.col(weight_col).cast("double").alias(weight_col)]
    if payload_col:
        cols.append(F.coalesce(F.col(payload_col).cast("string"),
                               F.lit("")).alias(payload_col))
    src = (df.select(*cols)
           .filter(F.col(key_col).isNotNull() & (F.col(weight_col) > 0)))
    return _build_frame(src, factory,
                        _pairs_feed(key_col, weight_col, payload_col),
                        fanout, t0)


def build_grouped_aggregator_pairs(df: DataFrame, group_col: str,
                                   key_col: str, weight_col: str, factory,
                                   *, payload_col: str | None = None,
                                   fanout: int = 8) -> DataFrame:
    """Per-group build of a weighted-ITEM sketch (PrioritySample): one
    sample per distinct ``group_col`` value — e.g. a per-language
    weighted document sample. Map-side combined like every grouped
    build here (raw rows never shuffle; per-(partition, group) partial
    blobs do), then the standard salted two-level grouped merge.
    Per-group subsetting uses Arrow ``take`` (C++-vectorized) so the
    Python loop is per GROUP per batch, never per row. Returns
    (key, sketch, n_rows, n_items, total_count)."""
    cols = [F.col(group_col).cast("string").alias("key"),
            F.col(key_col).cast("string").alias("_ik"),
            F.col(weight_col).cast("double").alias("_w")]
    if payload_col:
        # NULL payload -> "" group (see build_aggregator_pairs)
        cols.append(F.coalesce(F.col(payload_col).cast("string"),
                               F.lit("")).alias("_pl"))
    feed = _pairs_feed("_ik", "_w", "_pl" if payload_col else None)

    def ingest(sketches, rows, batch):
        gvals = batch.column(0).to_numpy(zero_copy_only=False)
        order = np.argsort(gvals, kind="stable")
        g_sorted = gvals[order]
        starts = np.flatnonzero(np.r_[True, g_sorted[1:] != g_sorted[:-1]])
        bounds = np.r_[starts, len(g_sorted)]
        for s, e in zip(bounds[:-1], bounds[1:]):
            g = g_sorted[s]
            if g not in sketches:
                sketches[g], rows[g] = factory(), 0
            feed(sketches[g], batch.take(pa.array(order[s:e])))
            rows[g] += e - s

    src = (df.select(*cols)
           .filter(F.col("key").isNotNull() & F.col("_ik").isNotNull()
                   & (F.col("_w") > 0)))
    partials = src.mapInArrow(_grouped_agg_builder(ingest),
                              schema=_GROUPED_PARTIAL_SCHEMA)
    return _grouped_merge(partials, fanout, src.rdd.getNumPartitions())


def build_aggregator_parquet(spark: SparkSession, path: str, values_col: str,
                             factory, *, fanout: int | None = None,
                             n_slices: int | None = None,
                             extract_array=None,
                             files: list[str] | None = None) -> BuildResult:
    """Parquet-direct build of ANY sketchlib mergeable sketch: workers read
    row-group slices with pyarrow (no JVM scan, no Arrow IPC double-hop)
    through the one parquet slice builder that build_sketch_parquet also
    runs. Measured at 2.08 B tokens on local[32]: Count-Sketch 67.2 M tok/s
    here vs 26.7 M via ``build_aggregator(spark.read.parquet(path), ...)``
    (2.5x — the token arrays never leave the Python worker), and within
    1.27x of a same-shape Count-Min (85.0 M tok/s).
    Byte-identical result to the DataFrame path for the same data, with
    the same ``n_rows`` (null rows dropped). Checkpoint/resume is
    build_sketch_parquet's.
    """
    t0 = time.perf_counter()
    rgs = _list_row_groups(path, files=files, column=values_col)
    return _build_slices(
        spark, rgs, n_slices,
        _parquet_agg_partial_builder(factory, values_col, extract_array),
        _blob_bytes(factory), fanout, factory, t0)


def build_grouped_aggregator(df: DataFrame, key_col: str, values_col: str,
                             factory, *, fanout: int = 8) -> DataFrame:
    """Per-key build of any sketchlib sketch (map-side combined, like
    build_grouped). Returns (key, sketch, n_rows, n_items, total_count)."""
    return _grouped_frame(df, key_col, values_col, factory, False, fanout)


def _factory(cfg_or_factory):
    """A CMConfig's Count-Min factory, or the factory itself."""
    if isinstance(cfg_or_factory, CMConfig):
        return functools.partial(CountMinSketch, cfg_or_factory)
    return cfg_or_factory


def _grouped_slices(spark: SparkSession, path: str, files, n_slices,
                    fanout: int, columns: list[str], ingest) -> DataFrame:
    """The tail of the grouped parquet builds: each slice reads
    ``columns`` of its row groups, ``ingest(sketches, rows, table, file)``
    folds each into per-key sketches, one partial row per (slice, key)
    goes to _grouped_merge. An empty table gives an empty grouped frame."""
    rgs = _list_row_groups(path, files=files)
    if not rgs:
        return spark.createDataFrame([], _GROUPED_MERGED_SCHEMA)
    if n_slices is None:
        n_slices = _default_n_slices(spark, len(rgs))
    n_slices, rows_assign = _slice_assignments(rgs, n_slices)

    def one_slice(slice_id, parts):
        sketches: dict = {}
        rows: dict = {}
        for file, rgl in parts:
            pf = _pq_file(file)
            for rg in rgl:
                ingest(sketches, rows, pf.read_row_group(
                    rg, columns=columns, use_threads=False), file)
        if sketches:
            return pd.DataFrame(_grouped_rows(slice_id, sketches, rows))

    partials = _assign_slices(spark, rows_assign).mapInPandas(
        _slice_dispatch(one_slice), schema=_GROUPED_PARTIAL_SCHEMA)
    return _grouped_merge(partials, fanout, n_slices)


def build_grouped_parquet(spark: SparkSession, path: str, key_col: str,
                          tokens_col: str, cfg_or_factory, *,
                          cu: bool = False, fanout: int = 8,
                          n_slices: int | None = None,
                          files: list[str] | None = None) -> DataFrame:
    """Per-key sketches over a parquet table via Python-side columnar reads —
    the grouped counterpart of build_sketch_parquet (same ColumnarToRow
    bypass, same per-row-group slicing). ``cfg_or_factory`` is a CMConfig or
    a zero-arg sketch factory. Returns (key, sketch, n_rows, n_items,
    total_count). ``files`` restricts the scan to an explicit file list
    (the incremental-maintenance delta, as in build_aggregator_parquet)."""
    factory = _factory(cfg_or_factory)

    def ingest(sketches, rows, tbl, file):
        _ingest_grouped(sketches, rows,
                        tbl.column(0).to_numpy(zero_copy_only=False),
                        tbl.column(1).combine_chunks(), factory, cu)

    return _grouped_slices(spark, path, files, n_slices, fanout,
                           [key_col, tokens_col], ingest)


def build_per_file_parquet(spark: SparkSession, path: str,
                           tokens_col: str, cfg_or_factory, *,
                           cu: bool = False, fanout: int = 8,
                           n_slices: int | None = None,
                           files: list[str] | None = None,
                           transform=None) -> DataFrame:
    """One sketch per parquet FILE — the data-skipping index builder.

    The group key is the file's path RELATIVE TO THE TABLE ROOT, i.e.
    exactly the key the incremental manifest uses (incremental.py
    `_current_files`), so a per-file fleet maintained through
    `incremental_build_grouped` lines up with delta files by
    construction: every appended file is a NEW group, and no existing
    group is ever republished by a delta fold. No grouping shuffle
    happens at all — the data is already partitioned by the key (a row
    group belongs to exactly one file), so each slice folds its row
    groups straight into per-file accumulators; `_grouped_merge` only
    reconciles files whose row groups landed in different slices.

    Returns the same (key, sketch, n_rows, n_items, total_count) frame
    as ``build_grouped_parquet``. ``files`` restricts the scan to an
    explicit file list (the incremental-maintenance delta).

    ``transform`` derives the indexed keys from the raw column: a
    callable ``(arrow column) -> int64 ndarray`` applied per row group
    (e.g. ``ngrams.array_ngrams`` for hashed n-gram shingles — row
    boundaries respected by the transform itself, so per-file indexing
    of DERIVED keys needs no extra machinery). Must be deterministic:
    delta folds and rebuilds must derive identical keys."""
    factory = _factory(cfg_or_factory)
    root = os.path.abspath(path) if os.path.isdir(path) \
        else os.path.dirname(os.path.abspath(path))

    def ingest(sketches, rows, tbl, file):
        key = os.path.relpath(os.path.abspath(file), root)
        if key not in sketches:
            sketches[key], rows[key] = factory(), 0
        vcol = tbl.column(0).combine_chunks()
        # a NULL row (list slot or scalar) contributes nothing, which is
        # what a whole-file fold wants
        flat = (transform(vcol) if transform is not None
                else _flat_values(vcol.drop_null()))
        _update(sketches[key], flat, cu)
        rows[key] += tbl.num_rows

    return _grouped_slices(spark, path, files, n_slices, fanout,
                           [tokens_col], ingest)


# ---------------------------------------------------------------------------
# sketch-as-table: counters as a DataFrame, for ε too small for dense blobs
# ---------------------------------------------------------------------------
# The reference handles sketches larger than RAM by block-partitioning the
# counter array across 1 MB disk chunks with per-chunk buffers
# (cm.h:440-467, 523-530). The Spark-native restatement: make the COUNTERS
# a DataFrame (row, col, cnt), hash-partitioned by the shuffle — the
# cluster's partitioning IS the block layout, and no single executor ever
# materializes d×w×8 bytes. Used when ε is so small (ε≈1e-8 → ~2 GB dense)
# that the dense-partial topology above stops fitting; for ordinary ε the
# dense path is strictly faster (no counter shuffle at all).

_TRIPLE_SCHEMA = "row int, col bigint, cnt bigint"
_TRIPLE_PA_SCHEMA = pa.schema([
    ("row", pa.int32()), ("col", pa.int64()), ("cnt", pa.int64())])


def _triple_builder(cfg: CMConfig, tokens_col: str,
                    flush_triples: int = 1 << 22):
    """Per-partition (row, col, cnt) triple emitter with a HARD accumulator
    bound: once the backlog reaches ``flush_triples`` entries (per depth
    row), the compacted triples are yielded as an Arrow batch and the
    accumulator resets — the downstream groupBy(row, col).sum folds the
    flush epochs together. Per-task memory is therefore
    O(depth * flush_triples), independent of partition size AND of ε —
    this is what makes the table build the small-ε path (a dense partial
    at ε=1e-8 is ~2 GB; triples never materialize the width)."""
    depth = cfg.depth

    def fn(batches):
        acc_cols = [[] for _ in range(depth)]
        acc_cnts = [[] for _ in range(depth)]
        acc_n = 0
        col_idx = None

        def drain():
            rows_o, cols_o, cnts_o = [], [], []
            for j in range(depth):
                if not acc_cols[j]:
                    continue
                c = np.concatenate(acc_cols[j])
                w = np.concatenate(acc_cnts[j])
                uc, inv = np.unique(c, return_inverse=True)
                agg = np.bincount(inv, weights=w).astype(np.int64)
                rows_o.append(np.full(uc.shape[0], j, dtype=np.int32))
                cols_o.append(uc)
                cnts_o.append(agg)
                acc_cols[j].clear()
                acc_cnts[j].clear()
            if not rows_o:
                return None
            return pa.RecordBatch.from_pydict({
                "row": np.concatenate(rows_o),
                "col": np.concatenate(cols_o),
                "cnt": np.concatenate(cnts_o),
            }, schema=_TRIPLE_PA_SCHEMA)

        for batch in batches:
            if col_idx is None:
                col_idx = batch.schema.get_field_index(tokens_col)
            toks = _flat_tokens(batch, col_idx)
            if not toks.shape[0]:
                continue
            uniq, cnt = np.unique(toks, return_counts=True)
            u64 = tokens_to_u64(uniq)
            for j, s in enumerate(cfg.row_seeds):
                cols = np.empty(u64.shape[0], dtype=np.int64)
                columns_into(u64, s, cfg.width, cols)
                acc_cols[j].append(cols)
                acc_cnts[j].append(cnt.astype(np.int64))
            acc_n += uniq.shape[0]
            if acc_n >= flush_triples:
                out = drain()
                acc_n = 0
                if out is not None:
                    yield out
        out = drain()
        if out is not None:
            yield out
    return fn


def build_sketch_table(df: DataFrame, tokens_col: str, cfg: CMConfig, *,
                       flush_triples: int = 1 << 22) -> DataFrame:
    """Count-Min build whose RESULT is a distributed counter table
    (row, col, cnt) instead of a dense blob — THE build path for configs
    where d×w×8 bytes exceeds executor memory (ε below ~1e-8; the dense
    partial topology caps there, SCALE.md). Stage 1 pre-aggregates
    (row, col) hits per input partition with a hard accumulator bound
    (``flush_triples`` entries per task — see _triple_builder; map-side
    combine: triples shuffle, never raw tokens and never the width); the
    groupBy-sum is Spark's hash shuffle playing the reference's
    block-partitioned layout (cm.h:440-467). The counter values are
    IDENTICAL to the dense build's table (same placement, same addition),
    verified byte-for-byte in tests via sketch_from_table."""
    src = df.select(tokens_col).filter(F.col(tokens_col).isNotNull())
    triples = src.mapInArrow(
        _triple_builder(cfg, tokens_col, flush_triples=flush_triples),
        schema=_TRIPLE_SCHEMA)
    return (triples.groupBy("row", "col")
            .agg(F.sum("cnt").alias("cnt")))


def sketch_from_table(sketch_table: DataFrame, cfg: CMConfig, *,
                      n_items: int | None = None) -> CountMinSketch:
    """Collect a build_sketch_table result into a dense CountMinSketch —
    byte-identical to a dense build over the same stream (tested). Only
    for widths where d*w*8 fits in driver memory; its purpose is (a) the
    byte-identity bridge in tests and (b) exporting a table-built sketch
    for local probing at feasible ε. ``total_count`` is recovered from
    the table itself (every update hits each depth row exactly once, so
    Σcnt over row 0 = ||f||₁); ``n_items`` equals that for unit-count
    streams (the token-table case) — pass it explicitly for weighted
    builds."""
    cm = CountMinSketch(cfg)
    pdf = sketch_table.toPandas()
    rows = pdf["row"].to_numpy(np.int64)
    cols = pdf["col"].to_numpy(np.int64)
    cnts = pdf["cnt"].to_numpy(np.int64)
    cm.table[rows, cols] = cnts          # (row, col) unique post-groupBy
    total = int(cnts[rows == 0].sum())
    cm.total_count = total
    cm.n_items = total if n_items is None else int(n_items)
    return cm


def point_query_table(sketch_table: DataFrame, keys_df: DataFrame,
                      key_col: str, cfg: CMConfig) -> DataFrame:
    """Point queries against a build_sketch_table result: each probe key
    expands to its d (row, col) addresses (vectorized hash in one
    mapInPandas), left-joins the counter table (missing counter = 0, like
    the reference's sparse backends, cm.h:550-557), and takes the min over
    rows. Returns (key, est). The join touches d rows per probe —
    broadcastable for small probe sets, shuffle-join for bulk scoring."""
    depth = cfg.depth

    def probes_fn(pdf_iter):
        for pdf in pdf_iter:
            keys = pdf[key_col].to_numpy()
            u64 = tokens_to_u64(keys)
            out_k, out_r, out_c = [], [], []
            for j, s in enumerate(cfg.row_seeds):
                cols = np.empty(u64.shape[0], dtype=np.int64)
                columns_into(u64, s, cfg.width, cols)
                out_k.append(keys)
                out_r.append(np.full(keys.shape[0], j, dtype=np.int32))
                out_c.append(cols)
            yield pd.DataFrame({key_col: np.concatenate(out_k),
                                "row": np.concatenate(out_r),
                                "col": np.concatenate(out_c)})

    probes = keys_df.select(key_col).distinct().mapInPandas(
        probes_fn, schema=f"{key_col} long, row int, col bigint")
    joined = (probes.join(sketch_table, ["row", "col"], "left")
              .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0))))
    return (joined.groupBy(key_col)
            .agg(F.min("cnt").alias("est")))


# ---------------------------------------------------------------------------
# heavy hitters: candidates per partition -> exact verify (classic CM
# companion; absent from the reference, SURVEY.md §2.2 "sorts/limits/top-k")
# ---------------------------------------------------------------------------

def heavy_hitters(df: DataFrame, tokens_col: str, phi: float) -> DataFrame:
    """Exact phi-heavy-hitters (tokens with count >= phi * total), computed
    scalably: stage 1 emits per-partition local candidates (pigeonhole: a
    global heavy hitter must be a local one with threshold phi * local_total
    in at least one partition — <= 1/phi rows per partition), stage 2 counts
    ONLY candidate tokens exactly and filters by the global threshold. The
    full token stream is never shuffled. Returns (token, cnt)."""
    if not 0 < phi <= 1:
        raise ValueError("phi in (0, 1]")

    def candidates_fn(batches):
        # fold per-batch (unique, count) runs fully vectorized: append
        # sorted runs, compact by sort + add.reduceat when the backlog
        # outgrows the compacted head (same idiom as countmin
        # _unique_counts) — no per-unique Python loop
        acc_k: list[np.ndarray] = []
        acc_c: list[np.ndarray] = []
        acc_n = 0
        total = 0

        def compact():
            nonlocal acc_k, acc_c, acc_n
            k = np.concatenate(acc_k)
            c = np.concatenate(acc_c)
            order = np.argsort(k, kind="stable")
            k = k[order]
            c = c[order]
            starts = np.flatnonzero(np.r_[True, k[1:] != k[:-1]])
            uk = k[starts]
            uc = np.add.reduceat(c, starts)
            acc_k, acc_c, acc_n = [uk], [uc], uk.shape[0]
            return uk, uc

        for batch in batches:
            toks = _flat_tokens(batch, 0)
            total += toks.shape[0]
            if not toks.shape[0]:
                continue
            uniq, cnt = np.unique(toks, return_counts=True)
            acc_k.append(uniq)
            acc_c.append(cnt.astype(np.int64))
            acc_n += uniq.shape[0]
            if len(acc_k) > 1 and acc_n >= 4 * acc_k[0].shape[0] + 65536:
                compact()
        if not total or not acc_k:
            return
        uk, uc = compact()
        cand = uk[uc >= phi * total]
        if cand.size:
            yield pa.RecordBatch.from_pydict(
                {"token": pa.array(cand.astype(np.int32), type=pa.int32())})

    src = df.select(tokens_col).filter(F.col(tokens_col).isNotNull())
    cand_df = (src.mapInArrow(candidates_fn, schema="token int").distinct())
    # global threshold from sum(size(tokens)) — scan-pruned, no explode job
    # (an exploded .count() here was a third full pass over the stream)
    total = src.agg(F.sum(F.size(tokens_col))).collect()[0][0] or 0
    exploded = src.select(F.explode(tokens_col).alias("token"))
    return (exploded.join(F.broadcast(cand_df), "token")
            .groupBy("token").agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") >= F.lit(float(phi * total)))
            .select("token", "cnt"))


def with_salt(df: DataFrame, n_salts: int,
              id_col: str = "doc_id") -> DataFrame:
    """Explicit salting (north-rule requirement) for skewed EXACT shuffle
    aggregations/joins: adds a deterministic ``_salt`` column so a hot group
    key splits into (key, _salt) subgroups — aggregate per (key, _salt)
    first, then per key. The sketch builds themselves never need this:
    per-(partition, key) partials absorb skew map-side before any shuffle.

        salted = with_salt(df, 16)
        stage1 = salted.groupBy("source", "_salt").agg(...)
        final  = stage1.groupBy("source").agg(...)
    """
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).cast("int"))
