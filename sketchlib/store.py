"""Durable store for FINAL sketches — build once, probe in any later session.

A build over the full table is the expensive artifact (at 10^12 sequences
it is hours of cluster time); the sketch itself is KBs. The store persists
named sketches of ANY sketchlib type (magic-dispatched — serde.loads) as a
plain parquet TABLE, so it is listable/joinable from Spark, DuckDB or
pyarrow and keeps the byte-identity contract: ``load_sketch(save_sketch(s))
.to_bytes() == s.to_bytes()`` exactly.

Layout under ``<path>/``:

- ``sketches/``  parquet rows ``(name, seq, kind, blob, sha256, n_rows,
  meta_json)`` — append-only; a re-save of ``name`` appends a higher
  ``seq`` and loads resolve latest-wins (object-store friendly: no
  read-modify-write of existing files).
- ``lineage/``   parquet rows ``(name, seq, pid, n_rows, n_items,
  total_count, build_ms)`` — the per-partition build lineage of each
  saved sketch, queryable for audit ("which slice contributed what").
- ``ingested/``  parquet rows ``(name, seq, file, file_size)`` — the
  incremental-maintenance manifest (incremental.py).

One I/O layer serves every reader and writer of these tables, on the
driver and inside executor-side SQL functions alike (pyarrow, no Spark
job):

- ``_winner_rows`` — THE winner rule: per name, the row with the highest
  ``(seq, sha256)`` (sha breaks same-seq writer-race ties
  deterministically). Rows are selected by exact names, a name prefix
  (``prefix/<group>``) or everything, optionally inside a seq window or
  at one exact seq. Winning blobs are sha-verified before anyone calls
  ``serde.loads``; superseded rows are never hashed.
- ``_manifest_rows`` — the ``ingested/`` rows of one name.
- ``_append_rows`` — one parquet part per append, atomically: write a
  dot-prefixed ``.tmp``, fsync it, rename it into place, fsync the
  directory. Readers (pyarrow and Spark both skip dot-prefixed files) see
  the old part set or the new one, never a torn part; a failed append
  removes its ``.tmp``.

Reads are memoized per (table, query) on a listing fingerprint of the
table directory (path, size, mtime of every file), so any publish or
compaction invalidates them. The memo holds bytes and strings only:
every caller deserializes its own sketch, so a caller that merges into
what it loaded can never alter another caller's answer. Only "table does
not exist" reads as empty — any other read failure (permissions, corrupt
footer, transient FS error) surfaces, never mistaken for an empty store
(streaming._late_merge_store's replay guard relies on this).

Filesystems: a store path resolves through
``pyarrow.fs.FileSystem.from_uri`` (plain paths are local). Local stores
are the tested path. Remote schemes (``s3://``, ``gs://``, ``hdfs://``,
...) go through the same calls but are UNTESTED: fsync is a no-op there
and not every object store renames atomically.

Spark readers remain only where a consumer streams a fleet or returns a
DataFrame: ``list_sketches``, ``load_lineage`` and ``fleet_winners``
(``_winners`` / ``winners_streaming``).

Checkpoints (spark_build.checkpoint_dir) are the RESUME mechanism for
in-flight builds — partial blobs keyed by slice. The store is the
PUBLISH mechanism for finished ones; they intentionally do not share a
format.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import threading
import uuid
from collections import namedtuple

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import serde

_SKETCH_SCHEMA = ("name string, seq long, kind string, blob binary, "
                  "sha256 string, n_rows long, meta_json string")
_LINEAGE_SCHEMA = ("name string, seq long, pid long, n_rows long, "
                   "n_items long, total_count long, build_ms double")
_MANIFEST_SCHEMA = "name string, seq long, file string, file_size long"
_SCHEMAS = {"sketches": _SKETCH_SCHEMA, "lineage": _LINEAGE_SCHEMA,
            "ingested": _MANIFEST_SCHEMA}

_ARROW_TYPES = {"string": pa.string(), "long": pa.int64(),
                "binary": pa.binary(), "double": pa.float64()}


def _arrow_schema(ddl: str) -> pa.Schema:
    """The pyarrow schema of a store table's Spark DDL string — one
    definition per table, so pyarrow- and Spark-written parts read
    identically."""
    return pa.schema([(n, _ARROW_TYPES[t])
                      for n, t in (c.split() for c in ddl.split(","))])


def one_part_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A DataFrame over driver-side ``rows`` with exactly ONE partition.

    ``spark.createDataFrame(rows, ...)`` slices the rows across
    defaultParallelism Python partitions (mostly empty for a few rows);
    ``.coalesce(1)`` on that evaluates every slice SEQUENTIALLY inside a
    single task — one Python-worker round-trip each, measured ~7 s per
    single-row write at local[32]. Parallelizing to one slice up front
    writes the same one file ~10x faster."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema)


def read_table(spark: SparkSession, path: str) -> DataFrame | None:
    """A store table as a Spark DataFrame, or None when the table doesn't
    exist yet. ONLY "path does not exist" maps to None — any other read
    failure must surface. The single place the version-sensitive Spark
    error-message match lives."""
    from pyspark.errors import AnalysisException
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise


# -- the pyarrow I/O layer ---------------------------------------------------

def _fs(path: str) -> tuple[pafs.FileSystem, str]:
    """(filesystem, path inside it) of a store path."""
    if "://" not in path and not path.startswith("file:"):
        path = os.path.abspath(path)
    return pafs.FileSystem.from_uri(path)


def _fsync(fs: pafs.FileSystem, path: str) -> None:
    """fsync a local file or directory; a no-op on other filesystems."""
    if isinstance(fs, pafs.LocalFileSystem):
        fd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)


def _listing(fs: pafs.FileSystem, d: str) -> tuple | None:
    """(path, size, mtime) of every file under a table directory — the
    memo key; None when the table does not exist."""
    try:
        infos = fs.get_file_info(pafs.FileSelector(d, recursive=True))
    except FileNotFoundError:
        return None
    return tuple(sorted((i.path, i.size, i.mtime_ns) for i in infos
                        if i.type == pafs.FileType.File))


# (store, table, query) -> (listing, value, bytes), FIFO-evicted to a
# total size
_MEMO: dict[tuple, tuple] = {}
_MEMO_BYTES = 256 << 20
_MEMO_LOCK = threading.Lock()


def _memo_read(path: str, table: str, query: tuple, read):
    """``read(fs, parts) -> (value, nbytes)`` over the part files of the
    store table ``path/table``, memoized on the table's listing; None
    (``read`` not called) when the table does not exist. Dot- and
    underscore-prefixed files (temp files, Spark markers and checksums)
    are not parts."""
    fs, d = _fs(f"{path}/{table}")
    listing = _listing(fs, d)
    if listing is None:
        return None
    key = (path, table, query)
    with _MEMO_LOCK:
        hit = _MEMO.get(key)
    if hit is not None and hit[0] == listing:
        return hit[1]
    parts = [p for p, _, _ in listing
             if not p.rsplit("/", 1)[-1].startswith((".", "_"))]
    value, nbytes = read(fs, parts)
    with _MEMO_LOCK:
        _MEMO.pop(key, None)
        total = sum(v[2] for v in _MEMO.values())
        while _MEMO and total + nbytes > _MEMO_BYTES:
            total -= _MEMO.pop(next(iter(_MEMO)))[2]
        if nbytes <= _MEMO_BYTES:
            _MEMO[key] = (listing, value, nbytes)
    return value


class _Select(namedtuple("_Select", "names lo hi min_seq max_seq")):
    """Which rows a read wants: a name in ``names``, or a name strictly
    between ``lo`` and ``hi``; a seq within [min_seq, max_seq]. None
    leaves a bound open."""

    def row(self, name: str, seq: int) -> bool:
        return ((self.names is None or name in self.names)
                and (self.lo is None or name > self.lo)
                and (self.hi is None or name < self.hi)
                and (self.min_seq is None or seq >= self.min_seq)
                and (self.max_seq is None or seq <= self.max_seq))

    def group(self, name_stats, seq_stats) -> bool:
        """Whether a row group with these min/max statistics can hold a
        wanted row (True when statistics are missing)."""
        if name_stats is not None and name_stats.has_min_max:
            lo, hi = name_stats.min, name_stats.max
            if self.names is not None and not any(
                    lo <= n <= hi for n in self.names):
                return False
            if (self.lo is not None and hi <= self.lo) or (
                    self.hi is not None and lo >= self.hi):
                return False
        if seq_stats is not None and seq_stats.has_min_max:
            if (self.min_seq is not None and seq_stats.max < self.min_seq
                    or self.max_seq is not None
                    and seq_stats.min > self.max_seq):
                return False
        return True


def _read_part(fs: pafs.FileSystem, part: str, rg: int | None = None,
               columns: list[str] | None = None) -> pa.Table:
    """One part file (or one row group of it) as a table."""
    with fs.open_input_file(part) as f:
        pf = pq.ParquetFile(f)
        return (pf.read(columns, use_threads=False) if rg is None else
                pf.read_row_group(rg, columns=columns, use_threads=False))


def _scan(fs: pafs.FileSystem, parts: list[str], sel: _Select,
          columns: list[str]):
    """(part, row group, table of ``columns``) for every row group whose
    statistics admit ``sel`` — parquet footers prune, the caller filters
    rows with ``sel.row``."""
    for part in parts:
        with fs.open_input_file(part) as f:
            pf = pq.ParquetFile(f)
            md = pf.metadata
            col = {md.schema.column(i).name: i
                   for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                meta = md.row_group(rg)
                if sel.group(meta.column(col["name"]).statistics,
                             meta.column(col["seq"]).statistics):
                    yield part, rg, pf.read_row_group(
                        rg, columns=columns, use_threads=False)


# one winning sketches/ row; meta_json / blob are None when not read
Winner = namedtuple("Winner", "name seq sha256 meta_json blob")


def _rank(row) -> tuple:
    """THE winner rule: the highest (seq, sha256) wins."""
    return (row.seq, row.sha256)


def _verified(name: str, blob, sha256: str, seq=None) -> bytes:
    """``blob`` as bytes, refused unless it hashes to its recorded sha —
    the integrity check of every reader, driver- and executor-side."""
    blob = bytes(blob)
    digest = hashlib.sha256(blob).hexdigest()
    if digest != sha256:
        at = "" if seq is None else f" seq {seq}"
        raise IOError(f"sketch {name!r}{at} corrupt: sha "
                      f"{digest[:16]} != recorded {sha256[:16]}")
    return blob


def _winner_rows(path: str, *, names=None, prefix: str | None = None,
                 seq: int | None = None, min_seq: int | None = None,
                 max_seq: int | None = None,
                 payload=("meta_json", "blob")) -> dict[str, Winner]:
    """{name: Winner} of the store at ``path`` — one winning row per
    name among the rows with a name in ``names``, of the form
    ``prefix/<group>`` (a name range), or every row when neither is
    given; restricted to ``seq`` exactly or to ``min_seq <= seq <=
    max_seq``. Row-group statistics prune the parts. {} when the store
    does not exist.

    ``payload`` picks the columns read beyond (name, seq, sha256), and
    only for winning rows: winners are picked from a key-only scan
    first, then the payload is read from exactly the row groups that
    hold them, so a latest-version read decodes one version's blob
    however many versions accumulate, and no superseded blob is ever
    hashed or held. Winning blobs are sha-verified."""
    bounded = names is None and prefix is not None
    sel = _Select(None if names is None else frozenset(names),
                  prefix + "/" if bounded else None,
                  prefix + "0" if bounded else None,  # '0' follows '/'
                  min_seq if seq is None else seq,
                  max_seq if seq is None else seq)

    def read(fs, parts):
        best: dict[str, tuple] = {}     # name -> (Winner, part, row group)
        for part, rg, t in _scan(fs, parts, sel,
                                 ["name", "seq", "sha256"]):
            for n, s, h in zip(*(c.to_pylist() for c in t.columns)):
                row = Winner(n, s, h, None, None)
                if sel.row(n, s) and (n not in best or
                                      _rank(row) > _rank(best[n][0])):
                    best[n] = (row, part, rg)
        out = {n: w for n, (w, _, _) in best.items()}
        # payload of exactly the row groups holding winners
        where: dict[tuple, set] = {}
        for w, part, rg in best.values() if payload else ():
            where.setdefault((part, rg), set()).add(w)
        for (part, rg), ws in where.items():
            t = _read_part(fs, part, rg, ["name", "seq", "sha256", *payload])
            for r in t.to_pylist():
                w = Winner(r["name"], r["seq"], r["sha256"], None, None)
                if w in ws:
                    blob = r.get("blob")
                    out[w.name] = w._replace(
                        meta_json=r.get("meta_json"),
                        blob=None if blob is None
                        else _verified(w.name, blob, w.sha256, w.seq))
        return out, sum(128 + len(n) + len(w.meta_json or "")
                        + len(w.blob or b"") for n, w in out.items())

    query = ("winners", sel, tuple(payload))
    return dict(_memo_read(path, "sketches", query, read) or {})


def _manifest_rows(path: str, name: str) -> tuple:
    """((seq, file, file_size), ...) — every ``ingested/`` manifest row
    of ``name`` in the store at ``path``; () when there is none."""
    sel = _Select(frozenset([name]), None, None, None, None)

    def read(fs, parts):
        rows = tuple(
            (s, f, sz) for _, _, t in _scan(
                fs, parts, sel, ["name", "seq", "file", "file_size"])
            for n, s, f, sz in zip(*(c.to_pylist() for c in t.columns))
            if n == name)
        return rows, sum(64 + len(f) for _, f, _ in rows)

    return _memo_read(path, "ingested", ("manifest", name), read) or ()


def _write_part(fs: pafs.FileSystem, d: str, tbl: pa.Table,
                stem: str = "part") -> str:
    """Write ``tbl`` as one new parquet part into the table directory
    ``d`` atomically (tmp, fsync, rename, directory fsync); returns the
    part's path.

    Rows are sorted by (name, seq) and written in row groups sized by
    BYTES (~24 MB each, clamped to [16, 4096] rows): parquet keeps
    min/max stats per row group, so a targeted read (one name, or one
    group of a fleet) prunes to the row group holding that name instead
    of decompressing the whole part's blob column — measured 11.6 s →
    2.5 s on a one-file delta fold against a 256 × 1 MB-blob part. Sizing
    by bytes keeps BOTH payload regimes healthy: MB-scale blobs (file
    indexes) get ~24-row groups for fine pruning, while a 10^5-row fleet
    of KB blobs gets ~4096-row groups — a fixed 64 would mean 1500+ row
    groups per part, and the per-row-group footer metadata then slows
    EVERY store read (measured 1.5 s → 8.4 s single-group reads at
    G=100k)."""
    fs.create_dir(d, recursive=True)
    tbl = tbl.sort_by([("name", "ascending"), ("seq", "ascending")])
    rg_rows = max(16, min(4096, (24 << 20) // max(
        1, tbl.nbytes // max(1, tbl.num_rows))))
    final = f"{d}/{stem}-{uuid.uuid4().hex}-pya.snappy.parquet"
    tmp = f"{d}/.{final.rsplit('/', 1)[-1]}.tmp"
    try:
        pq.write_table(tbl, tmp, filesystem=fs, compression="snappy",
                       row_group_size=rg_rows)
        _fsync(fs, tmp)
        fs.move(tmp, final)
        _fsync(fs, d)
    except BaseException:
        with contextlib.suppress(OSError):
            fs.delete_file(tmp)
        raise
    return final


def _append_rows(path: str, table: str, rows: list[tuple]) -> str | None:
    """Append ``rows`` (tuples in column order) to the store table
    ``path/table`` — sketches, lineage or ingested — as one atomic part;
    returns its path, None when there are no rows."""
    if not rows:
        return None
    schema = _arrow_schema(_SCHEMAS[table])
    tbl = pa.table([pa.array(col, type=f.type)
                    for col, f in zip(zip(*rows), schema)], schema=schema)
    return _write_part(*_fs(f"{path}/{table}"), tbl)


# -- public loaders and writers ---------------------------------------------

def _sketch_row(name: str, seq: int, sketch, n_rows: int,
                meta: dict | None) -> tuple:
    blob = sketch.to_bytes()
    return (name, int(seq), bytes(blob[:4]).decode("ascii", "replace"),
            blob, hashlib.sha256(blob).hexdigest(), int(n_rows),
            json.dumps(meta or {}, sort_keys=True))


def _next_seq(spark: SparkSession, path: str, name: str) -> int:
    w = _winner_rows(path, names=[name], payload=()).get(name)
    return 0 if w is None else w.seq + 1


def save_sketch(spark: SparkSession, path: str, name: str, sketch, *,
                lineage=None, n_rows: int = -1, meta: dict | None = None,
                seq: int | None = None) -> int:
    """Persist ``sketch`` under ``name``; returns the assigned seq.

    Concurrency contract: ONE writer per name. ``seq`` is assigned by a
    read-then-append, so two simultaneous writers of the same name can
    both claim the same seq; loads still resolve deterministically —
    ties break on blob sha256 (content-addressed, see ``load_sketch``) —
    but one of the two writes is shadowed. Different names never
    interfere (appends are independent files).

    ``lineage`` is an optional pandas DataFrame with columns
    (pid, n_rows, n_items, total_count, build_ms) — pass
    ``BuildResult.lineage`` to keep the per-partition audit trail with
    the published sketch. The lineage part lands first and the sketch
    row is the commit: if the sketch append fails, the lineage part is
    removed again, so a failed save leaves the store as it was.

    ``seq`` pins the sequence number explicitly (callers that must know
    it before the write, e.g. incremental.py's manifest_base meta);
    default is the usual read-then-append assignment. Same single-writer
    contract either way.
    """
    if seq is None:
        seq = _next_seq(spark, path, name)
    row = _sketch_row(name, seq, sketch, n_rows, meta)
    lineage_part = None
    if lineage is not None and len(lineage):
        lineage_part = _append_rows(path, "lineage", [
            (name, seq, int(r["pid"]), int(r["n_rows"]), int(r["n_items"]),
             int(r["total_count"]), float(r["build_ms"]))
            for _, r in lineage.iterrows()])
    try:
        _append_rows(path, "sketches", [row])
    except BaseException:
        if lineage_part is not None:
            _fs(path)[0].delete_file(lineage_part)
        raise
    return seq


def latest_sketch(spark: SparkSession, path: str, name: str,
                  seq: int | None = None) -> tuple[int, dict, object] | None:
    """(seq, meta, sketch) of the latest saved version of ``name`` in ONE
    store read (or the pinned ``seq``); None when the store, the name, or
    the pinned seq doesn't exist. For callers that need both the metadata
    and the sketch itself (incremental maintenance: the meta drives the
    delta diff and lineage checks, the sketch is the merge base). The
    sketch is the caller's own object — merging into it is safe."""
    w = _winner_rows(path, names=[name], seq=seq).get(name)
    if w is None:
        return None
    return w.seq, json.loads(w.meta_json), serde.loads(w.blob)


def load_sketch(spark: SparkSession, path: str, name: str,
                seq: int | None = None):
    """Load a sketch by name (latest seq unless pinned); integrity-checked."""
    got = latest_sketch(spark, path, name, seq)
    if got is None:
        raise KeyError(f"no sketch named {name!r}"
                       + (f" at seq {seq}" if seq is not None else ""))
    return got[2]


def latest_entry(spark: SparkSession, path: str,
                 name: str) -> tuple[int, dict] | None:
    """(seq, meta) of the latest saved version of ``name``; None when the
    store or the name doesn't exist yet. Blobs are not read. Used by
    streaming late-data folds to make load-merge-save idempotent across
    foreachBatch replays (the meta carries the folding batch_id)."""
    w = _winner_rows(path, names=[name], payload=("meta_json",)).get(name)
    return None if w is None else (w.seq, json.loads(w.meta_json))


def max_seq_for_prefix(spark: SparkSession, path: str,
                       prefix: str) -> int | None:
    """Highest seq over every name of the form ``prefix/<group>``, or
    None when the store/prefix doesn't exist. INCLUDES uncommitted
    orphan rows from crashed grouped epochs — grouped maintenance uses
    this to publish retries at a fresh seq strictly above any orphan, so
    a retry folding a bigger delta can never tie (and sha-coin-flip)
    with the crashed attempt's rows."""
    rows = _winner_rows(path, prefix=prefix, payload=()).values()
    return max((w.seq for w in rows), default=None)


def save_sketches_bulk(spark: SparkSession, path: str,
                       entries: list[tuple[str, int, object, int]],
                       meta: dict | None = None) -> None:
    """Append many ``(name, seq, sketch, n_rows)`` rows as ONE part — the
    grouped-publish path. Same row format and integrity contract as
    save_sketch; no lineage rows (grouped builds carry their audit trail
    in the caller's manifest meta). Driver memory holds all blobs at
    once — bounded by (groups touched × blob size), the same fan-in the
    grouped build's collect already paid."""
    _append_rows(path, "sketches",
                 [_sketch_row(name, seq, sketch, n_rows, meta)
                  for name, seq, sketch, n_rows in entries])


def load_group_sketches(spark: SparkSession, path: str, prefix: str,
                        max_seq: int | None = None,
                        min_seq: int | None = None,
                        groups: list[str] | None = None) -> dict[str, object]:
    """{group: sketch} for every name of the form ``prefix/<group>``, in
    ONE store read. Per group, the winning row — optionally bounded to
    ``min_seq <= seq <= max_seq``: max_seq is the committed-epoch pin
    that lets grouped incremental maintenance ignore orphan publishes
    from a crashed, uncommitted epoch; min_seq is the last full-rebuild
    epoch, below which rows describe a table state that no longer
    exists. Groups republish only when touched, so a group's latest seq
    is typically BELOW the current epoch. ``groups`` restricts the read
    to those group values (pushed into the parquet scan) — the
    incremental path loads only the delta's groups, never the whole
    fleet. Superseded rows are never hashed or deserialized — a corrupt
    superseded version cannot fail a read of intact winners."""
    names = None if groups is None else [f"{prefix}/{g}" for g in groups]
    rows = _winner_rows(path, names=names, prefix=prefix, min_seq=min_seq,
                        max_seq=max_seq, payload=("blob",))
    return {n[len(prefix) + 1:]: serde.loads(w.blob)
            for n, w in rows.items()}


def fleet_winners(spark: SparkSession, path: str, prefix: str,
                  min_seq: int, max_seq: int) -> DataFrame:
    """(name, blob, sha256) winner rows of every ``prefix/<group>`` name
    inside ``[min_seq, max_seq]`` as a lazy Spark DataFrame — for
    consumers that stream a fleet through mapInPandas, where blobs must
    never reach the driver (winners_streaming: no blob shuffle either).
    Consumers verify each blob with ``_verified``."""
    df = read_table(spark, path + "/sketches")
    if df is None:
        raise KeyError(f"{prefix} has no committed grouped epoch")
    return winners_streaming(
        df.filter(F.col("name").startswith(prefix + "/"))
        .filter((F.col("seq") >= min_seq) & (F.col("seq") <= max_seq))
    ).select("name", "blob", "sha256")


def _winners(df: DataFrame) -> DataFrame:
    """One row per name: highest (seq, sha256) — the winner rule for
    Spark consumers (exact-duplicate rows collapse to one)."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("name").orderBy(F.col("seq").desc(),
                                           F.col("sha256").desc())
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def winners_streaming(df: DataFrame) -> DataFrame:
    """`_winners` WITHOUT shuffling payload columns: the window over
    ``partitionBy(name)`` exchanges whole rows, so fleet-scale reads
    would shuffle G × KB of blob bytes just to pick winners. Here the
    winner (name, seq, sha256) keys are computed on a column-pruned
    projection (tiny Exchange) and broadcast-SEMI-joined back, so blobs
    stream from parquet straight into the consumer — the shape for
    10^5-10^6-row fleets. One subtlety: EXACT-duplicate rows (same
    name, seq AND sha — possible only when two writers race to publish
    byte-identical content at the same seq) collapse under the window
    but would BOTH survive a semi-join, double-counting a group in a
    downstream merge; their absence is checked on the pruned frame
    first and the rare duplicate case falls back to the shuffling
    `_winners`."""
    pruned = df.select("name", "seq", "sha256")
    dup = (pruned.groupBy("name", "seq", "sha256")
           .agg(F.count("*").alias("c")).filter(F.col("c") > 1)
           .limit(1).count())
    if dup:
        return _winners(df)
    keys = _winners(pruned)
    return df.join(F.broadcast(keys), ["name", "seq", "sha256"],
                   "left_semi")


def list_sketches(spark: SparkSession, path: str) -> DataFrame:
    """EXACTLY one row per name — its winning version (highest seq, sha
    tie-break), the same winner every loader returns. A plain
    max-seq join would emit two rows per name after a same-seq writer
    race or a crash-left duplicate, making listings disagree with
    loads."""
    return _winners(
        spark.read.parquet(path + "/sketches")
        .select("name", "seq", "kind", F.length("blob").alias("bytes"),
                "sha256", "n_rows", "meta_json"))


def compact_store(spark: SparkSession, path: str) -> dict[str, dict]:
    """Merge each store table's many small append files into ONE file.

    Every publish appends a file, so a daily-publish store accumulates
    365 files/year per table — harmless for correctness (loads pick
    winning rows) but a listing/open cost on every read. Compaction
    rewrites sketches/, lineage/ and ingested/ each into a single
    parquet file, PRESERVING every row: history is a feature
    (snapshot_diff needs old seqs; the manifest's current lineage drives
    incremental diffs), so nothing is pruned — only exact duplicate rows
    (left by a crashed prior compaction) are dropped.

    Never-missing by construction: the compacted file is written INTO
    the live directory first, then ONLY the part files it actually read
    are removed — a FRESH read at any instant sees the old snapshot,
    old+new (duplicate rows, which winning-row selection tolerates), or
    just the new file; the directory itself is never renamed so the
    store never appears missing/empty mid-compact. A part file appended
    by a racing publish (a contract violation — see below) is NOT
    deleted, so its rows survive even then. Two caveats: a reader
    holding a PLAN or cache whose file listing predates the compaction
    can hit FileNotFoundException on the removed parts (re-read, or
    spark.catalog.clearCache(), after compacting); and a crash
    mid-removal leaves duplicates that the next compaction cleans.

    Driver-side rewrite through the store's I/O layer (the store is
    KB-MB scale by design): the compacted part is written like any
    append — tmp, fsync, rename, directory fsync — before a single part
    file is removed, so a power loss can never persist the deletes
    without the part that replaces them. Single-writer contract as
    everywhere in the store: don't compact concurrently with a publish.
    Returns {table: {files_before, files_after, rows, dupes_dropped}}.
    """
    stats: dict[str, dict] = {}
    for table in _SCHEMAS:
        fs, d = _fs(f"{path}/{table}")
        try:
            infos = fs.get_file_info(pafs.FileSelector(d))
        except FileNotFoundError:
            continue
        parts = sorted(i.base_name for i in infos
                       if i.base_name.endswith(".parquet")
                       and not i.base_name.startswith((".", "_")))
        if not parts:
            continue
        schema = _arrow_schema(_SCHEMAS[table])
        t = pa.concat_tables(_read_part(fs, f"{d}/{p}").select(
            schema.names).cast(schema) for p in parts)
        pdf = t.to_pandas().drop_duplicates()  # crash-left exact dupes
        _write_part(fs, d, pa.Table.from_pandas(pdf, schema=t.schema,
                                                preserve_index=False),
                    stem="compact")
        # delete exactly the snapshot we read (plus spark's write markers
        # and checksum companions) — never a file that appeared since
        gone = set(parts) | {f".{p}.crc" for p in parts} | {
            "_SUCCESS", "._SUCCESS.crc"}
        for i in infos:
            if i.base_name in gone:
                fs.delete_file(i.path)
        stats[table] = {"files_before": len(parts), "files_after": 1,
                        "rows": len(pdf),
                        "dupes_dropped": t.num_rows - len(pdf)}
    return stats


def load_lineage(spark: SparkSession, path: str, name: str,
                 seq: int | None = None) -> DataFrame:
    """Per-partition build lineage of a saved sketch: the winning
    version's unless ``seq`` pins one (lineage rows of a save that never
    committed its sketch row are never returned as the latest)."""
    if seq is None:
        entry = latest_entry(spark, path, name)
        seq = -1 if entry is None else entry[0]
    return (spark.read.parquet(path + "/lineage")
            .filter((F.col("name") == name) & (F.col("seq") == seq))
            .select("name", "seq", "pid", "n_rows", "n_items",
                    "total_count", "build_ms"))
