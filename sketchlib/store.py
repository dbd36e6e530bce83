"""Durable store for FINAL sketches — build once, probe in any later session.

A build over the full table is the expensive artifact (at 10^12 sequences
it is hours of cluster time); the sketch itself is KBs. The store persists
named sketches of ANY sketchlib type (magic-dispatched — serde.loads) as
plain parquet tables, listable/joinable from Spark, DuckDB or pyarrow, and
keeps the byte-identity contract ``load_sketch(save_sketch(s)).to_bytes()
== s.to_bytes()``. Layout under ``<path>/``:

- ``sketches/`` rows ``(name, seq, kind, blob, sha256, n_rows, meta_json)``
  (a re-save adds a higher seq; loads resolve latest-wins), ``lineage/``
  rows ``(name, seq, pid, n_rows, n_items, total_count, build_ms)`` (the
  per-partition build audit trail), ``ingested/`` rows ``(name, seq,
  file, file_size)`` (incremental.py's manifest) — write-once parts;
- ``_head``: JSON of the store's id, generation and live parts. Readers
  read exactly these parts, never one the head does not name;
- ``_log/<g>.json``: the claim of generation g — the names its commit
  wrote, the parts it added and removed.

The commit rule. Every write is one commit (``_commit``): (1) its parts
are written, one per table (dot-prefixed temp file, fsync, rename,
directory fsync); (2) it claims generation g+1 by creating
``_log/<g+1>.json`` exclusively (hard link of a durable temp file); (3) it
replaces the head atomically (temp file, fsync, rename, directory fsync).
``save_sketch``, ``save_sketches_bulk``, each incremental fold and
``compact_store`` make exactly one commit; a fold stages its sketch,
lineage and manifest rows in one ``_transaction``. A writer killed before
step 2 leaves parts no head names; one killed after it leaves a claim the
next writer installs before its own. Readers see the state before a
commit or after it, never a mix.

The single-writer rule, enforced: ``CommitConflict`` refuses a commit when
a commit that landed after the writer's read (its transaction's starting
generation) wrote one of its sketch or manifest names — two folds of one
fleet share the fleet's manifest name; different names never conflict —
and a sketch row whose seq is not above its name's committed seq, so no
two committed rows share a ``(name, seq)``.

Reads (pyarrow, no Spark job, on the driver and in executor-side SQL
functions) go through ``_winner_rows`` — THE winner rule, highest
``(seq, sha256)`` per name; winning blobs sha-verified, superseded rows
never hashed — and ``_manifest_rows``. A read stats the head; next to the
parsed head, one byte-budgeted FIFO (``_MEMO``) keeps each table's KEY
INDEX (``_memo_read``; per part file, so a read after a commit opens only
the new parts) and each query's ANSWER for one generation, so a read with
no commit in between is one stat. Answers hold bytes and strings only: a
caller that merges into what it loaded never alters another's answer.

Only a missing store, or one without a committed part, reads as empty;
any other read failure surfaces (streaming._late_merge_store's replay
guard relies on this), and tables with neither a head nor ``_log/``
(written without a commit) are refused. Paths resolve through
``pyarrow.fs``; local stores are the tested path. Remote schemes are
UNTESTED and unsafe for more than one writer: no exclusive create (a claim
is a check, then a move), renames not atomic everywhere, fsync a no-op.
Spark readers (``list_sketches``, ``load_lineage``, ``fleet_winners``)
read the head's parts too. Checkpoints (spark_build.checkpoint_dir) resume
in-flight builds; the store publishes finished ones.
"""

from __future__ import annotations

import contextlib
import contextvars
import hashlib
import json
import os
import sys
import threading
import time
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


def read_table(spark: SparkSession, path: str,
               schema: str | None = None) -> DataFrame | None:
    """A parquet directory as a Spark DataFrame, or None when it doesn't
    exist yet. ONLY "path does not exist" maps to None — any other read
    failure must surface. The single place the version-sensitive Spark
    error-message match lives. With ``schema`` given, a directory holding
    no committed file reads as 0 rows instead of failing schema
    inference."""
    from pyspark.errors import AnalysisException
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise


# -- files --------------------------------------------------------------------

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


def _atomic(fs: pafs.FileSystem, final: str, write,
            exclusive: bool = False) -> None:
    """Create ``final`` from ``write(tmp)``: a dot-prefixed temp file
    beside it (pyarrow and Spark skip those), fsync, rename into place —
    or, ``exclusive``, hard-link it there (FileExistsError when
    ``final`` exists) — then fsync the directory. Readers never see a
    torn file; a failure removes the temp file."""
    d, base = final.rsplit("/", 1)
    tmp = f"{d}/.{base}.{uuid.uuid4().hex[:8]}.tmp"
    try:
        write(tmp)
        _fsync(fs, tmp)
        if exclusive and isinstance(fs, pafs.LocalFileSystem):
            os.link(tmp, final)
            fs.delete_file(tmp)
        elif exclusive and _stat(fs, final) is not None:  # remote: racy
            raise FileExistsError(final)
        else:
            fs.move(tmp, final)
        _fsync(fs, d)
    except BaseException:
        with contextlib.suppress(OSError):
            fs.delete_file(tmp)
        raise


def _json(fs: pafs.FileSystem, path: str, doc=None, exclusive=False,
          mtime_ns=None):
    """Read JSON ``path``, or create it holding ``doc`` (``_atomic``)."""
    if doc is None:
        with fs.open_input_stream(path) as f:
            return json.loads(f.read())

    def write(tmp):
        with fs.open_output_stream(tmp) as f:
            f.write(json.dumps(doc).encode())
        if mtime_ns:
            os.utime(tmp, ns=(mtime_ns, mtime_ns))
    _atomic(fs, path, write, exclusive)


def _stat(fs: pafs.FileSystem, path: str) -> tuple | None:
    """(size, mtime) of a file; None when it does not exist."""
    i = fs.get_file_info(path)
    return None if i.type == pafs.FileType.NotFound else (i.size, i.mtime_ns)


# (store, table, query) -> (version, value, bytes), FIFO-evicted to a
# total size; each table's key index and each store's parsed head are
# entries too
_MEMO: dict[tuple, tuple] = {}
_MEMO_BYTES = 256 << 20
_MEMO_LOCK = threading.Lock()


def _memo_put(key: tuple, version, value, nbytes: int) -> None:
    """Memoize ``value`` under ``key``, evicting the oldest entries to
    stay within ``_MEMO_BYTES``. A value over the budget is not kept: it
    drops what ``key`` held (a key index grows in place) and evicts
    nothing else."""
    with _MEMO_LOCK:
        _MEMO.pop(key, None)
        if nbytes > _MEMO_BYTES:
            return
        total = sum(v[2] for v in _MEMO.values())
        while _MEMO and total + nbytes > _MEMO_BYTES:
            total -= _MEMO.pop(next(iter(_MEMO)))[2]
        _MEMO[key] = (version, value, nbytes)


def _memo_get(key: tuple, version):
    """The value memoized under ``key`` at ``version``, else None."""
    with _MEMO_LOCK:
        hit = _MEMO.get(key)
    return hit[1] if hit is not None and hit[0] == version else None


def _sizeof(t: tuple) -> int:
    """CPython bytes of the tuple ``t`` and of its items (objects shared
    with others, such as small ints, are charged too)."""
    return sys.getsizeof(t) + sum(map(sys.getsizeof, t))


# -- the head and the commit ----------------------------------------------------

# {"store": id made by the first commit (a store made again at a path
# never matches old memo entries), "generation", "parts": {table: names}}
_EMPTY = {"store": None, "generation": 0, "parts": {t: [] for t in _SCHEMAS}}


def _head(path: str) -> dict:
    """The committed head of the store at ``path``, memoized on one stat
    of ``_head``; ``_EMPTY`` when there is none, unless table directories
    exist and ``_log/`` does not (a store written without a commit)."""
    fs, root = _fs(path)
    st = _stat(fs, f"{root}/_head")
    if st is None:
        if _stat(fs, f"{root}/_log") is None and any(
                _stat(fs, f"{root}/{t}") for t in _SCHEMAS):
            raise IOError(
                f"store {path} has tables but no _head: it was not "
                "written through a commit, so which parts are live is "
                "unknown — republish its sketches into a new store")
        return _EMPTY
    head = _memo_get((path, "_head"), st)
    if head is None:
        head = _json(fs, f"{root}/_head")
        _memo_put((path, "_head"), st, head, 4 * st[0])
    return head


def _advance(fs: pafs.FileSystem, root: str, head: dict) -> dict:
    """``head`` with every generation claimed above it applied."""
    while True:
        try:
            entry = _json(fs, f"{root}/_log/{head['generation'] + 1}.json")
        except FileNotFoundError:
            return head
        parts = {}
        for t, ps in head["parts"].items():
            gone = set(entry["remove"].get(t, ()))
            parts[t] = [p for p in ps if p not in gone] + entry["add"].get(
                t, [])
        head = {"store": entry["store"], "parts": parts,
                "generation": head["generation"] + 1}


def _claim(fs: pafs.FileSystem, root: str, gen: int, entry: dict) -> None:
    """Step 2 of a commit: create ``_log/<gen>.json`` holding ``entry``,
    exclusively (FileExistsError when another commit claimed ``gen``)."""
    _json(fs, f"{root}/_log/{gen}.json", entry, exclusive=True)


def _write_head(fs: pafs.FileSystem, root: str, head: dict) -> None:
    """Step 3 of a commit: replace ``_head`` atomically. A local head's
    mtime is set above its predecessor's, so no two heads share the
    (size, mtime) stat that readers memoize it on."""
    old = _stat(fs, f"{root}/_head")
    bump = old is not None and isinstance(fs, pafs.LocalFileSystem)
    _json(fs, f"{root}/_head", head,
          mtime_ns=bump and max(time.time_ns(), old[1] + 1))


def _current(path: str) -> dict:
    """The head with every claimed generation installed — rewritten while
    later ones appear, so a racing writer's older head never stays."""
    fs, root = _fs(path)
    head = _head(path)
    while (later := _advance(fs, root, head)) is not head:
        _write_head(fs, root, later)
        head = later
    return head


class CommitConflict(RuntimeError):
    """A commit refused under the single-writer rule (see the module
    docstring); nothing of it is visible. Re-read the store and retry."""


def _drop(fs: pafs.FileSystem, root: str, parts: dict) -> None:
    """Delete the part files ``parts`` ({table: file names})."""
    for t, ps in parts.items():
        for p in ps:
            with contextlib.suppress(FileNotFoundError):
                fs.delete_file(f"{root}/{t}/{p}")


def _write_parts(fs: pafs.FileSystem, root: str, tables: dict,
                 stem: str = "part") -> dict:
    """Step 1 of a commit: a part per arrow table of ``tables``; returns
    {table: [file name]}. ``_log/`` comes first (a store whose first
    commit dies here reads as empty); a failure removes the parts."""
    fs.create_dir(f"{root}/_log", recursive=True)
    add: dict[str, list] = {}
    try:
        for t, tbl in tables.items():
            add[t] = [_write_part(fs, f"{root}/{t}", tbl, stem)]
    except BaseException:
        _drop(fs, root, add)
        raise
    return add


def _commit(path: str, base: int, names, add: dict,
            remove: dict | None = None) -> int:
    """THE commit: the written parts ``add`` ({table: [file names]}) go
    live and ``remove`` leaves the head as one new generation, returned.
    CommitConflict (``add`` deleted) when a generation above ``base``,
    the one the writer read, wrote one of ``names`` — or was pruned, so
    that cannot be ruled out — or a part in ``remove`` is gone. A claim
    lost to a racing writer is retried on the next generation."""
    fs, root = _fs(path)
    names, remove = set(names), remove or {}
    try:
        while True:
            head = _current(path)
            for g in range(base + 1, head["generation"] + 1):
                try:
                    hit = names.intersection(
                        _json(fs, f"{root}/_log/{g}.json")["names"])
                except FileNotFoundError:
                    hit = names       # pruned: cannot be ruled out
                if hit:
                    raise CommitConflict(
                        f"store {path}: generation {g}, committed after "
                        f"this writer read generation {base}, may have "
                        f"written {sorted(hit)[:3]} — one writer per "
                        "name; re-read and retry")
            if any(not set(ps) <= set(head["parts"][t])
                   for t, ps in remove.items()):
                raise CommitConflict(f"store {path}: the parts to remove "
                                     "were replaced by another commit")
            entry = {"store": head["store"] or uuid.uuid4().hex,
                     "names": sorted(names), "add": add, "remove": remove}
            try:
                _claim(fs, root, head["generation"] + 1, entry)
                break
            except FileExistsError:
                continue
    except BaseException:
        _drop(fs, root, add)
        raise
    _current(path)
    return head["generation"] + 1


# the transaction open in this context: (store path, base generation,
# {table: staged rows})
_TXN: contextvars.ContextVar = contextvars.ContextVar("sketchlib_store_txn",
                                                      default=None)


@contextlib.contextmanager
def _transaction(path: str, join: bool = False):
    """Stage the store writes of the block (``_stage``) into ONE commit
    made when it exits without an exception (``join``: into the
    transaction open on ``path`` in this context, if any). The writer's
    read is the generation the transaction starts from."""
    if join and _TXN.get() is not None and _TXN.get()[0] == path:
        yield
        return
    tx = (path, _current(path)["generation"], {})
    token = _TXN.set(tx)
    try:
        yield
    finally:
        _TXN.reset(token)
    rows = tx[2]
    if not rows:
        return
    keys = [(r[0], r[1]) for r in rows.get("sketches", ())]
    have = _winner_rows(path, names={n for n, _ in keys},
                        payload=()) if keys else {}
    stale = [k for k in keys if k[0] in have and have[k[0]].seq >= k[1]]
    if stale or len(set(keys)) < len(keys):
        raise CommitConflict(f"store {path}: {(stale or keys)[:3]} not "
                             "above the committed seq (or repeated)")
    schemas = {t: _arrow_schema(_SCHEMAS[t]) for t in rows}
    _commit(path, tx[1], {r[0] for rs in rows.values() for r in rs},
            _write_parts(*_fs(path), {t: pa.table(dict(zip(
                schemas[t].names, zip(*rs))), schema=schemas[t])
                for t, rs in rows.items()}))


def _stage(path: str, table: str, rows: list[tuple]) -> None:
    """Add ``table`` rows (column-order tuples) to ``path``'s transaction."""
    if rows:
        _TXN.get()[2].setdefault(table, []).extend(rows)


# -- reads ----------------------------------------------------------------------

def _part_keys(fs: pafs.FileSystem, part: str, columns: tuple,
               groups: tuple | None, sel) -> tuple:
    """The key index entry of one part file once ``sel`` has read it: per
    row group ``(rg, name min, name max, seq min, seq max, rows, bytes)``.
    The bounds come from the footer statistics (None when missing);
    ``rows`` are the tuples of ``columns`` (name and seq first) as plain
    Python values, decoded the first time a selection's bounds admit the
    row group and None until then; ``bytes`` is what the group holds.
    ``groups`` is the entry so far (None: footer not read yet). One open
    reads the footer if needed and every row group ``sel`` newly
    admits."""
    with fs.open_input_file(part) as f:
        pf = pq.ParquetFile(f)
        if groups is None:
            md = pf.metadata
            col = {md.schema.column(i).name: i
                   for i in range(md.num_columns)}

            def bounds(rg, c):
                st = md.row_group(rg).column(col[c]).statistics
                return ((st.min, st.max) if st is not None
                        and st.has_min_max else (None, None))

            groups = tuple(
                g + (None, _sizeof(g + (None, 0))) for g in (
                    (rg, *bounds(rg, "name"), *bounds(rg, "seq"))
                    for rg in range(md.num_row_groups)
                    if md.row_group(rg).num_rows))
        out = []
        for g in groups:
            if g[5] is None and sel.group(*g[1:5]):
                t = pf.read_row_group(g[0], columns=list(columns),
                                      use_threads=False)
                cols = [t.column(c).to_pylist() for c in columns]
                rows = tuple(zip(*cols))
                g = g[:5] + (rows, g[6] + sys.getsizeof(rows)
                             + len(rows) * sys.getsizeof(rows[0])
                             + sum(sum(map(sys.getsizeof, c)) for c in cols))
            out.append(g)
    return tuple(out)


def _memo_read(path: str, table: str, query: tuple, columns: tuple, read):
    """``read(fs, keys) -> (value, nbytes)`` over the committed parts of
    ``path/table``, memoized per generation; None when there is none.
    ``keys`` is the table's KEY INDEX of ``columns`` — {part path:
    ``_part_keys`` entry or None} — reused across generations (parts are
    write-once), so a read opens only the parts new since the last one;
    it is charged again after each read, which can decode more of it."""
    head = _head(path)
    if not head["parts"][table]:
        return None
    version = (head["store"], head["generation"])
    hit = _memo_get((path, table, query), version)
    if hit is not None:
        return hit
    fs, root = _fs(path)
    with _MEMO_LOCK:
        was, old, _ = _MEMO.get((path, table, ("keys", columns)),
                                (None, {}, 0))
    keys = old if was == version else {
        p: old.get(p) for p in (f"{root}/{table}/{name}"
                                for name in head["parts"][table])}
    value, nbytes = read(fs, keys)
    _memo_put((path, table, query), version, value, nbytes)
    _memo_put((path, table, ("keys", columns)), version, keys,
              sys.getsizeof(keys) + sum(
                  sys.getsizeof(groups) + sum(g[6] for g in groups)
                  for groups in keys.values() if groups is not None))
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

    def group(self, name_min, name_max, seq_min, seq_max) -> bool:
        """Whether a row group with these name and seq bounds can hold a
        wanted row (None bounds are unknown and admit)."""
        if name_min is not None:
            if self.names is not None and not any(
                    name_min <= n <= name_max for n in self.names):
                return False
            if (self.lo is not None and name_max <= self.lo) or (
                    self.hi is not None and name_min >= self.hi):
                return False
        return seq_min is None or not (
            self.min_seq is not None and seq_max < self.min_seq
            or self.max_seq is not None and seq_min > self.max_seq)


def _read_part(fs: pafs.FileSystem, part: str, rg: int | None = None,
               columns: list[str] | None = None) -> pa.Table:
    """One part file (or one row group of it) as a table."""
    with fs.open_input_file(part) as f:
        pf = pq.ParquetFile(f)
        return (pf.read(columns, use_threads=False) if rg is None else
                pf.read_row_group(rg, columns=columns, use_threads=False))


def _scan(fs: pafs.FileSystem, keys: dict, sel: _Select, columns: tuple):
    """(part, row group, key rows) of every row group of the key index
    ``keys`` whose bounds admit ``sel``, with the rows ``sel.row``
    selects. A part is opened only when it is new to the index or holds
    an admitted row group whose rows were never decoded; what it reads is
    kept in ``keys``."""
    for part, groups in keys.items():
        if groups is None or any(g[5] is None and sel.group(*g[1:5])
                                 for g in groups):
            groups = keys[part] = _part_keys(fs, part, columns, groups, sel)
        for rg, name_min, name_max, seq_min, seq_max, rows, _ in groups:
            if sel.group(name_min, name_max, seq_min, seq_max):
                yield part, rg, [r for r in rows if sel.row(r[0], r[1])]


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

    def read(fs, keys):
        best: dict[str, tuple] = {}     # name -> (Winner, part, row group)
        for part, rg, rows in _scan(fs, keys, sel, columns):
            for key in rows:
                row = Winner(*key, None, None)
                if (row.name not in best
                        or _rank(row) > _rank(best[row.name][0])):
                    best[row.name] = (row, part, rg)
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

    columns = ("name", "seq", "sha256")
    query = ("winners", sel, tuple(payload))
    return dict(_memo_read(path, "sketches", query, columns, read) or {})


def _manifest_rows(path: str, name: str) -> tuple:
    """((seq, file, file_size), ...) — every ``ingested/`` manifest row
    of ``name`` in the store at ``path``; () when there is none."""
    sel = _Select(frozenset([name]), None, None, None, None)
    columns = ("name", "seq", "file", "file_size")

    def read(fs, keys):
        rows = tuple((s, f, sz)
                     for _, _, found in _scan(fs, keys, sel, columns)
                     for _, s, f, sz in found)
        return rows, sum(64 + len(f) for _, f, _ in rows)

    return _memo_read(path, "ingested", ("manifest", name), columns,
                      read) or ()


def _write_part(fs: pafs.FileSystem, d: str, tbl: pa.Table,
                stem: str = "part") -> str:
    """Write ``tbl`` as one new parquet part into the table directory
    ``d`` atomically (``_atomic``); returns the part's file name.

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
    name = f"{stem}-{uuid.uuid4().hex}-pya.snappy.parquet"
    _atomic(fs, f"{d}/{name}", lambda tmp: pq.write_table(
        tbl, tmp, filesystem=fs, compression="snappy",
        row_group_size=rg_rows))
    return name


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
    """Persist ``sketch`` under ``name`` with its optional ``lineage``
    (a pandas DataFrame of pid, n_rows, n_items, total_count, build_ms,
    e.g. ``BuildResult.lineage``) in one commit — inside an incremental
    fold, with its manifest rows too; returns the seq: ``seq`` when
    pinned (it must be above the name's committed seq), else one above.
    ONE writer per name, enforced (CommitConflict)."""
    with _transaction(path, join=True):
        if seq is None:
            seq = _next_seq(spark, path, name)
        if lineage is not None:
            _stage(path, "lineage", [
                (name, seq, int(r["pid"]), int(r["n_rows"]),
                 int(r["n_items"]), int(r["total_count"]),
                 float(r["build_ms"])) for _, r in lineage.iterrows()])
        _stage(path, "sketches",
               [_sketch_row(name, seq, sketch, n_rows, meta)])
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


def save_sketches_bulk(spark: SparkSession, path: str,
                       entries: list[tuple[str, int, object, int]],
                       meta: dict | None = None) -> None:
    """Commit many ``(name, seq, sketch, n_rows)`` rows as ONE part — the
    grouped-publish path; save_sketch's row format and commit contract,
    no lineage rows. Driver memory holds all blobs at once — bounded by
    (groups touched × blob size), the fan-in the grouped build's collect
    already paid."""
    with _transaction(path, join=True):
        _stage(path, "sketches",
               [_sketch_row(name, seq, sketch, n_rows, meta)
                for name, seq, sketch, n_rows in entries])


def load_group_sketches(spark: SparkSession, path: str, prefix: str,
                        max_seq: int | None = None,
                        min_seq: int | None = None,
                        groups: list[str] | None = None) -> dict[str, object]:
    """{group: sketch} of the names ``prefix/<group>`` (only ``groups``
    when given) in ONE store read: per group the winner within
    ``[min_seq, max_seq]`` — max_seq pins a committed epoch, min_seq the
    last rebuild's base (older rows describe a dead table state). A
    corrupt superseded version cannot fail a read of intact winners."""
    names = None if groups is None else [f"{prefix}/{g}" for g in groups]
    rows = _winner_rows(path, names=names, prefix=prefix, min_seq=min_seq,
                        max_seq=max_seq, payload=("blob",))
    return {n[len(prefix) + 1:]: serde.loads(w.blob)
            for n, w in rows.items()}


def _spark_table(spark: SparkSession, path: str, table: str) -> DataFrame:
    """The committed rows of a store table for Spark readers: the table
    directory, filtered to the parts the head names (one driver-side
    listing; a path list above Spark's parallel-listing threshold would
    run a listing job)."""
    parts = _head(path)["parts"][table]
    if not parts:
        return spark.createDataFrame([], _SCHEMAS[table])
    return (spark.read.schema(_SCHEMAS[table]).parquet(f"{path}/{table}")
            .filter(F.col("_metadata.file_name").isin(parts)))


def fleet_winners(spark: SparkSession, path: str, prefix: str,
                  min_seq: int, max_seq: int) -> DataFrame:
    """(name, blob, sha256) winner rows of every ``prefix/<group>`` name
    inside ``[min_seq, max_seq]`` as a lazy Spark DataFrame — for
    consumers that stream a fleet through mapInPandas, where blobs must
    never reach the driver. Consumers verify each blob with
    ``_verified``."""
    return winners_streaming(
        _spark_table(spark, path, "sketches")
        .filter(F.col("name").startswith(prefix + "/"))
        .filter((F.col("seq") >= min_seq) & (F.col("seq") <= max_seq))
    ).select("name", "blob", "sha256")


def _winners(df: DataFrame) -> DataFrame:
    """One row per name: highest (seq, sha256) — the winner rule for
    Spark consumers."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("name").orderBy(F.col("seq").desc(),
                                           F.col("sha256").desc())
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def winners_streaming(df: DataFrame) -> DataFrame:
    """`_winners` WITHOUT shuffling payload columns (fleet-scale reads
    would exchange G × KB of blobs to pick winners): the winner keys are
    computed on a (name, seq, sha256) projection and broadcast-SEMI-
    joined back, so blobs stream from parquet straight into the
    consumer. One row per name, since no two committed rows share a
    (name, seq)."""
    keys = _winners(df.select("name", "seq", "sha256"))
    return df.join(F.broadcast(keys), ["name", "seq", "sha256"],
                   "left_semi")


def list_sketches(spark: SparkSession, path: str) -> DataFrame:
    """EXACTLY one row per name: its winning version, the same winner
    every loader returns."""
    return _winners(
        _spark_table(spark, path, "sketches")
        .select("name", "seq", "kind", F.length("blob").alias("bytes"),
                "sha256", "n_rows", "meta_json"))


def compact_store(spark: SparkSession, path: str) -> dict[str, dict]:
    """Merge each table's live parts (one per commit that wrote it) into
    ONE, keeping every row (snapshot_diff needs old seqs, incremental
    diffs the manifest). One commit swaps the new parts in and the old
    out, then the old files and the claims below it are deleted. A Spark
    plan from before can hit a missing file (re-read, or
    spark.catalog.clearCache()). A commit beside it keeps its parts; a
    racing compaction, or a writer that read before the claims went, is
    refused. Returns {table: {files_before, files_after, rows}}."""
    fs, root = _fs(path)
    head = _current(path)
    old = {t: ps for t, ps in head["parts"].items() if ps}
    tables = {}
    for t, ps in old.items():
        schema = _arrow_schema(_SCHEMAS[t])
        tables[t] = pa.concat_tables(_read_part(fs, f"{root}/{t}/{p}")
                                     .select(schema.names).cast(schema)
                                     for p in ps)
    if old:
        gen = _commit(path, head["generation"], (),
                      _write_parts(fs, root, tables, "compact"), old)
        _drop(fs, root, old)
        for i in fs.get_file_info(pafs.FileSelector(f"{root}/_log")):
            if i.base_name.split(".")[0].isdigit() \
                    and int(i.base_name.split(".")[0]) < gen:
                fs.delete_file(i.path)
    return {t: {"files_before": len(old[t]), "files_after": 1,
                "rows": tables[t].num_rows} for t in old}


def load_lineage(spark: SparkSession, path: str, name: str,
                 seq: int | None = None) -> DataFrame:
    """Per-partition build lineage of a saved sketch: the winning
    version's unless ``seq`` pins one."""
    if seq is None:
        entry = latest_entry(spark, path, name)
        seq = -1 if entry is None else entry[0]
    return (_spark_table(spark, path, "lineage")
            .filter((F.col("name") == name) & (F.col("seq") == seq))
            .select("name", "seq", "pid", "n_rows", "n_items",
                    "total_count", "build_ms"))
