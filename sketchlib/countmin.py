"""Count-Min sketch (Cormode & Muthukrishnan 2005) — dense NumPy core.

Semantics re-expressed from the reference CountMinDB (/root/reference/cm.h),
not ported:

- shape: ``w = ceil(e/eps)``, ``d = ceil(ln(1/delta))`` — cm.h:397-398.
- row seeds: d uint32 draws from mt19937_64(master_seed) via libstdc++
  uniform_int_distribution — cm.h:400-407 (reproduced in hashing.seed_schedule).
- counter index for row j: ``murmur3_x64_128(key, 8, seed_j).h2 % w``
  — cm.h:387-391, 486.
- update(i, c): add c to one counter per row — cm.h:482-488.
- pointQuery(i): min over the d probed counters — cm.h:541-548.
- innerProductQuery(a, b): min over rows of the per-row dot product
  — cm.h:810-815 (the dense×dense path cm.h:626-633; we do NOT reproduce the
  chunked-path bugs at cm.h:653-674 / cm.h:767).
- mergeCMs: elementwise add — cm.h:849-857. Integer addition is associative
  and commutative, so merges are byte-identical for any partition order.

Deliberate, documented deviations:
- counters are int64, not the reference's int32 (cm.h:138) — at 10^12 updates
  int32 overflows; the reference never runs at that scale.
- a single dense layout. The reference's 9 storage backends (sparse, chunked-
  compressed, buffered, mmap) are storage strategies that Spark supplies for
  free at our layer (Parquet compression, shuffle aggregation, checkpoints)
  — SURVEY.md §4.
- a conservative-update variant (Estan & Varghese 2002), absent from the
  reference but required by the north rule.

Everything is vectorized NumPy; no per-row Python in any batch path.
"""

from __future__ import annotations

import math
import struct
import threading
from dataclasses import dataclass, field

import numpy as np

from .hashing import accumulate_into, columns_into, seed_schedule, tokens_to_u64

_MAGIC = b"CMSK"
_MAGIC_SPARSE = b"CMSP"
_VERSION = 1

# Persistent per-thread workspaces for duplicate pre-aggregation. np.unique
# on a ~26 M-token chunk allocates a ~100 MB sort copy plus O(unique)
# outputs per call; ephemeral allocations of that size with overlapping
# lifetimes and varying sizes defeat glibc hole reuse, so their pages are
# released and re-faulted call after call (~25k minor faults each — see
# BENCH/BASELINE.md Session E). Under 32 concurrent workers that
# fault/zeroing storm collapses aggregate throughput ~2x (88 -> 158 M tok/s
# measured at 32 procs). Workspaces grow geometrically, keyed by key dtype,
# to the largest array passed: ``update_batch`` passes at most one
# ``_AGG_CHUNK`` (2^17 keys), MultiSketch's shared pass one streamed
# record batch. One set per thread: parquet builds run their slices on
# driver threads, and a process-shared buffer would interleave two sorts
# — silently wrong (vals, counts) since the output is a view.
_UC_TLS = threading.local()


def _unique_counts(arr: np.ndarray):
    """``np.unique(arr, return_counts=True)`` with persistent workspaces.

    Returns ``(values, counts)`` where values is a view into a reused
    buffer (valid until the next call from this thread) and counts is
    float64 (exact for counts < 2^53 — what ``accumulate_into`` converts
    weights to anyway, so no further copy downstream). Identical values
    and counts to np.unique (pinned by test).
    """
    n = arr.shape[0]
    key = arr.dtype.str
    pool = getattr(_UC_TLS, "ws", None)
    if pool is None:
        pool = _UC_TLS.ws = {}
    ws = pool.get(key)
    if ws is None:
        ws = [np.empty(0, arr.dtype), np.empty(0, bool),
              np.empty(0, arr.dtype), np.empty(0, np.float64)]
        pool[key] = ws
    if ws[0].shape[0] < n:
        cap = max(n, 2 * ws[0].shape[0])
        ws[0] = np.empty(cap, arr.dtype)
        ws[1] = np.empty(cap, bool)
    a = ws[0][:n]
    np.copyto(a, arr)
    a.sort()
    m = ws[1][: n - 1]
    np.not_equal(a[1:], a[:-1], out=m)
    idx = np.flatnonzero(m)  # O(unique) — the one unavoidable allocation
    u = idx.shape[0] + 1
    if ws[2].shape[0] < u:
        # u <= n: never larger than the sort buffer
        cap = min(max(u, 2 * ws[2].shape[0]), ws[0].shape[0])
        ws[2] = np.empty(cap, arr.dtype)
        ws[3] = np.empty(cap, np.float64)
    vals = ws[2][:u]
    vals[0] = a[0]
    cnts = ws[3][:u]
    if u > 1:
        np.take(a, idx + 1, out=vals[1:])
        cnts[0] = idx[0] + 1
        np.subtract(idx[1:], idx[:-1], out=cnts[1 : u - 1], casting="unsafe")
        cnts[u - 1] = n - 1 - idx[-1]
    else:
        cnts[0] = n
    return vals, cnts


@dataclass(frozen=True)
class CMConfig:
    """Sketch family parameters. Two sketches are mergeable iff their configs
    are equal (cf. the reference's weaker chunk-count assert, cm.h:788)."""

    eps: float
    delta: float
    seed: int = 1337
    width: int = field(init=False)
    depth: int = field(init=False)
    row_seeds: tuple[int, ...] = field(init=False)

    def __post_init__(self) -> None:
        w = int(math.ceil(math.e / self.eps))  # cm.h:397
        d = int(math.ceil(math.log(1.0 / self.delta)))  # cm.h:398
        object.__setattr__(self, "width", w)
        object.__setattr__(self, "depth", d)
        object.__setattr__(self, "row_seeds", seed_schedule(self.seed, d))

    @staticmethod
    def for_shape(width: int, depth: int, seed: int = 1337) -> "CMConfig":
        """Config from an explicit (w, d) — eps/delta back-derived.

        eps = e/width does not always round-trip through ceil(e/eps)
        (float division can land just above the integer, e.g. width=39 ->
        ceil = 40), so nudge eps upward by ULPs until it does; then
        validate with a real raise (an assert vanishes under python -O
        and a silently-wrong width breaks mergeability)."""
        eps = math.e / width
        delta = math.exp(-depth)
        for _ in range(4):
            cfg = CMConfig(eps=eps, delta=delta, seed=seed)
            if cfg.width == width:
                break
            eps = math.nextafter(eps, math.inf)
        if cfg.width != width or cfg.depth != depth:
            raise ValueError(
                f"cannot derive eps/delta for shape ({width}, {depth}): "
                f"got ({cfg.width}, {cfg.depth})")
        return cfg


class CountMinSketch:
    """Dense d×w int64 Count-Min sketch with batch (vectorized) updates."""

    __slots__ = ("cfg", "table", "n_items", "total_count")

    def __init__(self, cfg: CMConfig, table: np.ndarray | None = None,
                 n_items: int = 0, total_count: int = 0) -> None:
        self.cfg = cfg
        if table is None:
            table = np.zeros((cfg.depth, cfg.width), dtype=np.int64)
        assert table.shape == (cfg.depth, cfg.width)
        self.table = table
        self.n_items = n_items          # number of update() calls absorbed
        self.total_count = total_count  # Σ counts = ||f||₁ for non-negative streams

    # -- column placement ---------------------------------------------------
    def _columns(self, keys_u64: np.ndarray) -> np.ndarray:
        """(d, n) int64 matrix of probed column indices, reference placement
        (cm.h:486): murmur h2 % w per row seed."""
        cols = np.empty((self.cfg.depth, keys_u64.shape[0]), dtype=np.int64)
        for j, s in enumerate(self.cfg.row_seeds):
            columns_into(keys_u64, s, self.cfg.width, cols[j])
        return cols

    # -- update paths (cm.h:482-488 semantics, batched) ----------------------
    # pre-aggregate duplicates before hashing once a batch is big enough that
    # the O(n log n) sort is cheaper than hashing duplicates d times (skewed
    # token streams — the reference's Zipf workload — are ~90% duplicates)
    _AGG_THRESHOLD = 1 << 16
    # ... and collapse them in fixed-size chunks: counter adds commute, so
    # the table is byte-identical to one whole-batch pass, and the sort
    # workspace stays one chunk per thread (~2.2 MB for int32 keys)
    # instead of growing with the largest batch (one 13 M-token call left
    # ~65 MB resident for good). Chunks also sort in cache: 13 M tokens of
    # perfbench's build table fold at 17.7 M tok/s in 2^16-key chunks,
    # 17.6 in 2^17, 17.4 in 2^18 and 14.3 in one pass (medians of 7
    # interleaved rounds, 4 vCPU). 2^17 keeps a streamed 512-row batch of
    # that table (~97k tokens) in one chunk: split in two at 2^16, 100
    # threaded builds took 349 ms each against 264-268 ms at 2^17.
    _AGG_CHUNK = 1 << 17

    def update_batch(self, keys, counts=None, preaggregate: bool | None = None) -> None:
        """Standard CM batch update: one bincount-scatter per depth row.

        Keys stay in their native (narrow) dtype until the last moment: the
        duplicate pre-aggregation sorts 4-byte tokens, and widening to the
        uint64 hash domain happens chunk-locally inside ``columns_into`` —
        both matter for memory-bandwidth-bound multi-worker builds.

        ``preaggregate`` collapses duplicate keys (one sort) before hashing:
        measured 1.26-1.44x faster on skewed streams at every local[N]
        level since the L2-resident kernel rework (pre-rework it
        anti-scaled on saturated hosts; see BENCH/BASELINE.md). None =
        heuristic (on for large batches).
        """
        arr = np.asarray(keys)
        n = arr.shape[0]
        if n == 0:
            return
        self.n_items += n
        do_agg = (n >= self._AGG_THRESHOLD) if preaggregate is None else (
            preaggregate and n > 1)
        if counts is None:
            self.total_count += n
            if do_agg:
                for st in range(0, n, self._AGG_CHUNK):
                    vals, cnts = _unique_counts(arr[st:st + self._AGG_CHUNK])
                    accumulate_into(vals, self.cfg.row_seeds, self.cfg.width,
                                    self.table, weights=cnts)
                return
            agg = None
        else:
            c = np.asarray(counts, dtype=np.int64)
            self.total_count += int(c.sum())
            if do_agg:
                arr, inv = np.unique(arr, return_inverse=True)
                agg = np.bincount(inv, weights=c).astype(np.int64)
            else:
                agg = c
        # fused chunked hash+histogram: column indices stay cache-resident
        # instead of round-tripping n*8 bytes through DRAM per depth row
        accumulate_into(arr, self.cfg.row_seeds, self.cfg.width, self.table,
                        weights=agg)

    def update_unique(self, uniq, counts) -> None:
        """Duplicate-collapsed update: ``uniq`` MUST be duplicate-free,
        ``counts`` its multiplicities. Byte-identical to ``update_batch``
        of the expanded multiset — callers that already hold one shared
        unique pass (MultiSketch) skip this sketch's internal sort."""
        uniq = np.asarray(uniq)
        if uniq.shape[0] == 0:
            return
        c = np.asarray(counts, dtype=np.int64)
        n = int(c.sum())
        self.n_items += n
        self.total_count += n
        accumulate_into(uniq, self.cfg.row_seeds, self.cfg.width,
                        self.table, weights=c)

    def update_batch_cu(self, keys, counts=None) -> None:
        """Conservative update (Estan & Varghese 2002): counter_j(i) :=
        max(counter_j(i), pointQuery(i) + c). Not in the reference; north-rule
        addition. Duplicates within the batch are pre-aggregated, then unique
        keys are applied sequentially (CU is order-sensitive across colliding
        keys, so this path trades speed for accuracy — standard `update_batch`
        is the default hot path). Requires non-negative counts.
        """
        keys_u64 = tokens_to_u64(np.asarray(keys))
        if keys_u64.shape[0] == 0:
            return
        if counts is None:
            c = np.ones(keys_u64.shape[0], dtype=np.int64)
        else:
            c = np.asarray(counts, dtype=np.int64)
        if np.any(c < 0):
            raise ValueError("conservative update requires non-negative counts")
        uniq, inv = np.unique(keys_u64, return_inverse=True)
        agg = np.bincount(inv, weights=c).astype(np.int64)
        cols = self._columns(uniq)  # (d, m)
        t = self.table
        d = self.cfg.depth
        rows = np.arange(d)
        # CU is order-sensitive ONLY between keys sharing a counter. Keys
        # of a chunk with no intra-chunk counter collision don't interact,
        # so applying them vectorized is BIT-IDENTICAL to the sequential
        # order (pinned by test_cu_chunked_equals_sequential); chunks with
        # a collision fall back to the scalar order. Measured 4-5x over
        # the pure scalar loop at practical widths (0.2 -> 0.9-1.0 M
        # uniques/s); standard update_batch remains the bound-bearing
        # hot path.
        # chunk size tuned so ~e^{-d*B^2/2w} of chunks stay collision-free
        B = max(8, min(1024, int(math.isqrt(self.cfg.width) // 3)))
        m = uniq.shape[0]
        i = 0
        while i < m:
            j = min(i + B, m)
            cc = cols[:, i:j]
            b = j - i
            clean = b > 1
            if clean:
                srt = np.sort(cc, axis=1)
                clean = not (srt[:, 1:] == srt[:, :-1]).any()
            if clean:
                cur = t[rows[:, None], cc]             # (d, b)
                new = cur.min(axis=0) + agg[i:j]
                np.maximum(cur, new[None, :], out=cur)
                t[rows[:, None], cc] = cur
            else:
                for k in range(i, j):
                    ci = cols[:, k]
                    cur = t[rows, ci]
                    new = cur.min() + agg[k]
                    np.maximum(cur, new, out=cur)
                    t[rows, ci] = cur
            i = j
        self.n_items += int(keys_u64.shape[0])
        self.total_count += int(c.sum())

    # -- queries -------------------------------------------------------------
    def point_query(self, key: int) -> int:
        """min over d probed counters (cm.h:541-548)."""
        return int(self.point_query_batch(np.array([key], dtype=np.uint64))[0])

    def point_query_batch(self, keys) -> np.ndarray:
        keys_u64 = tokens_to_u64(np.asarray(keys))
        if keys_u64.shape[0] == 0:
            return np.zeros(0, dtype=np.int64)
        cols = self._columns(keys_u64)
        est = self.table[0, cols[0]]
        for j in range(1, self.cfg.depth):
            est = np.minimum(est, self.table[j, cols[j]])
        return est.astype(np.int64)

    def row_probe_sums(self, keys) -> np.ndarray:
        """(d,) int64 — per-row Σ over keys of the probed counter
        ``table[j, h_j(key)]`` (duplicates counted per occurrence). This is
        the partial term of the sketch × raw-log inner product (cm.h:723-785):
        min over rows of the summed probes estimates |R ⋈ S| where R is the
        raw key stream. Σ_t f_R(t)·table[j,h_j(t)] equals the row-j dot
        product with a sketch built from R, so partials sum across partitions
        and the final min matches the two-sketch estimate exactly."""
        keys_u64 = tokens_to_u64(np.asarray(keys))
        out = np.zeros(self.cfg.depth, dtype=np.int64)
        # pre-aggregate duplicates per CHUNK: skewed streams are ~90% dupes
        # so the gather touches each distinct counter once — but a single
        # np.unique over the whole batch is an n·8-byte sort whose DRAM
        # temporaries dominate on busy multi-worker hosts; 256k-element
        # chunks keep the sort working set near-cache-resident (same
        # rationale as hashing.accumulate_into's fused chunks)
        chunk = 1 << 18
        for off in range(0, keys_u64.shape[0], chunk):
            uniq, cnt = np.unique(keys_u64[off:off + chunk],
                                  return_counts=True)
            cols = self._columns(uniq)
            for j in range(self.cfg.depth):
                out[j] += int(np.dot(self.table[j, cols[j]], cnt))
        return out

    def inner_product(self, other: "CountMinSketch") -> int:
        """min over rows of per-row dot products (cm.h:810-815) — estimates
        the equi-join size |R ⋈ S| of the two underlying streams."""
        self._check_mergeable(other)
        # int64 einsum wraps silently once per-row dots pass 2^63 (reached
        # around total_count ~ 10^12 at headline eps); detect via a float64
        # pass and fall back to exact Python-int accumulation there
        approx = np.einsum("dw,dw->d", self.table.astype(np.float64),
                           other.table.astype(np.float64))
        if approx.max(initial=0.0) < 2.0**62:
            dots = np.einsum("dw,dw->d", self.table, other.table)
            return int(dots.min())
        best = None
        for j in range(self.cfg.depth):
            s = sum(int(a) * int(b)
                    for a, b in zip(self.table[j].tolist(),
                                    other.table[j].tolist()))
            best = s if best is None else min(best, s)
        return int(best)

    # -- algebra ------------------------------------------------------------
    def _check_mergeable(self, other: "CountMinSketch") -> None:
        if not isinstance(other, CountMinSketch):
            raise ValueError(f"cannot merge CountMinSketch with {type(other).__name__}")
        if self.cfg != other.cfg:
            raise ValueError(
                f"sketch configs differ: {self.cfg} vs {other.cfg}")

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        """In-place elementwise add (cm.h:849-857). Associative+commutative →
        byte-identical result for any merge order."""
        self._check_mergeable(other)
        self.table += other.table
        self.n_items += other.n_items
        self.total_count += other.total_count
        return self

    def subtract(self, other: "CountMinSketch") -> "CountMinSketch":
        """In-place elementwise subtract — merge inverted. CM is a LINEAR
        sketch (the table is a sum of per-item contributions), so for two
        snapshots of the SAME append-only stream, new.subtract(old) is
        bit-for-bit the sketch of the appended delta: table_new =
        table_old + table_delta exactly (the merge identity), hence
        table_new − table_old = table_delta, and every CM guarantee
        (one-sided error ≤ ε·‖f_delta‖₁ w.p. ≥ 1−δ) holds on the delta.

        ``other`` must be a prefix snapshot: any counter going negative
        means the operands are NOT snapshots of one stream (or are
        swapped), and the result would not be a valid CM — refused, with
        self unmodified. Signed differences of unrelated streams belong
        to CountSketch.subtract, whose estimates are unbiased under
        negative counts."""
        self._check_mergeable(other)
        if (int(other.n_items) > int(self.n_items)
                or np.any(self.table < other.table)):
            raise ValueError(
                "subtrahend is not a prefix snapshot of this sketch "
                "(a counter would go negative); CM subtraction is only "
                "exact for snapshots of one append-only stream")
        self.table -= other.table
        self.n_items -= other.n_items
        self.total_count -= other.total_count
        return self

    def clear(self) -> None:  # cm.h:818-822
        self.table[:] = 0
        self.n_items = 0
        self.total_count = 0

    def nbytes(self) -> int:  # getMem analogue, cm.h:319-322
        return self.table.nbytes + 4 * self.cfg.depth

    # -- serialization (deterministic; little-endian, C-order) ---------------
    def to_bytes(self) -> bytes:
        cfg = self.cfg
        head = struct.pack(
            "<4sHHqqddqqq",
            _MAGIC, _VERSION, 0,
            cfg.width, cfg.depth,
            cfg.eps, cfg.delta,
            cfg.seed, self.n_items, self.total_count,
        )
        seeds = np.asarray(cfg.row_seeds, dtype="<u4").tobytes()
        payload = np.ascontiguousarray(self.table, dtype="<i8").tobytes()
        return head + seeds + payload

    def to_bytes_sparse(self) -> bytes:
        """Sparse (flat-index, value) encoding — the reference's Hashtable
        backend idea (cm.h:199-253) applied where it matters in the Spark
        topology: PARTIAL blobs of grouped builds, where a (partition, key)
        slice touching few distinct tokens would otherwise ship a full
        d×w×8-byte dense table through the merge shuffle. Merge stages
        dispatch by magic, so sparse partials and dense partials mix freely;
        final merged sketches always serialize dense (byte-identity)."""
        cfg = self.cfg
        flat = self.table.ravel()
        idx = np.flatnonzero(flat)
        head = struct.pack(
            "<4sHHqqddqqq",
            _MAGIC_SPARSE, _VERSION, 0,
            cfg.width, cfg.depth,
            cfg.eps, cfg.delta,
            cfg.seed, self.n_items, self.total_count,
        )
        seeds = np.asarray(cfg.row_seeds, dtype="<u4").tobytes()
        nnz = struct.pack("<q", idx.shape[0])
        return (head + seeds + nnz
                + idx.astype("<i8").tobytes()
                + flat[idx].astype("<i8").tobytes())

    def to_bytes_auto(self) -> bytes:
        """Sparse when it is smaller (16 bytes/nonzero vs 8 bytes/counter),
        dense otherwise — used for partial blobs; queries/merges accept
        either form."""
        nnz = int(np.count_nonzero(self.table))
        if 16 * nnz < 8 * self.cfg.depth * self.cfg.width:
            return self.to_bytes_sparse()
        return self.to_bytes()

    @staticmethod
    def from_bytes(buf: bytes) -> "CountMinSketch":
        head_size = struct.calcsize("<4sHHqqddqqq")
        if len(buf) < head_size:
            raise ValueError("bad CountMinSketch serialization (truncated)")
        magic, ver, _, w, d, eps, delta, seed, n_items, total = struct.unpack(
            "<4sHHqqddqqq", buf[:head_size])
        if magic not in (_MAGIC, _MAGIC_SPARSE) or ver != _VERSION:
            raise ValueError("bad CountMinSketch serialization")
        off = head_size
        seeds = tuple(np.frombuffer(buf[off:off + 4 * d], dtype="<u4").tolist())
        off += 4 * d
        if magic == _MAGIC_SPARSE:
            (nnz,) = struct.unpack("<q", buf[off:off + 8])
            off += 8
            idx = np.frombuffer(buf[off:off + 8 * nnz], dtype="<i8")
            off += 8 * nnz
            vals = np.frombuffer(buf[off:off + 8 * nnz], dtype="<i8")
            table = np.zeros(d * w, dtype=np.int64)
            table[idx] = vals
            table = table.reshape(d, w)
        else:
            table = np.frombuffer(buf[off:off + 8 * d * w],
                                  dtype="<i8").reshape(d, w).astype(np.int64)
        cfg = CMConfig(eps=eps, delta=delta, seed=seed)
        assert cfg.width == w and cfg.depth == d and cfg.row_seeds == seeds
        return CountMinSketch(cfg, table, n_items=n_items, total_count=total)
