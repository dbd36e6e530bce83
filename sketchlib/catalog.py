"""Sketch catalog — the engine-level approximate-query router.

A :class:`SketchCatalog` turns the durable sketch store into a queryable
metadata layer. Register a ``(table, column)`` once with the sketch
kinds you want; the catalog then

- maintains ONE :class:`~sketchlib.multi.MultiSketch` over that column
  (all kinds built in a single scan, refreshed with DELTA-ONLY scans via
  :func:`sketchlib.incremental.incremental_build` — appended files only);
- answers approximate queries (count-distinct, frequency, top-k,
  quantile, membership, cross-table overlap) from KB-scale blobs instead
  of table scans, each answer carrying an explicit error contract;
- tracks freshness against the table's file manifest and applies a
  staleness policy per answer: ``auto`` (fold the delta, then answer),
  ``refuse`` (raise), or ``stale_ok`` (answer with the stale-file count
  attached).

At 100 TB this is the difference between answering
``COUNT(DISTINCT col)`` with a full-corpus scan and answering it from a
32 KB theta blob the store already holds — and the incremental manifest
means keeping that blob fresh costs one scan of the appended files, not
the table. The registration spec is persisted in the store's metadata,
so a catalog reopened in a new session (or on a different driver)
rediscovers every entry without re-registration.

No counterpart in the reference — CountMinDB (cm.h) is a single sketch
with no store or catalog; this layer composes sketchlib's store,
incremental-maintenance and MultiSketch contracts into the "analytics
engine" surface.
"""

from __future__ import annotations

import functools
import json
import math
import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from . import store
from .bloom import BloomFilter
from .countmin import CMConfig, CountMinSketch
from .countsketch import CSConfig, CountSketch
from .psample import PrioritySample
from .ddsketch import DDSketch
from .dyadic import DyadicCM
from .hll import HllSketch
from .incremental import (_current_files, _diff_files,
                          _grouped_manifest_state, _manifest_state,
                          current_group_sketches, grouped_epoch,
                          incremental_build, incremental_build_grouped)
from .kll import KllSketch
from .mg import MisraGries
from .multi import MultiSketch
from .tdigest import TDigest
from .theta import ThetaSketch

_SPEC_VERSION = 1

# kind -> (default params, factory-from-params). Params must stay
# JSON-roundtrippable: the spec is persisted in the store meta and the
# factory is rebuilt from it on reopen — a param that doesn't survive
# json.loads(json.dumps(...)) would silently change the sketch config
# between sessions, which merge() would then refuse.
_KINDS: dict[str, tuple[dict, object]] = {
    "cm": ({"eps": 1e-4, "delta": math.exp(-3), "seed": 1337},
           lambda p: functools.partial(
               CountMinSketch,
               CMConfig(p["eps"], p["delta"], seed=p["seed"]))),
    "hll": ({"p": 14, "seed": 1337},
            lambda p: functools.partial(HllSketch, p["p"], p["seed"])),
    "theta": ({"k": 4096, "seed": 1337},
              lambda p: functools.partial(ThetaSketch, p["k"], p["seed"])),
    "mg": ({"k": 1024},
           lambda p: functools.partial(MisraGries, p["k"])),
    "bloom": ({"capacity": 1_000_000, "fpr": 0.01, "seed": 1337},
              lambda p: functools.partial(
                  BloomFilter, capacity=p["capacity"], fpr=p["fpr"],
                  seed=p["seed"])),
    "kll": ({"k": 200},
            lambda p: functools.partial(KllSketch, p["k"])),
    "dyadic": ({"universe_bits": 31, "eps": 1e-4,
                "delta": math.exp(-3), "seed": 1337},
               lambda p: functools.partial(
                   DyadicCM, p["universe_bits"], p["eps"], p["delta"],
                   p["seed"])),
    "tdigest": ({"delta": 200.0},
                lambda p: functools.partial(TDigest, p["delta"])),
    "dd": ({"alpha": 0.01},
           lambda p: functools.partial(DDSketch, p["alpha"])),
    "cs": ({"width": 8192, "depth": 5, "seed": 1337},
           lambda p: functools.partial(
               CountSketch,
               CSConfig(width=p["width"], depth=p["depth"],
                        seed=p["seed"]))),
}


def _normalize_kinds(kinds) -> list[dict]:
    out = []
    for k in kinds:
        if isinstance(k, str):
            kind, params = k, {}
        elif isinstance(k, dict):
            kind, params = k["kind"], {x: v for x, v in k.items()
                                       if x != "kind"}
        else:
            kind, params = k  # (kind, params) tuple
        if kind not in _KINDS:
            raise ValueError(
                f"unknown sketch kind {kind!r}; known: {sorted(_KINDS)}")
        defaults, _ = _KINDS[kind]
        bad = set(params) - set(defaults)
        if bad:
            raise ValueError(f"kind {kind!r} has no params {sorted(bad)}; "
                             f"accepted: {sorted(defaults)}")
        out.append({"kind": kind, "params": {**defaults, **params}})
    if not out:
        raise ValueError("register() needs at least one sketch kind")
    dup = [k["kind"] for k in out]
    if len(set(dup)) != len(dup):
        raise ValueError(f"duplicate kinds in registration: {dup}")
    return out



# verb -> preference-ordered sketch kinds that can serve it; the FIRST
# kind present in the entry's registered spec answers. One table shared
# by the answer methods and explain(), so the provenance report can
# never disagree with actual routing.
_VERB_ROUTES = {
    "count_distinct": ("theta", "hll"),
    "frequency": ("cm",),
    "frequency_unbiased": ("cs",),
    "second_moment": ("cs",),
    "member": ("bloom",),
    "topk": ("mg",),
    "quantile": ("kll", "tdigest", "dd"),
    "range_count": ("dyadic",),
    "key_quantile": ("dyadic",),
    "drift": ("mg",),
    "top_movers": ("mg",),
}

def _factory_from_spec(spec: dict):
    parts = tuple(_KINDS[e["kind"]][1](e["params"])
                  for e in spec["kinds"])
    return functools.partial(MultiSketch, parts)


def _part(meta: dict, ms: MultiSketch, *wanted: str):
    """(kind, part): the first of ``wanted`` registered in the entry's
    spec, and its part of the MultiSketch — the one routing rule of the
    Python verbs and the SQL functions."""
    spec_kinds = [e["kind"] for e in meta["catalog_spec"]["kinds"]]
    for w in wanted:
        if w in spec_kinds:
            return w, ms.parts[spec_kinds.index(w)]
    raise KeyError(
        f"none of {list(wanted)} registered for this column "
        f"(registered kinds: {spec_kinds})")


@dataclass
class Answer:
    """One catalog answer: the value plus everything a caller needs to
    decide whether to trust it — the error contract of the sketch that
    produced it, the data it covers, and how stale that coverage is."""
    value: object
    kind: str
    contract: str
    table: str
    column: str
    seq: int
    covered_rows: int          # table rows the sketch has folded
    stale_files: int           # appended files NOT yet folded (0 = fresh)
    refreshed: bool            # True when this call folded a delta first
    sketch_bytes: int
    extra: dict = field(default_factory=dict)


class SketchCatalog:
    """Approximate-query router over a durable sketch store.

    ``policy`` (default ``"auto"``) governs answers against stale
    entries: ``auto`` folds the appended files first (delta scan only),
    ``refuse`` raises ``StaleEntryError``, ``stale_ok`` answers from the
    stale sketch and reports ``stale_files`` in the Answer. Per-call
    ``policy=`` overrides the default.
    """

    def __init__(self, spark: SparkSession, store_path: str, *,
                 policy: str = "auto") -> None:
        if policy not in ("auto", "refuse", "stale_ok"):
            raise ValueError(f"unknown staleness policy {policy!r}")
        self.spark = spark
        self.store_path = store_path
        self.policy = policy

    # -- naming ----------------------------------------------------------

    @staticmethod
    def _name(table_path: str, column: str) -> str:
        import hashlib
        key = hashlib.sha256(
            os.path.abspath(table_path).encode()).hexdigest()[:12]
        return f"catalog/{key}/{column}"

    # -- registration ----------------------------------------------------

    def register(self, table_path: str, column: str, kinds, *,
                 rebuild: bool = False) -> Answer:
        """Register (or re-register with ``rebuild=True``) a column and
        build its sketches. Registering an existing entry with the SAME
        spec is an idempotent refresh; a DIFFERENT spec without
        ``rebuild`` raises — silently swapping sketch configs under an
        incremental merge would corrupt the estimates."""
        spec = {"version": _SPEC_VERSION, "column": column,
                "kinds": _normalize_kinds(kinds)}
        name = self._name(table_path, column)
        prev = store.latest_entry(self.spark, self.store_path, name)
        if prev is not None and not rebuild:
            old = prev[1].get("catalog_spec")
            if old is not None and old != spec:
                raise ValueError(
                    f"{table_path}:{column} is already registered with a "
                    "different spec; pass rebuild=True to replace it.\n"
                    f"  registered: {json.dumps(old, sort_keys=True)}\n"
                    f"  requested:  {json.dumps(spec, sort_keys=True)}")
        return self._refresh(table_path, column, spec, rebuild=rebuild)

    def _fold(self, table_path: str, column: str, spec: dict, *,
              rebuild: bool = False):
        return incremental_build(
            self.spark, table_path, column, _factory_from_spec(spec),
            store_path=self.store_path,
            name=self._name(table_path, column), rebuild=rebuild,
            meta={"catalog_spec": spec,
                  "table_path": os.path.abspath(table_path),
                  "column": column})

    def _refresh(self, table_path: str, column: str, spec: dict, *,
                 rebuild: bool = False) -> Answer:
        res = self._fold(table_path, column, spec, rebuild=rebuild)
        return Answer(value=None, kind="refresh",
                      contract="delta-only incremental fold",
                      table=table_path, column=column, seq=res.seq,
                      covered_rows=int(res.meta.get("table_rows", -1)),
                      stale_files=0,
                      refreshed=res.new_files > 0,
                      sketch_bytes=res.sketch.nbytes(),
                      extra={"new_files": res.new_files,
                             "new_rows": res.new_rows})

    def refresh(self, table_path: str, column: str) -> Answer:
        """Bring a registered entry up to date (delta scan only)."""
        spec = self._spec(table_path, column)
        return self._refresh(table_path, column, spec)

    # -- lookup / freshness -----------------------------------------------

    def _spec(self, table_path: str, column: str) -> dict:
        name = self._name(table_path, column)
        entry = store.latest_entry(self.spark, self.store_path, name)
        if entry is None or "catalog_spec" not in entry[1]:
            raise KeyError(
                f"{table_path}:{column} is not registered in this catalog "
                f"(store: {self.store_path}); call register() first")
        return entry[1]["catalog_spec"]

    def stale_files(self, table_path: str, column: str) -> int:
        """Files appended to the table since the entry last folded."""
        name = self._name(table_path, column)
        entry = store.latest_entry(self.spark, self.store_path, name)
        if entry is None:
            raise KeyError(f"{table_path}:{column} is not registered")
        return self._stale_from(name, entry[1], table_path)

    def _stale_from(self, name: str, meta: dict, table_path: str) -> int:
        """Staleness diff from an already-loaded meta (no extra store
        read of the sketches table — answers call this on the row they
        just loaded)."""
        base_seq = int(meta.get("manifest_base", 0))
        ingested = _manifest_state(self.store_path, name, base_seq)
        current = _current_files(table_path)
        return len(_diff_files(current, ingested, table_path, name))

    def _entry(self, table_path: str, column: str,
               policy: str | None) -> tuple[int, dict, MultiSketch,
                                            int, bool]:
        """(seq, meta, sketch, stale_files, refreshed) under policy."""
        policy = policy or self.policy
        name = self._name(table_path, column)
        loaded = store.latest_sketch(self.spark, self.store_path, name)
        if loaded is None or "catalog_spec" not in loaded[1]:
            raise KeyError(
                f"{table_path}:{column} is not registered in this catalog "
                f"(store: {self.store_path}); call register() first")
        stale = self._stale_from(name, loaded[1], table_path)
        refreshed = False
        if stale and policy == "refuse":
            raise StaleEntryError(
                f"{table_path}:{column} is stale by {stale} file(s); "
                "refresh() it or answer with policy='stale_ok'/'auto'")
        if stale and policy == "auto":
            # answer from the row the fold just published, not a re-read
            res = self._fold(table_path, column, loaded[1]["catalog_spec"])
            loaded = (res.seq, res.meta, res.sketch)
            stale, refreshed = 0, True
        return loaded[0], loaded[1], loaded[2], stale, refreshed

    def _answer(self, table_path, column, policy, wanted, make,
                via=None):
        """``via=<group_col>`` answers the GLOBAL question from the
        grouped fleet registered under that group column instead of a
        global entry: the committed fleet's sketches tree-merge
        distributedly (mergeability is the whole contract — sum for CM,
        register-max for HLL, k-smallest-union for theta) and the merged
        MultiSketch serves the same verb closures. CM/HLL/theta merges
        are ORDER-INDEPENDENT, so a via= answer is byte-identical to a
        global entry built over the same rows (test-pinned); MG/KLL/
        t-digest/DD merges are order-dependent in bytes but their error
        contracts hold for any merge order. No table scan either way —
        a fleet of G store rows answers global questions without
        maintaining a separate global entry."""
        if via is None:
            seq, meta, ms, stale, refreshed = self._entry(
                table_path, column, policy)
            covered = int(meta.get("table_rows", -1))
        else:
            spec, stale, refreshed = self._gscope(table_path, via,
                                                  column, policy)
            seq, ms = self._merge_fleet(
                self._gname(table_path, via, column), spec)
            meta, covered = {"catalog_spec": spec}, -1
        kind, part = _part(meta, ms, *wanted)
        value, contract, extra = make(kind, part)
        if via is not None:
            extra = {**extra, "merged_from_fleet": True,
                     "group_col": via}
        return Answer(value=value, kind=kind, contract=contract,
                      table=table_path, column=column, seq=seq,
                      covered_rows=covered,
                      stale_files=stale, refreshed=refreshed,
                      sketch_bytes=part.nbytes(), extra=extra)

    def _merge_fleet(self, name: str, spec: dict) -> tuple[int, MultiSketch]:
        """(epoch, merged MultiSketch) of a committed grouped fleet:
        winner selection and the epoch/base pins run in Spark, each
        partition sha-verifies and merges its own batch of KB blobs
        inside mapInPandas, and the driver folds only the per-partition
        partials (≤ shuffle-partition count, regardless of G). At a
        G=10^6 fleet the driver sees ~32 blobs, never the fleet."""
        from . import serde

        epoch, base = self._committed(name)
        winners = store.fleet_winners(self.spark, self.store_path, name,
                                      base, epoch)

        def gen(pdfs):
            import pandas as pd
            acc = None
            for pdf in pdfs:
                for nm, blob, sha in zip(pdf["name"], pdf["blob"],
                                         pdf["sha256"]):
                    ms = serde.loads(store._verified(nm, blob, sha))
                    if acc is None:
                        acc = ms
                    else:
                        acc.merge(ms)
            if acc is not None:
                yield pd.DataFrame({"blob": [serde.dumps_partial(acc)]})

        partials = [bytes(r["blob"]) for r in
                    winners.mapInPandas(gen, "blob binary").collect()]
        if not partials:
            raise KeyError(f"{name} has no committed group rows")
        acc = serde.loads(partials[0])
        for blob in partials[1:]:
            acc.merge(serde.loads(blob))
        return int(epoch), acc

    # -- answers -----------------------------------------------------------

    def count_distinct(self, table_path: str, column: str, *,
                       via: str | None = None,
                       policy: str | None = None) -> Answer:
        """Distinct elements in the column (theta preferred: unbiased
        and set-op capable; HLL fallback)."""
        def make(kind, part):
            if kind == "theta":
                return (float(part.estimate()),
                        f"unbiased, rse={part.rse():.4f} (1 sigma)", {})
            est = float(part.estimate())
            rse = 1.04 / math.sqrt(part.m)
            return est, f"rse={rse:.4f} (1 sigma)", {}
        return self._answer(table_path, column, policy,
                            _VERB_ROUTES["count_distinct"], make,
                            via=via)

    def frequency(self, table_path: str, column: str, key: int, *,
                  via: str | None = None,
                  policy: str | None = None) -> Answer:
        """Occurrences of ``key`` — Count-Min one-sided upper bound."""
        def make(kind, part):
            n = int(part.total_count)
            eps, delta = part.cfg.eps, part.cfg.delta
            return (int(part.point_query(int(key))),
                    f"one-sided: exact <= est <= exact + {eps:g}*{n} "
                    f"w.p. >= {1 - delta:.4f}", {"l1": n})
        return self._answer(table_path, column, policy,
                            _VERB_ROUTES["frequency"], make, via=via)

    def frequency_unbiased(self, table_path: str, column: str,
                           key: int, *, via: str | None = None,
                           policy: str | None = None) -> Answer:
        """UNBIASED occurrence estimate of ``key`` (Count-Sketch,
        median-of-rows) — the two-sided companion of ``frequency()``:
        no systematic overcount, error scales with ||f||_2 instead of
        ||f||_1, so tail keys in heavy-skew columns answer far tighter
        than CM's one-sided bound; in exchange the estimate can come in
        BELOW the true count."""
        def make(kind, part):
            sd = math.sqrt(part.f2_estimate() / part.cfg.width)
            return (float(part.point_query(int(key))),
                    "unbiased (median of d rows); per-row sd ~ "
                    f"sqrt(F2/w) ~ {sd:.1f}", {})
        return self._answer(table_path, column, policy,
                            _VERB_ROUTES["frequency_unbiased"], make,
                            via=via)

    def second_moment(self, table_path: str, column: str, *,
                      via: str | None = None,
                      policy: str | None = None) -> Answer:
        """Second frequency moment F2 = Σ f(t)² of the column (AMS via
        Count-Sketch row sums-of-squares, median of d rows) — the
        SELF-JOIN SIZE of the column, the quantity join planners need
        before shuffling anything."""
        def make(kind, part):
            return (float(part.f2_estimate()),
                    "unbiased per row; row variance <= 2*F2^2/w, "
                    f"median of {part.cfg.depth} rows", {})
        return self._answer(table_path, column, policy,
                            _VERB_ROUTES["second_moment"], make,
                            via=via)

    def frequencies(self, table_path: str, column: str, keys, *,
                    via: str | None = None,
                    policy: str | None = None) -> Answer:
        """Batch point queries: ONE store read + freshness check for the
        whole key array (the per-key ``frequency`` loop would re-read the
        store per key). value is an int64 array aligned with ``keys``."""
        import numpy as np

        def make(kind, part):
            n = int(part.total_count)
            eps, delta = part.cfg.eps, part.cfg.delta
            arr = np.asarray(keys, dtype=np.int64)
            return (part.point_query_batch(arr),
                    f"one-sided per key: exact <= est <= exact + "
                    f"{eps:g}*{n} w.p. >= {1 - delta:.4f}", {"l1": n})
        return self._answer(table_path, column, policy,
                            _VERB_ROUTES["frequency"], make, via=via)

    def members(self, table_path: str, column: str, keys, *,
                via: str | None = None,
                policy: str | None = None) -> Answer:
        """Batch membership: ONE store read for the whole key array."""
        import numpy as np

        def make(kind, part):
            arr = np.asarray(keys, dtype=np.int64)
            return (part.contains_batch(arr),
                    f"no false negatives; false-positive rate <= "
                    f"{part.fpr:g} at capacity", {})
        return self._answer(table_path, column, policy,
                            _VERB_ROUTES["member"], make, via=via)

    def topk(self, table_path: str, column: str, k: int = 10, *,
             via: str | None = None,
             policy: str | None = None) -> Answer:
        """Heaviest keys (Misra-Gries): every key with true count above
        the error bound is guaranteed present; survivor counts are
        underestimates by at most that bound."""
        def make(kind, part):
            bound = int(part.error_bound())
            items = part.top_items(k)
            return (items,
                    f"complete above count > {bound}; counts in "
                    f"[reported, reported + {bound}]", {"bound": bound})
        return self._answer(table_path, column, policy,
                            _VERB_ROUTES["topk"], make, via=via)

    def quantile(self, table_path: str, column: str, q: float, *,
                 via: str | None = None,
                 policy: str | None = None) -> Answer:
        """Approximate q-quantile of a numeric column (KLL preferred;
        t-digest / DDSketch fallbacks)."""
        def make(kind, part):
            if kind == "dd":
                return (float(part.quantile(q)),
                        f"relative value error <= {part.alpha:g}", {})
            if kind == "tdigest":
                return (float(part.quantile(q)),
                        "rank error ~ O(1/delta), tightest at the tails",
                        {})
            return (float(part.quantile(q)),
                    f"rank error ~ O(1/k), k={part.k}", {})
        return self._answer(table_path, column, policy,
                            _VERB_ROUTES["quantile"], make, via=via)

    def range_count(self, table_path: str, column: str, lo: int, hi: int,
                    *, via: str | None = None,
                    policy: str | None = None) -> Answer:
        """Occurrences with lo <= key <= hi (dyadic Count-Min: <= 2 point
        queries per level, one-sided like CM but with a per-INTERVAL
        bound — the dyadic decomposition touches at most 2·log₂(U)
        sketch cells, never a scan)."""
        def make(kind, part):
            est, bound = part.range_count_with_bound(int(lo), int(hi))
            return (int(est),
                    f"one-sided: exact <= est <= exact + {bound:.6g} "
                    f"w.p. >= {1 - part.delta:.4f}", {"bound": bound})
        return self._answer(table_path, column, policy,
                            _VERB_ROUTES["range_count"], make, via=via)

    def key_quantile(self, table_path: str, column: str, q: float, *,
                     via: str | None = None,
                     policy: str | None = None) -> Answer:
        """q-quantile of the KEY domain (weighted by occurrence count)
        from a dyadic entry — tree descent over the level sketches, vs
        ``quantile`` which ranks a numeric VALUE column via KLL."""
        def make(kind, part):
            return (int(part.quantile(q)),
                    "rank bracketed by the dyadic prefix bounds "
                    f"(eps={part.eps:g} per level, one-sided)", {})
        return self._answer(table_path, column, policy,
                            _VERB_ROUTES["key_quantile"], make,
                            via=via)

    def member(self, table_path: str, column: str, key: int, *,
               via: str | None = None,
               policy: str | None = None) -> Answer:
        """Bloom membership: False is certain, True has fpr."""
        def make(kind, part):
            return (bool(part.contains(int(key))),
                    f"no false negatives; false-positive rate <= "
                    f"{part.fpr:g} at capacity", {})
        return self._answer(table_path, column, policy,
                            _VERB_ROUTES["member"], make, via=via)

    def drift(self, table_path: str, column: str, seq_old: int,
              seq_new: int | None = None, *,
              policy: str | None = None) -> Answer:
        """Certified total-variation envelope between two PUBLISHED
        epochs of this entry (drift.tv_bounds over their Misra-Gries
        parts): has the column's distribution moved since seq_old? Two
        KB-scale store reads, no scan — the store keeps every epoch, so
        drift monitoring is free analytics over refresh history.
        ``seq_new`` defaults to the current epoch under ``policy``
        (auto folds appends first, so 'now' means NOW)."""
        from .drift import tv_bounds

        name = self._name(table_path, column)
        if seq_new is None:
            seq_new, meta, ms, stale, refreshed = self._entry(
                table_path, column, policy)
        else:
            loaded = store.latest_sketch(self.spark, self.store_path,
                                         name, seq=seq_new)
            if loaded is None:
                raise KeyError(f"{table_path}:{column} has no epoch "
                               f"{seq_new}")
            _, meta, ms = loaded
            stale, refreshed = 0, False
        old = store.latest_sketch(self.spark, self.store_path, name,
                                  seq=seq_old)
        if old is None:
            raise KeyError(f"{table_path}:{column} has no epoch "
                           f"{seq_old} (pruned or never published)")
        _, mg_new = _part(meta, ms, "mg")
        _, mg_old = _part({"catalog_spec":
                                old[1]["catalog_spec"]}, old[2], "mg")
        b = tv_bounds(mg_old, mg_new)
        return Answer(
            value={"tv_lb": b.tv_lb, "tv_ub": b.tv_ub},
            kind="mg", contract="certified envelope: tv_lb <= "
            "TV(epoch_old, epoch_new) <= tv_ub (sound for any merge "
            "order; collapses to exact TV when distinct <= k)",
            table=table_path, column=column, seq=seq_new,
            covered_rows=int(meta.get("table_rows", -1)),
            stale_files=stale, refreshed=refreshed,
            sketch_bytes=mg_old.nbytes() + mg_new.nbytes(),
            extra={"seq_old": seq_old, "n_old": int(b.n_a),
                   "n_new": int(b.n_b),
                   "candidates": int(b.n_candidates)})

    def top_movers(self, table_path: str, column: str, seq_old: int,
                   seq_new: int | None = None, *, limit: int = 20,
                   policy: str | None = None) -> Answer:
        """Keys with the largest CERTIFIED frequency shift between two
        published epochs (drift.top_movers over their MG parts): only
        shifts that survive the deficit bounds are reported, so every
        listed mover is real. Same two-KB-read cost shape as drift()."""
        from .drift import top_movers as _tm

        d = self.drift(table_path, column, seq_old, seq_new,
                       policy=policy)
        name = self._name(table_path, column)
        old = store.latest_sketch(self.spark, self.store_path, name,
                                  seq=seq_old)
        new = store.latest_sketch(self.spark, self.store_path, name,
                                  seq=d.seq)
        _, mg_old = _part({"catalog_spec":
                                old[1]["catalog_spec"]}, old[2], "mg")
        _, mg_new = _part({"catalog_spec":
                                new[1]["catalog_spec"]}, new[2], "mg")
        movers = _tm(mg_old, mg_new, limit=limit)
        return Answer(
            value=movers, kind="mg",
            contract="certified shifts only: |freq_new - freq_old| > "
            "combined deficit bound; magnitudes are lower bounds",
            table=table_path, column=column, seq=d.seq,
            covered_rows=d.covered_rows, stale_files=d.stale_files,
            refreshed=d.refreshed, sketch_bytes=d.sketch_bytes,
            extra={"seq_old": seq_old, "tv": d.value})

    def overlap(self, table_a: str, col_a: str, table_b: str, col_b: str,
                *, policy: str | None = None) -> Answer:
        """Cross-table set overlap from two theta entries: union /
        intersection / Jaccard estimates without touching either table."""
        _, meta_a, ms_a, stale_a, ref_a = self._entry(table_a, col_a,
                                                      policy)
        seq_b, meta_b, ms_b, stale_b, ref_b = self._entry(table_b, col_b,
                                                          policy)
        _, ta = _part(meta_a, ms_a, "theta")
        _, tb = _part(meta_b, ms_b, "theta")
        union = float(ta.estimate_union(tb))
        inter = float(ta.estimate_intersection(tb))
        jacc = inter / union if union > 0 else 0.0
        return Answer(
            value={"union": union, "intersection": inter,
                   "jaccard": jacc},
            kind="theta", contract=f"rse~{ta.rse():.4f} per estimate "
            "(intersection degrades with smaller overlap)",
            table=f"{table_a}|{table_b}", column=f"{col_a}|{col_b}",
            seq=seq_b, covered_rows=-1,
            stale_files=stale_a + stale_b,
            refreshed=ref_a or ref_b,
            sketch_bytes=ta.nbytes() + tb.nbytes(), extra={})

    # -- grouped entries ----------------------------------------------------
    #
    # One sketch fleet per group value (e.g. per-source corpus profiles),
    # maintained by incremental_build_grouped: a delta that touches 3 of
    # 10k groups reads+writes 3 KB-scale rows. Answers load the COMMITTED
    # full group set (pinned to the rebuild base: no dead groups) — driver
    # fan-in is G x blob, so grouped answers are for group counts that
    # fit a driver dict (same envelope as theta.overlap_matrix's guard).

    @staticmethod
    def _gname(table_path: str, group_col: str, column: str) -> str:
        import hashlib
        key = hashlib.sha256(
            f"{os.path.abspath(table_path)}|{group_col}|{column}"
            .encode()).hexdigest()[:16]
        # grouped names may not contain '/' (rows are "{name}/{group}")
        return f"catalogg-{key}"

    def register_grouped(self, table_path: str, group_col: str,
                         column: str, kinds, *,
                         rebuild: bool = False) -> Answer:
        """Register one sketch set per ``group_col`` value and build the
        fleet (all kinds in one grouped scan). The spec persists in every
        group row's meta, so reopen works exactly like the global path.
        Requires at least one committed group row to rediscover the spec
        — registering over an empty table is refused."""
        spec = {"version": _SPEC_VERSION, "column": column,
                "group_col": group_col, "kinds": _normalize_kinds(kinds)}
        name = self._gname(table_path, group_col, column)
        old = self._gspec(table_path, group_col, column, missing_ok=True)
        if old is not None and old != spec and not rebuild:
            raise ValueError(
                f"{table_path}:{group_col}:{column} is already registered "
                "with a different spec; pass rebuild=True to replace it.\n"
                f"  registered: {json.dumps(old, sort_keys=True)}\n"
                f"  requested:  {json.dumps(spec, sort_keys=True)}")
        return self._refresh_grouped(table_path, group_col, column, spec,
                                     rebuild=rebuild)

    def _refresh_grouped(self, table_path: str, group_col: str,
                         column: str, spec: dict, *,
                         rebuild: bool = False) -> Answer:
        res = incremental_build_grouped(
            self.spark, table_path, group_col, column,
            _factory_from_spec(spec), store_path=self.store_path,
            name=self._gname(table_path, group_col, column),
            rebuild=rebuild,
            meta={"catalog_spec": spec,
                  "table_path": os.path.abspath(table_path),
                  "column": column, "group_col": group_col})
        if res.prev_seq is None and res.updated_groups == 0:
            raise ValueError(
                f"cannot register a grouped entry over an empty table "
                f"({table_path}): no group row would carry the spec")
        return Answer(value=None, kind="refresh_grouped",
                      contract="delta-only grouped incremental fold",
                      table=table_path, column=column, seq=res.seq,
                      covered_rows=-1, stale_files=0,
                      refreshed=res.new_files > 0, sketch_bytes=0,
                      extra={"new_files": res.new_files,
                             "new_rows": res.new_rows,
                             "updated_groups": res.updated_groups,
                             "group_col": group_col})

    def refresh_grouped(self, table_path: str, group_col: str,
                        column: str) -> Answer:
        spec = self._gspec(table_path, group_col, column)
        if spec.get("file_index"):
            return self._refresh_file_index(table_path, spec)
        return self._refresh_grouped(table_path, group_col, column, spec)

    def _gspec(self, table_path: str, group_col: str, column: str, *,
               missing_ok: bool = False) -> dict | None:
        """Spec from a COMMITTED group row's meta (all rows of a publish
        carry it), pinned to the committed epoch / rebuild base exactly
        like current_group_sketches, so rows of a lineage that a
        ``register_grouped(rebuild=True)`` replaced never supply it."""
        spec = self._gspec_at_name(self._gname(table_path, group_col, column))
        if spec is None:
            if missing_ok:
                return None
            raise KeyError(
                f"{table_path}:{group_col}:{column} has no grouped "
                f"registration in this catalog (store: {self.store_path})")
        return spec

    def _gspec_at(self, name: str, epoch: int, base: int) -> dict | None:
        """Spec from the highest group row WITHIN the [base, epoch]
        window — the committed spec of that epoch's lineage. Keys are
        read for the whole window, meta for that one row only."""
        keys = store._winner_rows(self.store_path, prefix=name,
                                  min_seq=base, max_seq=epoch, payload=())
        if not keys:
            return None
        top = max(keys.values(), key=store._rank)
        row = store._winner_rows(self.store_path, names=[top.name],
                                 seq=top.seq, payload=("meta_json",))
        return json.loads(row[top.name].meta_json).get("catalog_spec")

    def _committed(self, name: str) -> tuple[int, int]:
        """(epoch, base) pins of a grouped lineage; KeyError when nothing
        is committed."""
        epoch, base = grouped_epoch(self.spark, self.store_path, name)
        if epoch is None:
            raise KeyError(f"{name} has no committed grouped epoch")
        return epoch, base

    def stale_files_grouped(self, table_path: str, group_col: str,
                            column: str) -> int:
        name = self._gname(table_path, group_col, column)
        self._gspec(table_path, group_col, column)   # registered?
        _, _, ingested = _grouped_manifest_state(self.store_path, name)
        current = _current_files(table_path)
        return len(_diff_files(current, ingested or {}, table_path, name))

    def _gscope(self, table_path: str, group_col: str, column: str,
                policy: str | None) -> tuple[dict, int, bool]:
        """(spec, stale_files, refreshed) under policy — freshness
        handling WITHOUT loading any sketch row, so answer paths read
        exactly the rows they need afterwards: one winner row for a
        single-group question, a winners DataFrame for a fleet one."""
        policy = policy or self.policy
        spec = self._gspec(table_path, group_col, column)
        stale = self.stale_files_grouped(table_path, group_col, column)
        refreshed = False
        if stale and policy == "refuse":
            raise StaleEntryError(
                f"{table_path}:{group_col}:{column} is stale by {stale} "
                "file(s); refresh_grouped() it or answer with "
                "policy='stale_ok'/'auto'")
        if stale and policy == "auto":
            if spec.get("file_index"):
                self._refresh_file_index(table_path, spec)
            else:
                self._refresh_grouped(table_path, group_col, column,
                                      spec)
            stale, refreshed = 0, True
        return spec, stale, refreshed

    def _gentry(self, table_path: str, group_col: str, column: str,
                policy: str | None):
        spec, stale, refreshed = self._gscope(table_path, group_col,
                                              column, policy)
        name = self._gname(table_path, group_col, column)
        groups = current_group_sketches(self.spark, self.store_path, name)
        return spec, groups, stale, refreshed

    def _grouped_answer(self, table_path, group_col, column, policy,
                        wanted, make, *, group=None, as_df=False):
        """Three answer shapes behind every grouped verb:

        - ``group=<g>`` — a SINGLE-group question reads exactly one
          committed winner row (store.load_group_sketches pushes the
          ``name IN (prefix/g)`` predicate into the parquet scan); the
          fleet is never loaded. O(1) driver bytes at any G.
        - ``as_df=True`` — a FULL-FLEET question evaluated per group
          inside mapInPandas over the committed epoch's winner rows;
          ``Answer.value`` is a lazy (group, ...) DataFrame and no blob
          ever reaches the driver. The shape for G = 10^5-10^6 fleets.
        - default — the small-G convenience: ``{group: value}`` dict,
          driver fan-in G x KB blob (same envelope as
          theta.overlap_matrix's guard)."""
        if group is not None and as_df:
            raise ValueError("group= and as_df=True are exclusive: a "
                             "single-group answer is already one row")
        spec, stale, refreshed = self._gscope(table_path, group_col,
                                              column, policy)
        name = self._gname(table_path, group_col, column)
        meta = {"catalog_spec": spec}
        contract = "per group: " + self._gcontract(spec, make, wanted)

        if group is not None:
            epoch, base = grouped_epoch(self.spark, self.store_path, name)
            g = str(group)
            got = store.load_group_sketches(
                self.spark, self.store_path, name,
                max_seq=epoch, min_seq=base, groups=[g])
            if g not in got:
                raise KeyError(
                    f"group {g!r} has no committed sketch under "
                    f"{table_path}:{group_col}:{column}")
            kind, part = _part(meta, got[g], *wanted)
            return Answer(value=make(part), kind=kind, contract=contract,
                          table=table_path, column=column, seq=epoch,
                          covered_rows=-1, stale_files=stale,
                          refreshed=refreshed,
                          sketch_bytes=part.nbytes(),
                          extra={"group": g, "groups": 1,
                                 "group_col": group_col})

        if as_df:
            kind, value = self._fleet_df(name, spec, make, wanted)
            return Answer(value=value, kind=kind, contract=contract,
                          table=table_path, column=column, seq=-1,
                          covered_rows=-1, stale_files=stale,
                          refreshed=refreshed, sketch_bytes=-1,
                          extra={"groups": -1, "group_col": group_col,
                                 "distributed": True})

        groups = current_group_sketches(self.spark, self.store_path, name)
        value, kind, total_bytes = {}, None, 0
        for g in sorted(groups):
            kind, part = _part(meta, groups[g], *wanted)
            value[g] = make(part)
            total_bytes += part.nbytes()
        return Answer(value=value, kind=kind or wanted[0],
                      contract=contract, table=table_path, column=column,
                      seq=-1, covered_rows=-1, stale_files=stale,
                      refreshed=refreshed, sketch_bytes=total_bytes,
                      extra={"groups": len(groups),
                             "group_col": group_col})

    def _gcontract(self, spec: dict, make, wanted) -> str:
        """Contract string for the kind the spec RESOLVES to (first of
        ``wanted`` registered) — a fleet whose quantile kind resolved to
        t-digest must not report the KLL wording."""
        spec_kinds = [e["kind"] for e in spec["kinds"]]
        kind = next((w for w in wanted if w in spec_kinds), wanted[0])
        by_kind = getattr(make, "contract_by_kind", None)
        if by_kind is not None:
            return by_kind.get(kind, by_kind[None])
        return getattr(make, "contract", "per-group sketch answer")

    def _fleet_df(self, name: str, spec: dict, make, wanted):
        """(kind, DataFrame) — the fleet answer evaluated per group
        inside mapInPandas over the committed epoch's winner rows.
        Winner selection (store.fleet_winners — no blob shuffle) and the
        epoch/base pins happen in Spark BEFORE any blob moves; each task
        then sha-verifies and deserializes only its own batch's KB blobs.
        Driver memory is flat in G."""
        import pandas as pd

        from . import serde

        spec_kinds = [e["kind"] for e in spec["kinds"]]
        resolved = [w for w in wanted if w in spec_kinds]
        if not resolved:
            raise KeyError(
                f"none of {list(wanted)} registered for this column "
                f"(registered kinds: {spec_kinds})")
        kind, idx = resolved[0], spec_kinds.index(resolved[0])
        epoch, base = self._committed(name)
        winners = store.fleet_winners(self.spark, self.store_path, name,
                                      base, epoch)
        row_fn = getattr(make, "df_rows",
                         lambda g, part: [(g, make(part))])
        out_schema = getattr(make, "df_schema", "group string, "
                                                "value double")
        plen = len(name) + 1

        def gen(pdfs):
            cols = [c.split()[0] for c in out_schema.split(",")]
            for pdf in pdfs:
                rows = []
                for nm, blob, sha in zip(pdf["name"], pdf["blob"],
                                         pdf["sha256"]):
                    part = serde.loads(
                        store._verified(nm, blob, sha)).parts[idx]
                    rows.extend(row_fn(nm[plen:], part))
                yield pd.DataFrame(rows, columns=cols)

        return kind, winners.mapInPandas(gen, schema=out_schema)

    def count_distinct_grouped(self, table_path: str, group_col: str,
                               column: str, *, group=None,
                               as_df: bool = False,
                               policy: str | None = None) -> Answer:
        """Distinct estimate per group from the committed fleet.
        ``group=`` answers ONE group from one store row; ``as_df=True``
        answers the whole fleet as a lazy (group, value) DataFrame with
        no driver fan-in; default is the small-G dict."""
        def make(part):
            return float(part.estimate())
        make.contract = "theta unbiased / hll rse=1.04/sqrt(m) (1 sigma)"
        return self._grouped_answer(table_path, group_col, column, policy,
                                    _VERB_ROUTES["count_distinct"], make,
                                    group=group, as_df=as_df)

    def topk_grouped(self, table_path: str, group_col: str, column: str,
                     k: int = 10, *, group=None, as_df: bool = False,
                     policy: str | None = None) -> Answer:
        """Heaviest keys per group (MG); complete above each group's own
        n/(k+1) bound. ``as_df=True`` returns the relational shape
        (group, key, count) — one row per surviving key, ready to join."""
        def make(part):
            return part.top_items(k)
        make.contract = "complete above each group's error_bound()"
        make.df_rows = lambda g, part: [(g, int(key), int(cnt))
                                        for key, cnt in part.top_items(k)]
        make.df_schema = "group string, key long, count long"
        return self._grouped_answer(table_path, group_col, column, policy,
                                    _VERB_ROUTES["topk"], make,
                                    group=group, as_df=as_df)

    def frequency_grouped(self, table_path: str, group_col: str,
                          column: str, key: int, *, group=None,
                          as_df: bool = False,
                          policy: str | None = None) -> Answer:
        """Upper-bound count of ``key`` per group (CM)."""
        def make(part):
            return int(part.point_query(int(key)))
        make.contract = "one-sided: exact <= est <= exact + eps*N_group"
        make.df_rows = lambda g, part: [(g, int(part.point_query(
            int(key))))]
        make.df_schema = "group string, value long"
        return self._grouped_answer(table_path, group_col, column, policy,
                                    _VERB_ROUTES["frequency"], make,
                                    group=group, as_df=as_df)

    def quantile_grouped(self, table_path: str, group_col: str,
                         column: str, q: float, *, group=None,
                         as_df: bool = False,
                         policy: str | None = None) -> Answer:
        """Approximate q-quantile of a numeric column per group. The
        contract reports the kind the registration RESOLVED to — a
        t-digest fleet must not carry the KLL wording."""
        def make(part):
            return float(part.quantile(q))
        make.contract_by_kind = {
            "kll": "rank error ~ O(1/k) per group",
            "tdigest": "rank error ~ O(1/delta) per group, tightest at "
                       "the tails",
            "dd": "relative value error <= alpha per group",
            None: "per-group quantile sketch answer",
        }
        return self._grouped_answer(table_path, group_col, column, policy,
                                    _VERB_ROUTES["quantile"], make,
                                    group=group, as_df=as_df)

    def _mg_part_df(self, name: str, epoch: int, base: int, spec: dict):
        """(key, sketch) DataFrame of the fleet's Misra-Gries parts at a
        committed epoch — winner selection and epoch pins in Spark,
        MG-part extraction per batch in mapInPandas; blobs never reach
        the driver. The input shape drift.grouped_tv_bounds wants."""
        import pandas as pd

        from . import serde

        spec_kinds = [e["kind"] for e in spec["kinds"]]
        if "mg" not in spec_kinds:
            raise KeyError(
                f"epoch {epoch} of {name} has no 'mg' part (registered "
                f"kinds: {spec_kinds}) — grouped drift needs Misra-Gries")
        idx = spec_kinds.index("mg")
        winners = store.fleet_winners(self.spark, self.store_path, name,
                                      base, epoch)
        plen = len(name) + 1

        def gen(pdfs):
            for pdf in pdfs:
                keys, blobs = [], []
                for nm, blob, sha in zip(pdf["name"], pdf["blob"],
                                         pdf["sha256"]):
                    keys.append(nm[plen:])
                    blobs.append(serde.loads(store._verified(
                        nm, blob, sha)).parts[idx].to_bytes())
                yield pd.DataFrame({"key": keys, "sketch": blobs})

        return winners.mapInPandas(gen, schema="key string, sketch binary")

    def _epochs(self, table_path: str, group_col: str, column: str,
                seq_old: int, seq_new: int | None, policy: str | None,
                spec: bool = True):
        """(name, (epoch, base, spec) at ``seq_old``, the same at
        ``seq_new``, stale_files, refreshed) of a fleet's two PUBLISHED
        epochs; ``seq_new`` defaults to the committed epoch after
        ``policy``'s freshness handling. KeyError for an uncommitted
        epoch, or (``spec``) one with no committed group row."""
        from .incremental import grouped_epoch_at
        name = self._gname(table_path, group_col, column)
        stale, refreshed = 0, False
        if seq_new is None:
            _, stale, refreshed = self._gscope(table_path, group_col,
                                               column, policy)
            seq_new, _ = grouped_epoch(self.spark, self.store_path, name)
        pins = []
        for seq in (seq_old, seq_new):
            epoch, base = grouped_epoch_at(self.spark, self.store_path,
                                           name, seq)
            pins.append((epoch, base, spec and self._gspec_at(name, epoch,
                                                              base)))
            if pins[-1][2] is None:
                raise KeyError(
                    f"{table_path}:{group_col}:{column} has no committed "
                    f"group rows for epoch {seq_old} / {seq_new}")
        return (name, *pins, stale, refreshed)

    def drift_grouped(self, table_path: str, group_col: str, column: str,
                      seq_old: int, seq_new: int | None = None, *,
                      policy: str | None = None) -> Answer:
        """Per-group certified TV envelopes between two PUBLISHED epochs
        of a grouped fleet (VERDICT r4 #4) — "which sources moved
        between snapshots?" answered entirely from store rows:
        drift.grouped_tv_bounds pairs each group's Misra-Gries parts
        from the two epochs by equi-join and computes every envelope
        inside mapInPandas. ``Answer.value`` is a lazy DataFrame
        (key, tv_lb, tv_ub, n_candidates, n_a, n_b); zero table scans,
        no G x blob driver fan-in — the fleet counterpart of the global
        ``drift()`` verb. Groups present in only one epoch are omitted
        (a one-sided epoch has no two-sided envelope). ``seq_new``
        defaults to the current committed epoch under ``policy`` (auto
        folds appends first, so 'now' means NOW)."""
        from .drift import grouped_tv_bounds

        name, (old_epoch, old_base, spec_old), (
            new_epoch, new_base, spec_new), stale, refreshed = self._epochs(
                table_path, group_col, column, seq_old, seq_new, policy)
        value = grouped_tv_bounds(
            self._mg_part_df(name, old_epoch, old_base, spec_old),
            self._mg_part_df(name, new_epoch, new_base, spec_new))
        return Answer(
            value=value, kind="mg",
            contract="per group: certified envelope tv_lb <= "
            "TV(epoch_old, epoch_new) <= tv_ub (sound for any merge "
            "order; collapses to exact TV when distinct <= k)",
            table=table_path, column=column, seq=new_epoch,
            covered_rows=-1, stale_files=stale, refreshed=refreshed,
            sketch_bytes=-1,
            extra={"seq_old": old_epoch, "group_col": group_col,
                   "distributed": True})

    def top_movers_grouped(self, table_path: str, group_col: str,
                           column: str, seq_old: int,
                           seq_new: int | None = None, *,
                           group: str | None = None, limit: int = 20,
                           policy: str | None = None) -> Answer:
        """Per-group certified top movers between two PUBLISHED epochs
        of a grouped fleet — "which tokens moved, per source, between
        snapshots?" answered entirely from store rows, the key-level
        companion of ``drift_grouped``.

        - ``group=<g>``: reads exactly TWO committed winner rows (that
          group at each epoch) and runs drift.top_movers driver-side —
          O(1) store rows and driver bytes at any G; ``value`` is the
          mover list [(token, p_old, p_new, shift_lb), ...].
        - fleet (default): drift.grouped_top_movers pairs each group's
          MG parts by equi-join and extracts movers inside mapInPandas;
          ``value`` is a lazy DataFrame (key, token, p_old, p_new,
          shift_lb), up to ``limit`` rows per group, no blob on the
          driver. Groups present in only one epoch are omitted.

        Every reported mover is certified (shift lower bound positive);
        silence is NOT stability — resolution is d_old + d_new."""
        from .drift import grouped_top_movers
        from .drift import top_movers as _tm

        name, (old_epoch, old_base, spec_old), (
            new_epoch, new_base, spec_new), stale, refreshed = self._epochs(
                table_path, group_col, column, seq_old, seq_new, policy)
        contract = ("per group: certified shifts only — "
                    "|p_new - p_old| lower bound positive; magnitudes "
                    "are lower bounds, silence is not stability")

        if group is not None:
            g = str(group)
            pair = []
            for spec, epoch, base in ((spec_old, old_epoch, old_base),
                                      (spec_new, new_epoch, new_base)):
                got = store.load_group_sketches(
                    self.spark, self.store_path, name,
                    max_seq=epoch, min_seq=base, groups=[g])
                if g not in got:
                    raise KeyError(
                        f"group {g!r} has no committed sketch at epoch "
                        f"{epoch} under {table_path}:{group_col}:"
                        f"{column}")
                _, part = _part({"catalog_spec": spec}, got[g],
                                     "mg")
                pair.append(part)
            movers = _tm(pair[0], pair[1], limit=limit)
            return Answer(
                value=movers, kind="mg", contract=contract,
                table=table_path, column=column, seq=new_epoch,
                covered_rows=-1, stale_files=stale, refreshed=refreshed,
                sketch_bytes=pair[0].nbytes() + pair[1].nbytes(),
                extra={"seq_old": old_epoch, "group": g,
                       "group_col": group_col})

        value = grouped_top_movers(
            self._mg_part_df(name, old_epoch, old_base, spec_old),
            self._mg_part_df(name, new_epoch, new_base, spec_new),
            limit=limit)
        return Answer(
            value=value, kind="mg", contract=contract,
            table=table_path, column=column, seq=new_epoch,
            covered_rows=-1, stale_files=stale, refreshed=refreshed,
            sketch_bytes=-1,
            extra={"seq_old": old_epoch, "group_col": group_col,
                   "distributed": True})

    # -- weighted-sample entries --------------------------------------------
    #
    # A PrioritySample registration is row-level, not token-level:
    # (key_col, weight_col[, payload_col]) rows stream through
    # build_aggregator_pairs instead of the MultiSketch token scan, and
    # the published blob answers SUBSET-SUM questions over arbitrary key
    # predicates in O(k) — "how many tokens do docs matching P hold?"
    # without a scan. Maintenance is the same delta-only fold (priority
    # sampling is mergeable and idempotent: same (key, weight) always
    # draws the same priority).

    @staticmethod
    def _sample_col(key_col: str, weight_col: str) -> str:
        return f"{key_col}~{weight_col}"

    def register_sample(self, table_path: str, key_col: str,
                        weight_col: str, *, payload_col: str | None = None,
                        k: int = 256, seed: int = 1337,
                        rebuild: bool = False) -> Answer:
        """Register a weighted row sample over (key_col, weight_col):
        one PrioritySample blob, delta-maintained like every entry.
        Duplicate keys (within a batch or across delta folds) collapse
        to the MAX (weight, payload) instance — the sample's documented
        dedup rule — so re-ingested rows never double-count."""
        import functools as _ft

        spec = {"version": _SPEC_VERSION,
                "sample": {"key_col": key_col, "weight_col": weight_col,
                           "payload_col": payload_col, "k": int(k),
                           "seed": int(seed)}}
        col = self._sample_col(key_col, weight_col)
        name = self._name(table_path, col)
        prev = store.latest_entry(self.spark, self.store_path, name)
        if prev is not None and not rebuild:
            old = prev[1].get("catalog_spec")
            if old is not None and old != spec:
                raise ValueError(
                    f"{table_path}:{col} is already registered with a "
                    "different sample spec; pass rebuild=True.\n"
                    f"  registered: {json.dumps(old, sort_keys=True)}\n"
                    f"  requested:  {json.dumps(spec, sort_keys=True)}")
        factory = _ft.partial(PrioritySample, int(k), int(seed))

        def builder(sp, files):
            from .spark_build import build_aggregator_pairs
            return build_aggregator_pairs(
                sp.read.parquet(*files), key_col, weight_col, factory,
                payload_col=payload_col)

        res = incremental_build(
            self.spark, table_path, col, factory,
            store_path=self.store_path, name=name, rebuild=rebuild,
            builder=builder,
            meta={"catalog_spec": spec,
                  "table_path": os.path.abspath(table_path),
                  "column": col})
        return Answer(value=None, kind="refresh_sample",
                      contract="delta-only incremental sample fold",
                      table=table_path, column=col, seq=res.seq,
                      covered_rows=int(res.meta.get("table_rows", -1)),
                      stale_files=0, refreshed=res.new_files > 0,
                      sketch_bytes=res.sketch.nbytes(),
                      extra={"new_files": res.new_files,
                             "new_rows": res.new_rows})

    def _sample_entry(self, table_path: str, key_col: str,
                      weight_col: str, policy: str | None):
        policy = policy or self.policy
        col = self._sample_col(key_col, weight_col)
        name = self._name(table_path, col)
        loaded = store.latest_sketch(self.spark, self.store_path, name)
        if loaded is None or "sample" not in (loaded[1].get(
                "catalog_spec") or {}):
            raise KeyError(
                f"{table_path}:({key_col}, {weight_col}) has no sample "
                f"registration (store: {self.store_path}); call "
                "register_sample() first")
        stale = self._stale_from(name, loaded[1], table_path)
        refreshed = False
        if stale and policy == "refuse":
            raise StaleEntryError(
                f"{table_path}:{col} sample is stale by {stale} "
                "file(s); register_sample() again or answer with "
                "policy='stale_ok'/'auto'")
        if stale and policy == "auto":
            s = loaded[1]["catalog_spec"]["sample"]
            self.register_sample(table_path, key_col, weight_col,
                                 payload_col=s["payload_col"],
                                 k=s["k"], seed=s["seed"])
            loaded = store.latest_sketch(self.spark, self.store_path,
                                         name)
            stale, refreshed = 0, True
        return loaded[0], loaded[1], loaded[2], stale, refreshed

    def _sample_answer(self, table_path, key_col, weight_col, policy,
                       make) -> Answer:
        seq, meta, ps, stale, refreshed = self._sample_entry(
            table_path, key_col, weight_col, policy)
        value, contract, extra = make(ps)
        return Answer(value=value, kind="psample", contract=contract,
                      table=table_path,
                      column=self._sample_col(key_col, weight_col),
                      seq=seq,
                      covered_rows=int(meta.get("table_rows", -1)),
                      stale_files=stale, refreshed=refreshed,
                      sketch_bytes=ps.nbytes(), extra=extra)

    def subset_sum(self, table_path: str, key_col: str, weight_col: str,
                   pred=None, *, pattern: str | None = None,
                   via: str | None = None,
                   policy: str | None = None) -> Answer:
        """Unbiased subset-sum estimate over an arbitrary key predicate
        — ``pred`` (callable on the key string) or ``pattern`` (fnmatch
        glob, the SQL-shippable form). O(k) on the sampled items; EXACT
        while the sample has never overflowed (threshold None).
        ``via=<group_col>`` answers from the MERGED grouped sample
        fleet instead of a global sample entry: priority sampling is
        mergeable and priorities are deterministic in (key, seed), so
        the merged sample equals a global sample with the same (k,
        seed) over the same rows — answers identical, maintained
        per-group."""
        import fnmatch
        if (pred is None) == (pattern is None):
            raise ValueError("pass exactly one of pred= or pattern=")
        if pattern is not None:
            pred = lambda s: fnmatch.fnmatchcase(s, pattern)  # noqa: E731

        def make(ps):
            exact = ps.threshold is None
            var = ("exact (sample never overflowed)" if exact else
                   f"unbiased; variance within {(ps.k + 1)}/{ps.k - 1} "
                   "of the optimal k-sample (Duffield-Lund-Thorup)")
            return (float(ps.estimate_subset(pred)), var,
                    {"exact_mode": exact, "n_sampled":
                     min(len(ps.keys), ps.k)})
        if via is not None:
            return self._merged_sample_answer(table_path, via, key_col,
                                              weight_col, policy, make)
        return self._sample_answer(table_path, key_col, weight_col,
                                   policy, make)

    def sample_total(self, table_path: str, key_col: str,
                     weight_col: str, *, via: str | None = None,
                     policy: str | None = None) -> Answer:
        """Total weight: the exact folded Σw plus the sample's own
        unbiased estimate of it (their gap is the sampling noise).
        ``via=<group_col>`` merges the grouped sample fleet (Σw sums
        exactly across groups)."""
        def make(ps):
            return ({"exact": float(ps.total_weight),
                     "estimate": float(ps.estimate_total())},
                    "exact Sigma-w tracked exactly; estimate unbiased",
                    {})
        if via is not None:
            return self._merged_sample_answer(table_path, via, key_col,
                                              weight_col, policy, make)
        return self._sample_answer(table_path, key_col, weight_col,
                                   policy, make)

    def _merged_sample_answer(self, table_path: str, group_col: str,
                              key_col: str, weight_col: str, policy,
                              make) -> Answer:
        """Global sample answer from a MERGED grouped sample fleet —
        the psample twin of ``_answer(via=...)``: committed group rows
        tree-merge distributedly (PrioritySample.merge), the driver
        folds only per-partition partials."""
        policy = policy or self.policy
        col = self._sample_col(key_col, weight_col)
        name = self._gname(table_path, group_col, col)
        spec = self._gspec_at_name(name)
        if spec is None or "sample" not in spec:
            raise KeyError(
                f"{table_path}:{group_col}:({key_col}, {weight_col}) "
                "has no grouped sample registration; call "
                "register_sample_grouped() first")
        stale = self.stale_files_grouped(table_path, group_col, col)
        refreshed = False
        if stale and policy == "refuse":
            raise StaleEntryError(
                f"grouped sample is stale by {stale} file(s)")
        if stale and policy == "auto":
            s = spec["sample"]
            self.register_sample_grouped(
                table_path, group_col, key_col, weight_col,
                payload_col=s["payload_col"], k=s["k"], seed=s["seed"])
            stale, refreshed = 0, True
        epoch, ps = self._merge_fleet(name, spec)
        value, contract, extra = make(ps)
        return Answer(value=value, kind="psample", contract=contract,
                      table=table_path, column=col, seq=epoch,
                      covered_rows=-1, stale_files=stale,
                      refreshed=refreshed, sketch_bytes=ps.nbytes(),
                      extra={**extra, "merged_from_fleet": True,
                             "group_col": group_col})

    def sample_group_sums(self, table_path: str, key_col: str,
                          weight_col: str, *,
                          policy: str | None = None) -> Answer:
        """Per-payload-group subset sums (e.g. total tokens per source)
        from the sample alone — requires the entry to have been
        registered with payload_col."""
        def make(ps):
            return (ps.estimate_group_sums(),
                    "unbiased per group; exact while the sample never "
                    "overflowed", {"exact_mode": ps.threshold is None})
        return self._sample_answer(table_path, key_col, weight_col,
                                   policy, make)

    def register_sample_grouped(self, table_path: str, group_col: str,
                                key_col: str, weight_col: str, *,
                                payload_col: str | None = None,
                                k: int = 256, seed: int = 1337,
                                rebuild: bool = False) -> Answer:
        """One weighted row sample PER ``group_col`` value (e.g. a
        per-language document sample), delta-maintained like every
        grouped fleet: an append touching 3 of 10k groups republishes
        3 KB-scale rows. Built via build_grouped_aggregator_pairs
        through the grouped incremental builder hook."""
        import functools as _ft

        spec = {"version": _SPEC_VERSION, "group_col": group_col,
                "sample": {"key_col": key_col, "weight_col": weight_col,
                           "payload_col": payload_col, "k": int(k),
                           "seed": int(seed)}}
        col = self._sample_col(key_col, weight_col)
        name = self._gname(table_path, group_col, col)
        old = self._gspec_at_name(name)
        if old is not None and old != spec and not rebuild:
            raise ValueError(
                f"{table_path}:{group_col}:{col} is already registered "
                "with a different sample spec; pass rebuild=True.\n"
                f"  registered: {json.dumps(old, sort_keys=True)}\n"
                f"  requested:  {json.dumps(spec, sort_keys=True)}")
        factory = _ft.partial(PrioritySample, int(k), int(seed))

        def builder(sp, files):
            from .spark_build import build_grouped_aggregator_pairs
            return build_grouped_aggregator_pairs(
                sp.read.parquet(*files), group_col, key_col, weight_col,
                factory, payload_col=payload_col)

        res = incremental_build_grouped(
            self.spark, table_path, group_col, col, factory,
            store_path=self.store_path, name=name, rebuild=rebuild,
            builder=builder,
            meta={"catalog_spec": spec,
                  "table_path": os.path.abspath(table_path),
                  "column": col, "group_col": group_col})
        if res.prev_seq is None and res.updated_groups == 0:
            raise ValueError(
                f"cannot register a grouped sample over an empty table "
                f"({table_path}): no group row would carry the spec")
        return Answer(value=None, kind="refresh_sample_grouped",
                      contract="delta-only grouped incremental sample "
                               "fold",
                      table=table_path, column=col, seq=res.seq,
                      covered_rows=-1, stale_files=0,
                      refreshed=res.new_files > 0, sketch_bytes=0,
                      extra={"new_files": res.new_files,
                             "new_rows": res.new_rows,
                             "updated_groups": res.updated_groups,
                             "group_col": group_col})

    def _gspec_at_name(self, name: str) -> dict | None:
        """Committed spec of an arbitrary grouped lineage name (shared
        by token fleets and sample fleets)."""
        epoch, base = grouped_epoch(self.spark, self.store_path, name)
        return None if epoch is None else self._gspec_at(name, epoch,
                                                         base)

    def subset_sum_grouped(self, table_path: str, group_col: str,
                           key_col: str, weight_col: str, pred=None, *,
                           pattern: str | None = None,
                           group: str | None = None,
                           policy: str | None = None) -> Answer:
        """Per-group unbiased subset sums over an arbitrary key
        predicate. ``group=<g>`` reads exactly ONE committed winner row;
        default returns the {group: estimate} dict (small-G driver
        convenience, same envelope as the other grouped dict answers)."""
        import fnmatch
        if (pred is None) == (pattern is None):
            raise ValueError("pass exactly one of pred= or pattern=")
        if pattern is not None:
            pred = lambda s: fnmatch.fnmatchcase(s, pattern)  # noqa: E731
        col = self._sample_col(key_col, weight_col)
        name = self._gname(table_path, group_col, col)
        spec = self._gspec_at_name(name)
        if spec is None or "sample" not in spec:
            raise KeyError(
                f"{table_path}:{group_col}:({key_col}, {weight_col}) "
                "has no grouped sample registration; call "
                "register_sample_grouped() first")
        policy = policy or self.policy
        stale = self.stale_files_grouped(table_path, group_col, col)
        refreshed = False
        if stale and policy == "refuse":
            raise StaleEntryError(
                f"grouped sample is stale by {stale} file(s)")
        if stale and policy == "auto":
            s = spec["sample"]
            self.register_sample_grouped(
                table_path, group_col, key_col, weight_col,
                payload_col=s["payload_col"], k=s["k"], seed=s["seed"])
            stale, refreshed = 0, True
        epoch, base = grouped_epoch(self.spark, self.store_path, name)
        contract = ("per group: unbiased subset sum "
                    "(Duffield-Lund-Thorup); exact while that group's "
                    "sample never overflowed")
        if group is not None:
            g = str(group)
            got = store.load_group_sketches(
                self.spark, self.store_path, name,
                max_seq=epoch, min_seq=base, groups=[g])
            if g not in got:
                raise KeyError(
                    f"group {g!r} has no committed sample under "
                    f"{table_path}:{group_col}")
            ps = got[g]
            return Answer(value=float(ps.estimate_subset(pred)),
                          kind="psample", contract=contract,
                          table=table_path, column=col, seq=epoch,
                          covered_rows=-1, stale_files=stale,
                          refreshed=refreshed,
                          sketch_bytes=ps.nbytes(),
                          extra={"group": g, "groups": 1,
                                 "group_col": group_col,
                                 "exact_mode": ps.threshold is None})
        groups = current_group_sketches(self.spark, self.store_path,
                                        name)
        value = {g: float(ps.estimate_subset(pred))
                 for g, ps in sorted(groups.items())}
        return Answer(value=value, kind="psample", contract=contract,
                      table=table_path, column=col, seq=epoch,
                      covered_rows=-1, stale_files=stale,
                      refreshed=refreshed,
                      sketch_bytes=sum(ps.nbytes()
                                       for ps in groups.values()),
                      extra={"groups": len(groups),
                             "group_col": group_col})

    def groups_diff(self, table_path: str, group_col: str, column: str,
                    seq_old: int, seq_new: int | None = None, *,
                    policy: str | None = None) -> Answer:
        """Which groups APPEARED or DISAPPEARED between two PUBLISHED
        epochs of a grouped fleet — the membership companion of
        ``drift_grouped`` (which, like any two-sided envelope, can only
        speak about groups present in BOTH epochs). Store-METADATA
        only: the two epochs' committed row-name sets full-outer-join
        on the group key; no blob is ever deserialized, no table
        scanned. ``Answer.value`` is a lazy DataFrame (key, status)
        with status in {'appeared', 'disappeared'} — empty when the
        fleet membership is unchanged."""
        from pyspark.sql import functions as F

        name, (old_epoch, old_base, _), (new_epoch, new_base, _), stale, \
            refreshed = self._epochs(table_path, group_col, column,
                                     seq_old, seq_new, policy, spec=False)

        def keys_at(epoch, base):
            df = store._spark_table(self.spark, self.store_path, "sketches")
            prefix = name + "/"
            return (df.filter(F.col("name").startswith(prefix))
                    .filter((F.col("seq") >= base)
                            & (F.col("seq") <= epoch))
                    .select(F.expr(f"substring(name, {len(prefix) + 1})")
                            .alias("key"))
                    .distinct())

        old_keys = keys_at(old_epoch, old_base)
        new_keys = keys_at(new_epoch, new_base)
        appeared = (new_keys.join(old_keys, "key", "left_anti")
                    .withColumn("status", F.lit("appeared")))
        gone = (old_keys.join(new_keys, "key", "left_anti")
                .withColumn("status", F.lit("disappeared")))
        return Answer(
            value=appeared.unionByName(gone), kind="metadata",
            contract="exact: committed row-name set difference between "
                     "the two pinned epochs",
            table=table_path, column=column, seq=new_epoch,
            covered_rows=-1, stale_files=stale, refreshed=refreshed,
            sketch_bytes=0,
            extra={"seq_old": old_epoch, "group_col": group_col,
                   "distributed": True})

    # -- per-file data-skipping index ---------------------------------------
    #
    # A file index is a grouped fleet whose group key is the FILE (the
    # incremental manifest's relative path), built file-locally by
    # build_per_file_parquet — no grouping shuffle, and delta folds
    # create only NEW groups (an appended file is its own group), so
    # existing rows never republish. locate() then answers "which files
    # CAN contain key k" from store rows: the Iceberg-metadata-style
    # skip, except the filter is a real Bloom + CM per file, kept fresh
    # by the same manifest the sketches fold from. At 100 TB / ~10^5-10^6
    # files the probe reads KB-scale blobs distributedly instead of
    # scanning the table; a positive is then verified by reading ONLY
    # the candidate files (pruned_read).

    _FILE_GROUP = "__file__"

    @staticmethod
    def _fidx_label(column: str, ng: dict | None) -> str:
        """Index label: the raw column, or the derived n-gram stream —
        distinct labels mean a raw index and an n-gram index over the
        same column coexist as separate entries."""
        return column if not ng else \
            f"{column}~{int(ng['n'])}gram-{int(ng['seed'])}"

    def register_file_index(self, table_path: str, column: str,
                            kinds=("bloom", "cm"), *,
                            ngrams: int | None = None,
                            ngram_seed: int = 1337,
                            rebuild: bool = False) -> Answer:
        """Register (or rebuild) a per-file sketch index over ``column``.
        Default kinds: bloom (the membership skip filter — size it via
        ``("bloom", {"capacity": expected distinct per file})``) + cm
        (per-file one-sided count upper bounds attached to locate()
        candidates). Any registered kind works; locate() requires
        bloom.

        ``ngrams=n`` indexes the DERIVED hashed-n-gram stream instead
        of raw keys (ngrams.array_ngrams — row-bounded windows, the
        decontamination shingle): "which FILES can contain this
        benchmark 13-gram" becomes a store-row probe, the file-level
        triage in front of exact-verify decontamination. Probe keys
        must be hashed with the same (n, seed) — pass the same
        ``ngrams=``/``ngram_seed=`` to locate()/locate_batch()."""
        spec = {"version": _SPEC_VERSION, "column": column,
                "group_col": self._FILE_GROUP, "file_index": True,
                "kinds": _normalize_kinds(kinds)}
        if ngrams is not None:
            spec["ngrams"] = {"n": int(ngrams), "seed": int(ngram_seed)}
        label = self._fidx_label(column, spec.get("ngrams"))
        name = self._gname(table_path, self._FILE_GROUP, label)
        old = self._gspec_at_name(name)
        if old is not None and old != spec and not rebuild:
            raise ValueError(
                f"{table_path}:{label} already has a file index with a "
                "different spec; pass rebuild=True to replace it.\n"
                f"  registered: {json.dumps(old, sort_keys=True)}\n"
                f"  requested:  {json.dumps(spec, sort_keys=True)}")
        return self._refresh_file_index(table_path, spec,
                                        rebuild=rebuild)

    def _refresh_file_index(self, table_path: str, spec: dict, *,
                            rebuild: bool = False) -> Answer:
        column = spec["column"]
        label = self._fidx_label(column, spec.get("ngrams"))
        ng = spec.get("ngrams")
        transform = None
        if ng:
            from .ngrams import array_ngrams
            n_, seed_ = int(ng["n"]), int(ng["seed"])
            transform = lambda col: array_ngrams(col, n_, seed_)  # noqa: E731

        def builder(sp, files):
            from .spark_build import build_per_file_parquet
            return build_per_file_parquet(
                sp, table_path, column, _factory_from_spec(spec),
                files=files, transform=transform)

        res = incremental_build_grouped(
            self.spark, table_path, self._FILE_GROUP, label,
            _factory_from_spec(spec), store_path=self.store_path,
            name=self._gname(table_path, self._FILE_GROUP, label),
            rebuild=rebuild, builder=builder,
            meta={"catalog_spec": spec,
                  "table_path": os.path.abspath(table_path),
                  "column": label, "group_col": self._FILE_GROUP})
        if res.prev_seq is None and res.updated_groups == 0:
            raise ValueError(
                f"cannot register a file index over an empty table "
                f"({table_path}): no file row would carry the spec")
        return Answer(value=None, kind="refresh_file_index",
                      contract="delta-only per-file fold (appended "
                               "files only; existing file rows never "
                               "republish)",
                      table=table_path, column=label, seq=res.seq,
                      covered_rows=-1, stale_files=0,
                      refreshed=res.new_files > 0, sketch_bytes=0,
                      extra={"new_files": res.new_files,
                             "new_rows": res.new_rows,
                             "updated_groups": res.updated_groups})

    def refresh_file_index(self, table_path: str, column: str, *,
                           ngrams: int | None = None,
                           ngram_seed: int = 1337) -> Answer:
        """Fold appended files into the index (new groups only)."""
        ng = None if ngrams is None else {"n": ngrams,
                                          "seed": ngram_seed}
        label = self._fidx_label(column, ng)
        spec = self._gspec(table_path, self._FILE_GROUP, label)
        return self._refresh_file_index(table_path, spec)

    def locate_batch(self, table_path: str, column: str, keys, *,
                     ngrams: int | None = None, ngram_seed: int = 1337,
                     as_df: bool = False,
                     policy: str | None = None) -> Answer:
        """Candidate files that CAN contain each of ``keys`` — the
        data-skipping probe, vectorized: ONE pass over the committed
        fleet rows answers the whole key array (per blob: one
        ``contains_batch`` + one ``point_query_batch``), so probing 10k
        keys costs the same store scan as probing one. NO FALSE
        NEGATIVES per key (Bloom contract); false positives at the
        registered fpr; with a 'cm' kind each (key, file) hit carries
        the file's one-sided count upper bound (−1 otherwise).
        ``as_df=True`` returns the lazy (key, file, count_ub) DataFrame
        (the 10^6-file shape, ready to join); default collects
        ``{key: [(file, count_ub), ...]}`` with ``extra['files_total']``
        the fleet size."""
        import numpy as np

        label = self._fidx_label(
            column, None if ngrams is None
            else {"n": ngrams, "seed": ngram_seed})
        spec, stale, refreshed = self._gscope(
            table_path, self._FILE_GROUP, label, policy)
        name = self._gname(table_path, self._FILE_GROUP, label)
        spec_kinds = [e["kind"] for e in spec["kinds"]]
        if "bloom" not in spec_kinds:
            raise KeyError(
                f"file index on {table_path}:{column} has no 'bloom' "
                f"kind (registered: {spec_kinds}) — locate() needs the "
                "membership filter")
        bidx = spec_kinds.index("bloom")
        cidx = spec_kinds.index("cm") if "cm" in spec_kinds else -1
        fpr = spec["kinds"][bidx]["params"]["fpr"]
        from pyspark.sql import functions as F

        from . import serde
        epoch, base = self._committed(name)
        winners = store.fleet_winners(self.spark, self.store_path, name,
                                      base, epoch)
        plen = len(name) + 1
        karr = np.asarray(list(keys), dtype=np.int64)

        def gen(pdfs):
            import pandas as pd
            for pdf in pdfs:
                # one NULL-file row per batch counts the files probed,
                # so the collect below learns the fleet size for free
                out_k, out_f, out_u = [0], [None], [len(pdf)]
                for nm, blob, sha in zip(pdf["name"], pdf["blob"],
                                         pdf["sha256"]):
                    ms = serde.loads(store._verified(nm, blob, sha))
                    mask = ms.parts[bidx].contains_batch(karr)
                    if mask.any():
                        hits = karr[mask]
                        ubs = (ms.parts[cidx].point_query_batch(hits)
                               if cidx >= 0
                               else np.full(hits.shape, -1,
                                            dtype=np.int64))
                        out_k.extend(int(h) for h in hits)
                        out_f.extend([nm[plen:]] * len(hits))
                        out_u.extend(int(u) for u in ubs)
                yield pd.DataFrame({"key": out_k, "file": out_f,
                                    "count_ub": out_u})

        probe = winners.mapInPandas(
            gen, "key long, file string, count_ub long")
        hits = probe.filter(F.col("file").isNotNull())
        contract = ("no false negatives per key (every file containing "
                    f"it is listed); false positives <= fpr {fpr:g} "
                    "per (key, file); count_ub one-sided per file")
        if as_df:
            return Answer(value=hits, kind="bloom", contract=contract,
                          table=table_path, column=label, seq=epoch,
                          covered_rows=-1, stale_files=stale,
                          refreshed=refreshed, sketch_bytes=-1,
                          extra={"n_keys": int(karr.shape[0]),
                                 "distributed": True})
        total = 0
        value: dict = {int(k): [] for k in karr}
        for r in probe.collect():
            if r["file"] is None:
                total += int(r["count_ub"])
            else:
                value[int(r["key"])].append((r["file"],
                                             int(r["count_ub"])))
        for k in value:
            value[k].sort()
        return Answer(value=value, kind="bloom", contract=contract,
                      table=table_path, column=label, seq=epoch,
                      covered_rows=-1, stale_files=stale,
                      refreshed=refreshed, sketch_bytes=-1,
                      extra={"n_keys": int(karr.shape[0]),
                             "files_total": int(total)})

    def locate(self, table_path: str, column: str, key: int, *,
               ngrams: int | None = None, ngram_seed: int = 1337,
               as_df: bool = False,
               policy: str | None = None) -> Answer:
        """Candidate files that CAN contain ``key`` — single-key
        convenience over :meth:`locate_batch` (same one-pass probe).
        Value is the candidate list [(file, count_ub), ...] sorted by
        file, with ``extra['files_total']`` / ``['files_matched']``;
        ``as_df=True`` returns the lazy (file, count_ub) DataFrame."""
        b = self.locate_batch(table_path, column, [int(key)],
                              ngrams=ngrams, ngram_seed=ngram_seed,
                              as_df=as_df, policy=policy)
        if as_df:
            b.value = b.value.select("file", "count_ub")
            b.extra = {"key": int(key), "distributed": True}
            return b
        cands = b.value[int(key)]
        return Answer(value=cands, kind=b.kind, contract=b.contract,
                      table=b.table, column=b.column, seq=b.seq,
                      covered_rows=-1, stale_files=b.stale_files,
                      refreshed=b.refreshed, sketch_bytes=-1,
                      extra={"key": int(key),
                             "files_total": b.extra["files_total"],
                             "files_matched": len(cands)})

    def pruned_read(self, table_path: str, column: str, key: int, *,
                    ngrams: int | None = None, ngram_seed: int = 1337,
                    policy: str | None = None):
        """DataFrame over ONLY the files that can contain ``key`` — the
        verify side of the skip: exact queries against it return the
        same rows as a full-table read filtered to the key (no false
        negatives), having scanned only the candidate files. Returns an
        empty DataFrame with the table's schema when no file matches."""
        cands = self.locate(table_path, column, key, ngrams=ngrams,
                            ngram_seed=ngram_seed, policy=policy).value
        if not cands:
            return (self.spark.read.parquet(table_path).limit(0))
        return self.spark.read.parquet(
            *[os.path.join(table_path, f) for f, _ in cands])

    # -- introspection ------------------------------------------------------

    # grouped verbs the catalog exposes (count_distinct_grouped, ...)
    _GROUPED_VERBS = ("count_distinct", "topk", "frequency", "quantile",
                      "drift", "top_movers")

    def explain(self, table_path: str, column: str, *,
                group_col: str | None = None) -> dict:
        """Answer provenance WITHOUT reading a single sketch blob: for
        every catalog verb, which registered kind would serve it —
        resolved through the SAME ``_VERB_ROUTES`` preference table the
        answer methods route through, so this report can never disagree
        with actual routing — plus which store row(s) an answer would
        read, the committed seq/epoch it would read them at, and the
        entry's current staleness. Store-metadata reads only; at a
        G=10^6 fleet this costs the same two KB-scale metadata lookups
        as a freshness check, never a blob load or table scan."""
        if group_col is None:
            name = self._name(table_path, column)
            entry = store.latest_entry(self.spark, self.store_path, name)
            if entry is None or "catalog_spec" not in entry[1]:
                raise KeyError(
                    f"{table_path}:{column} is not registered in this "
                    f"catalog (store: {self.store_path})")
            seq, meta = entry
            spec = meta["catalog_spec"]
            stale = self._stale_from(name, meta, table_path)
            covered = int(meta.get("table_rows", -1))
            store_rows = {"answer": f"{name} @ seq {seq} (one row)"}
            if "sample" in spec:
                routes = {v: {"kind": "psample", "available": True,
                              "preference": ["psample"]}
                          for v in ("subset_sum", "sample_total",
                                    "sample_group_sums")}
                return {"name": name,
                        "table_path": os.path.abspath(table_path),
                        "column": column, "group_col": None,
                        "seq": seq, "kinds": ["psample"],
                        "covered_rows": covered, "stale_files": stale,
                        "store_rows": store_rows, "routes": routes}
            verbs = dict(_VERB_ROUTES)
        else:
            name = self._gname(table_path, group_col, column)
            spec = self._gspec(table_path, group_col, column)
            epoch, _base = grouped_epoch(self.spark, self.store_path, name)
            seq = int(epoch)
            stale = self.stale_files_grouped(table_path, group_col, column)
            covered = -1
            store_rows = {
                "single_group": f"{name}/<group> winner row within "
                                f"committed epoch {seq} (one row)",
                "fleet": f"{name}/* winners DataFrame at committed "
                         f"epoch {seq} (distributed, never collected)"}
            if "sample" in spec:
                routes = {"subset_sum": {"kind": "psample",
                                         "available": True,
                                         "preference": ["psample"]}}
                return {"name": name,
                        "table_path": os.path.abspath(table_path),
                        "column": column, "group_col": group_col,
                        "seq": seq, "kinds": ["psample"],
                        "covered_rows": -1, "stale_files": stale,
                        "store_rows": store_rows, "routes": routes}
            if spec.get("file_index"):
                kinds = [e["kind"] for e in spec["kinds"]]
                routes = {"locate": {"kind": "bloom",
                                     "available": "bloom" in kinds,
                                     "preference": ["bloom"]},
                          "pruned_read": {"kind": "bloom",
                                          "available": "bloom" in kinds,
                                          "preference": ["bloom"]}}
                store_rows["probe"] = (f"{name}/* winners probed in "
                                       f"mapInPandas at epoch {seq}")
                return {"name": name,
                        "table_path": os.path.abspath(table_path),
                        "column": column, "group_col": group_col,
                        "seq": seq, "kinds": kinds,
                        "covered_rows": -1, "stale_files": stale,
                        "store_rows": store_rows, "routes": routes}
            verbs = {v: _VERB_ROUTES[v] for v in self._GROUPED_VERBS}
        kinds = [e["kind"] for e in spec["kinds"]]
        routes = {}
        for verb, wanted in sorted(verbs.items()):
            served = next((w for w in wanted if w in kinds), None)
            routes[verb] = {"kind": served,
                            "available": served is not None,
                            "preference": list(wanted)}
        return {"name": name, "table_path": os.path.abspath(table_path),
                "column": column, "group_col": group_col, "seq": seq,
                "kinds": kinds, "covered_rows": covered,
                "stale_files": stale, "store_rows": store_rows,
                "routes": routes}

    def _registrations(self) -> list[dict]:
        """One dict per registration — global entries AND grouped fleets
        (one per fleet, not per group): name, seq, table_path, column,
        group_col, spec, covered_rows. A fleet's spec and seq are its
        committed epoch's, read inside its rebuild base (rows below it
        may carry a replaced spec); fleets with no committed group are
        not listed. Store metadata only: row keys for the whole store,
        meta for one row per registration. Shared with the SQL
        ``catalog_entries()``."""
        best: dict = {}
        for w in store._winner_rows(self.store_path, payload=()).values():
            if w.name.startswith("catalogg-"):
                entry = w.name.split("/", 1)[0]
            elif w.name.startswith("catalog/"):
                entry = w.name
            else:
                continue
            if entry not in best or store._rank(w) > store._rank(
                    best[entry]):
                best[entry] = w
        metas = store._winner_rows(
            self.store_path, names=[w.name for w in best.values()],
            payload=("meta_json",))
        out = []
        for entry in sorted(best):
            meta = json.loads(metas[best[entry].name].meta_json)
            if "catalog_spec" not in meta:
                continue
            spec, seq = meta["catalog_spec"], best[entry].seq
            if meta.get("group_col") is not None:
                spec = self._gspec_at_name(entry)
                if spec is None:
                    continue
                seq = grouped_epoch(self.spark, self.store_path, entry)[0]
            out.append({"name": entry, "seq": int(seq),
                        "table_path": meta["table_path"],
                        "column": meta["column"],
                        "group_col": meta.get("group_col"), "spec": spec,
                        "covered_rows": int(meta.get("table_rows", -1))})
        return out

    def entries(self) -> list[dict]:
        """Every registered (table, column) — global entries AND grouped
        fleets (one row per fleet, not per group): spec, seq, covered
        rows and current staleness. Store-metadata read only (no table
        scans, no Spark job)."""
        out = []
        for r in self._registrations():
            spec = r.pop("spec")
            e = {**r, "kinds": (["psample"] if "sample" in spec
                                else [k["kind"] for k in spec["kinds"]]),
                 "file_index": bool(spec.get("file_index"))}
            try:
                if e["group_col"] is not None:
                    e["stale_files"] = self.stale_files_grouped(
                        e["table_path"], e["group_col"], e["column"])
                else:
                    e["stale_files"] = self.stale_files(e["table_path"],
                                                        e["column"])
            except (KeyError, IOError):
                e["stale_files"] = -1   # table moved/deleted
            out.append(e)
        return out


class StaleEntryError(RuntimeError):
    """Raised by policy='refuse' when an entry lags its table."""
