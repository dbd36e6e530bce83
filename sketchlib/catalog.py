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

Five entry shapes share one path per step: global, grouped fleet
(one sketch per group value), global sample, grouped sample and
per-file index. A registration is a spec; ``_register`` refuses a
different spec for an existing entry and ``_fold`` folds the table's
appended files with the global or grouped incremental build and the
builder the spec's shape takes. Every answer passes one freshness gate
(``_gate``) and routes to a sketch part through ``_part``. Committed
fleet rows are read by three readers: ``_group_row`` (one group),
``_fleet_dict`` (every group, on the driver, up to
``_MAX_DICT_GROUPS``) and ``_stream_fleet`` (every group, inside
mapInPandas); the SQL functions read through the same ones.

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
from .incremental import (_plan, grouped_epoch, grouped_epoch_at,
                          incremental_build, incremental_build_grouped)
from .kll import KllSketch
from .mg import MisraGries
from .multi import MultiSketch
from .spark_build import (build_aggregator_pairs,
                          build_grouped_aggregator_pairs,
                          build_per_file_parquet)
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
    "subset_sum": ("psample",),
    "sample_total": ("psample",),
    "sample_group_sums": ("psample",),
    "locate": ("bloom",),
    "pruned_read": ("bloom",),
}

# entry shape -> (contract of its delta fold, the verbs that answer from
# it — the routes explain() reports)
_SHAPES = {
    "": ("delta-only incremental fold",
         ("count_distinct", "frequency", "frequency_unbiased",
          "second_moment", "member", "topk", "quantile", "range_count",
          "key_quantile", "drift", "top_movers")),
    "grouped": ("delta-only grouped incremental fold",
                ("count_distinct", "topk", "frequency", "quantile",
                 "drift", "top_movers")),
    "sample": ("delta-only incremental sample fold",
               ("subset_sum", "sample_total", "sample_group_sums")),
    "sample_grouped": ("delta-only grouped incremental sample fold",
                       ("subset_sum",)),
    "file_index": ("delta-only per-file fold (appended files only; "
                   "existing file rows never republish)",
                   ("locate", "pruned_read")),
}

# A dict answer decodes every group's blob on the driver: at G=100k
# that took 7.97 s and +73.2 MB of driver RSS (BENCH/fleet_g100k_r5.json).
# Larger fleets answer one group (group=) or as a DataFrame (as_df=True),
# whose cost does not grow on the driver.
_MAX_DICT_GROUPS = 10_000


def _shape(spec: dict) -> str:
    """The key of ``spec``'s entry shape in ``_SHAPES``."""
    if spec.get("file_index"):
        return "file_index"
    sample = "sample" if "sample" in spec else ""
    grouped = "grouped" if "group_col" in spec else ""
    return "_".join(filter(None, (sample, grouped)))


def _kinds(spec: dict) -> list[str]:
    """Registered kinds, in part order; a sample entry's one
    PrioritySample is the kind 'psample'."""
    if "sample" in spec:
        return ["psample"]
    return [e["kind"] for e in spec["kinds"]]


def _factory_from_spec(spec: dict):
    if "sample" in spec:
        s = spec["sample"]
        return functools.partial(PrioritySample, int(s["k"]), int(s["seed"]))
    parts = tuple(_KINDS[e["kind"]][1](e["params"])
                  for e in spec["kinds"])
    return functools.partial(MultiSketch, parts)


def _part(meta: dict, ms, *wanted: str):
    """(kind, part): the first of ``wanted`` registered in the entry's
    spec, and its part of ``ms`` (None when ``ms`` is None: routing
    only) — the one routing rule of the Python verbs, explain() and the
    SQL functions. A sample entry's part is its PrioritySample."""
    spec = meta["catalog_spec"]
    kinds = _kinds(spec)
    for w in wanted:
        if w in kinds:
            if ms is None or "sample" in spec:
                return w, ms
            return w, ms.parts[kinds.index(w)]
    raise KeyError(
        f"none of {list(wanted)} registered for this column "
        f"(registered kinds: {kinds})")


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

    @classmethod
    def _label(cls, spec: dict) -> str:
        """The column label an entry is stored under: the column, a
        sample's ``key~weight`` or a file index's n-gram stream."""
        s = spec.get("sample")
        if s:
            return cls._sample_col(s["key_col"], s["weight_col"])
        return cls._fidx_label(spec["column"], spec.get("ngrams"))

    def _where(self, table_path: str, spec: dict) -> str:
        return ":".join(filter(None, (table_path, spec.get("group_col"),
                                      self._label(spec))))

    def _unregistered(self, table_path: str, group_col: str | None,
                      column: str) -> KeyError:
        """The refusal of a read of an entry nothing registered, naming
        the registration verb its address implies."""
        if group_col == self._FILE_GROUP:
            what, verb = "file index ", "register_file_index"
        else:
            sample = "~" in column      # sample labels are key~weight
            what = ("grouped " if group_col else "") + (
                "sample " if sample else "")
            verb = ("register" + ("_sample" if sample else "")
                    + ("_grouped" if group_col else ""))
        where = ":".join(filter(None, (table_path, group_col, column)))
        return KeyError(
            f"{where} is not registered in this catalog (store: "
            f"{self.store_path}): it has no {what}registration; call "
            f"{verb}() first")

    # -- registration ----------------------------------------------------

    def register(self, table_path: str, column: str, kinds, *,
                 rebuild: bool = False) -> Answer:
        """Register (or re-register with ``rebuild=True``) a column and
        build its sketches. Registering an existing entry with the SAME
        spec is an idempotent refresh; a DIFFERENT spec without
        ``rebuild`` raises — silently swapping sketch configs under an
        incremental merge would corrupt the estimates."""
        return self._register(table_path, {
            "version": _SPEC_VERSION, "column": column,
            "kinds": _normalize_kinds(kinds)}, rebuild)

    def _register(self, table_path: str, spec: dict,
                  rebuild: bool) -> Answer:
        """Every shape's registration: refuse a spec that differs from
        the registered one unless ``rebuild``, then fold."""
        if not rebuild:
            g, label = spec.get("group_col"), self._label(spec)
            if g is not None:
                old = self._gspec(table_path, g, label, missing_ok=True)
            else:
                prev = store.latest_entry(self.spark, self.store_path,
                                          self._name(table_path, label))
                old = None if prev is None else prev[1].get("catalog_spec")
            if old is not None and old != spec:
                what = "sample spec" if "sample" in spec else "spec"
                raise ValueError(
                    f"{self._where(table_path, spec)} is already "
                    f"registered with a different {what}; pass "
                    "rebuild=True to replace it.\n"
                    f"  registered: {json.dumps(old, sort_keys=True)}\n"
                    f"  requested:  {json.dumps(spec, sort_keys=True)}")
        return self._refresh(table_path, spec, rebuild=rebuild)

    def _fold(self, table_path: str, spec: dict, *,
              rebuild: bool = False):
        """Fold the files appended to the table into the entry ``spec``
        describes (every file with ``rebuild``): the global or grouped
        incremental build, run with the builder of the spec's shape.
        Returns the build's result."""
        g, s = spec.get("group_col"), spec.get("sample")
        label, factory = self._label(spec), _factory_from_spec(spec)
        builder = None
        if spec.get("file_index"):
            ng, transform = spec.get("ngrams"), None
            if ng:
                from .ngrams import array_ngrams
                transform = functools.partial(array_ngrams, n=int(ng["n"]),
                                              seed=int(ng["seed"]))

            def builder(sp, files):
                return build_per_file_parquet(
                    sp, table_path, spec["column"], factory, files=files,
                    transform=transform)
        elif s:
            def builder(sp, files):
                df = sp.read.parquet(*files)
                if g is None:
                    return build_aggregator_pairs(
                        df, s["key_col"], s["weight_col"], factory,
                        payload_col=s["payload_col"])
                return build_grouped_aggregator_pairs(
                    df, g, s["key_col"], s["weight_col"], factory,
                    payload_col=s["payload_col"])

        meta = {"catalog_spec": spec,
                "table_path": os.path.abspath(table_path), "column": label}
        kw = dict(store_path=self.store_path, rebuild=rebuild,
                  builder=builder)
        if g is None:
            return incremental_build(
                self.spark, table_path, label, factory, meta=meta,
                name=self._name(table_path, label), **kw)
        res = incremental_build_grouped(
            self.spark, table_path, g, label, factory,
            meta={**meta, "group_col": g},
            name=self._gname(table_path, g, label), **kw)
        if res.prev_seq is None and res.updated_groups == 0:
            raise ValueError(
                f"cannot register {self._where(table_path, spec)} over an "
                "empty table: no group row would carry the spec")
        return res

    def _refresh(self, table_path: str, spec: dict, *,
                 rebuild: bool = False) -> Answer:
        res = self._fold(table_path, spec, rebuild=rebuild)
        shape = _shape(spec)
        extra = {"new_files": res.new_files, "new_rows": res.new_rows}
        if "group_col" in spec:
            covered, nbytes = -1, 0
            extra.update(updated_groups=res.updated_groups,
                         group_col=spec["group_col"])
        else:
            covered = int(res.meta.get("table_rows", -1))
            nbytes = res.sketch.nbytes()
        return Answer(value=None,
                      kind="_".join(filter(None, ("refresh", shape))),
                      contract=_SHAPES[shape][0], table=table_path,
                      column=self._label(spec), seq=res.seq,
                      covered_rows=covered, stale_files=0,
                      refreshed=res.new_files > 0, sketch_bytes=nbytes,
                      extra=extra)

    def refresh(self, table_path: str, column: str) -> Answer:
        """Bring a registered entry up to date (delta scan only)."""
        return self._refresh(table_path, self._spec(table_path, column))

    # -- lookup / freshness -----------------------------------------------

    def _spec(self, table_path: str, column: str) -> dict:
        name = self._name(table_path, column)
        entry = store.latest_entry(self.spark, self.store_path, name)
        if entry is None or "catalog_spec" not in entry[1]:
            raise self._unregistered(table_path, None, column)
        return entry[1]["catalog_spec"]

    def stale_files(self, table_path: str, column: str) -> int:
        """Files appended to the table since the entry last folded."""
        name = self._name(table_path, column)
        entry = store.latest_entry(self.spark, self.store_path, name)
        if entry is None:
            raise self._unregistered(table_path, None, column)
        return self._stale_from(name, table_path)

    def _stale_from(self, name: str, table_path: str) -> int:
        """Files appended since entry ``name`` (of any shape) last
        folded: the size of the delta its next fold would plan — no read
        of the sketches table."""
        return len(_plan(table_path, self.store_path, name, False).new)

    def _gate(self, table_path: str, spec: dict, stale: int,
              policy: str | None):
        """The freshness gate of every answer: with ``stale`` files
        unfolded, ``refuse`` raises, ``auto`` folds them and returns the
        fold's result, ``stale_ok`` (like a fresh entry) returns None."""
        policy = policy or self.policy
        if stale and policy == "refuse":
            raise StaleEntryError(
                f"{self._where(table_path, spec)} is stale by {stale} "
                "file(s); refresh it or answer with "
                "policy='stale_ok'/'auto'")
        if stale and policy == "auto":
            return self._fold(table_path, spec)
        return None

    def _entry(self, table_path: str, column: str,
               policy: str | None) -> tuple[int, dict, MultiSketch,
                                            int, bool]:
        """(seq, meta, sketch, stale_files, refreshed) under policy."""
        name = self._name(table_path, column)
        loaded = store.latest_sketch(self.spark, self.store_path, name)
        if loaded is None or "catalog_spec" not in loaded[1]:
            raise self._unregistered(table_path, None, column)
        stale = self._stale_from(name, table_path)
        res = self._gate(table_path, loaded[1]["catalog_spec"], stale,
                         policy)
        if res is not None:
            # answer from the row the fold just published, not a re-read
            return res.seq, res.meta, res.sketch, 0, True
        return loaded[0], loaded[1], loaded[2], stale, False

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
        maintaining a separate global entry. A sample entry answers the
        same way, ``wanted`` routing to its PrioritySample."""
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

        def merge(pairs):
            acc = None
            for _, ms in pairs:
                if acc is None:
                    acc = ms
                else:
                    acc.merge(ms)
            if acc is not None:
                yield (serde.dumps_partial(acc),)

        pins = self._committed(name)
        partials = [bytes(r["blob"]) for r in self._stream_fleet(
            name, merge, "blob binary", pins).collect()]
        if not partials:
            raise KeyError(f"{name} has no committed group rows")
        acc = serde.loads(partials[0])
        for blob in partials[1:]:
            acc.merge(serde.loads(blob))
        return int(pins[0]), acc

    # -- committed fleet rows ---------------------------------------------
    #
    # Every read of a fleet's committed rows — by the Python verbs and by
    # the SQL functions — goes through one of three readers, pinned to a
    # committed epoch and its rebuild base (rows of a lineage a rebuild
    # replaced sit below the base): one group's row, every group's rows
    # as a driver dict, or every group's rows streamed through
    # mapInPandas.

    def _committed(self, name: str, seq: int | None = None
                   ) -> tuple[int, int]:
        """(epoch, base) pins of a grouped lineage: its committed epoch,
        or the past committed epoch ``seq``; KeyError when there is
        none."""
        if seq is not None:
            return grouped_epoch_at(self.spark, self.store_path, name,
                                    int(seq))
        epoch, base = grouped_epoch(self.spark, self.store_path, name)
        if epoch is None:
            raise KeyError(f"{name} has no committed grouped epoch")
        return epoch, base

    def _group_row(self, table_path: str, group_col: str, column: str,
                   group, seq: int | None = None):
        """(epoch, spec, sketch) of ONE committed group row of a fleet —
        at its committed epoch, or at the past committed epoch ``seq``;
        store.load_group_sketches reads that one row, never the fleet.
        O(1) driver bytes at any G."""
        name, g = self._gname(table_path, group_col, column), str(group)
        epoch, base = self._committed(name, seq)
        got = store.load_group_sketches(
            self.spark, self.store_path, name,
            max_seq=epoch, min_seq=base, groups=[g])
        if g not in got:
            raise KeyError(
                f"group {g!r} has no committed sketch at epoch {epoch} "
                f"under {table_path}:{group_col}:{column}")
        return epoch, self._gspec_at(name, epoch, base), got[g]

    def _fleet_dict(self, table_path: str, group_col: str, column: str):
        """(epoch, spec, {group: sketch}) of a fleet's committed rows,
        every blob decoded on the driver — refused above
        ``_MAX_DICT_GROUPS`` groups, counted from the row keys before
        any blob is read."""
        name = self._gname(table_path, group_col, column)
        epoch, base = grouped_epoch(self.spark, self.store_path, name)
        if epoch is None:
            raise self._unregistered(table_path, group_col, column)
        n = len(store._winner_rows(self.store_path, prefix=name,
                                   min_seq=base, max_seq=epoch, payload=()))
        if n > _MAX_DICT_GROUPS:
            raise ValueError(
                f"{table_path}:{group_col}:{column} has {n} groups, above "
                f"the {_MAX_DICT_GROUPS} a driver dict answer loads; ask "
                "for one group with group= or for the fleet with "
                "as_df=True")
        groups = store.load_group_sketches(
            self.spark, self.store_path, name, max_seq=epoch, min_seq=base)
        return epoch, self._gspec_at(name, epoch, base), groups

    def _stream_fleet(self, name: str, fn, schema: str,
                      pins: tuple[int, int] | None = None):
        """Lazy DataFrame of ``schema`` rows: ``fn`` over each task's
        (group, sketch) pairs of the fleet's committed winner rows (at
        ``pins``, default the committed epoch). Winner selection
        (store.fleet_winners — no blob shuffle) and the pins run in
        Spark before any blob moves; each task then sha-verifies and
        deserializes only its own KB blobs. Driver memory is flat in
        G."""
        import itertools

        from . import serde

        epoch, base = pins or self._committed(name)
        winners = store.fleet_winners(self.spark, self.store_path, name,
                                      base, epoch)
        plen = len(name) + 1
        cols = [c.split()[0] for c in schema.split(",")]

        def gen(pdfs):
            import pandas as pd
            rows = iter(fn(
                (nm[plen:], serde.loads(store._verified(nm, blob, sha)))
                for pdf in pdfs
                for nm, blob, sha in zip(pdf["name"], pdf["blob"],
                                         pdf["sha256"])))
            # bounded output batches, as the input's Arrow batches are
            while chunk := list(itertools.islice(rows, 10_000)):
                yield pd.DataFrame(chunk, columns=cols)

        return winners.mapInPandas(gen, schema=schema)

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
        return self._drift(table_path, column, seq_old, seq_new,
                           policy)[0]

    def _drift(self, table_path: str, column: str, seq_old: int,
               seq_new: int | None, policy: str | None):
        """(drift Answer, mg_old, mg_new): the answer and the two
        epochs' Misra-Gries parts it was computed from."""
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
                   "candidates": int(b.n_candidates)}), mg_old, mg_new

    def top_movers(self, table_path: str, column: str, seq_old: int,
                   seq_new: int | None = None, *, limit: int = 20,
                   policy: str | None = None) -> Answer:
        """Keys with the largest CERTIFIED frequency shift between two
        published epochs (drift.top_movers over their MG parts): only
        shifts that survive the deficit bounds are reported, so every
        listed mover is real. Same two-KB-read cost shape as drift(),
        from the same two parts."""
        from .drift import top_movers as _tm

        d, mg_old, mg_new = self._drift(table_path, column, seq_old,
                                        seq_new, policy)
        return Answer(
            value=_tm(mg_old, mg_new, limit=limit), kind="mg",
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
    # fan-in of a dict answer is G x blob, so it is refused above
    # _MAX_DICT_GROUPS groups.

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
        return self._register(table_path, {
            "version": _SPEC_VERSION, "column": column,
            "group_col": group_col, "kinds": _normalize_kinds(kinds)},
            rebuild)

    def refresh_grouped(self, table_path: str, group_col: str,
                        column: str) -> Answer:
        return self._refresh(table_path,
                             self._gspec(table_path, group_col, column))

    def _gspec(self, table_path: str, group_col: str, column: str, *,
               missing_ok: bool = False) -> dict | None:
        """Spec from a COMMITTED group row's meta (all rows of a publish
        carry it), pinned to the committed epoch / rebuild base exactly
        like current_group_sketches, so rows of a lineage that a
        ``register_grouped(rebuild=True)`` replaced never supply it."""
        spec = self._gspec_at_name(self._gname(table_path, group_col, column))
        if spec is None and not missing_ok:
            raise self._unregistered(table_path, group_col, column)
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

    def _gspec_at_name(self, name: str) -> dict | None:
        """Committed spec of an arbitrary grouped lineage name (shared
        by token fleets, sample fleets and file indexes)."""
        epoch, base = grouped_epoch(self.spark, self.store_path, name)
        return None if epoch is None else self._gspec_at(name, epoch,
                                                         base)

    def stale_files_grouped(self, table_path: str, group_col: str,
                            column: str) -> int:
        self._gspec(table_path, group_col, column)   # registered?
        return self._stale_from(self._gname(table_path, group_col, column),
                                table_path)

    def _gscope(self, table_path: str, group_col: str, column: str,
                policy: str | None) -> tuple[dict, int, bool]:
        """(spec, stale_files, refreshed) under policy — freshness
        handling WITHOUT loading any sketch row, so answer paths read
        exactly the rows they need afterwards: one winner row for a
        single-group question, a winners DataFrame for a fleet one."""
        spec = self._gspec(table_path, group_col, column)
        stale = self._stale_from(self._gname(table_path, group_col, column),
                                 table_path)
        if self._gate(table_path, spec, stale, policy) is None:
            return spec, stale, False
        return spec, 0, True

    def _grouped_answer(self, table_path, group_col, column, policy,
                        wanted, make, *, group=None, as_df=False):
        """Three answer shapes behind every grouped verb, token or
        sample:

        - ``group=<g>`` — a SINGLE-group question reads exactly one
          committed winner row (``_group_row``); the fleet is never
          loaded. O(1) driver bytes at any G.
        - ``as_df=True`` — a FULL-FLEET question evaluated per group
          inside mapInPandas over the committed epoch's winner rows
          (``_stream_fleet``); ``Answer.value`` is a lazy (group, ...)
          DataFrame and no blob ever reaches the driver. The shape for
          G = 10^5-10^6 fleets.
        - default — the small-G convenience: ``{group: value}`` dict,
          driver fan-in G x KB blob (``_fleet_dict``, refused above
          ``_MAX_DICT_GROUPS`` groups).

        ``make(part)`` computes one group's value; its optional
        attributes give the contract (``contract``, or
        ``contract_by_kind`` for the kind the spec resolves to), extra
        fields of a single-group answer (``extra``) and the DataFrame
        rows (``df_rows``, ``df_schema``)."""
        if group is not None and as_df:
            raise ValueError("group= and as_df=True are exclusive: a "
                             "single-group answer is already one row")
        spec, stale, refreshed = self._gscope(table_path, group_col,
                                              column, policy)
        meta = {"catalog_spec": spec}
        kind, _ = _part(meta, None, *wanted)
        by_kind = getattr(make, "contract_by_kind", None)
        contract = "per group: " + (
            by_kind.get(kind, by_kind[None]) if by_kind is not None
            else getattr(make, "contract", "per-group sketch answer"))
        answer = functools.partial(
            Answer, kind=kind, contract=contract, table=table_path,
            column=column, covered_rows=-1, stale_files=stale,
            refreshed=refreshed)

        if group is not None:
            epoch, spec, ms = self._group_row(table_path, group_col,
                                              column, group)
            _, part = _part({"catalog_spec": spec}, ms, *wanted)
            extra = getattr(make, "extra", lambda part: {})(part)
            return answer(value=make(part), seq=epoch,
                          sketch_bytes=part.nbytes(),
                          extra={"group": str(group), "groups": 1,
                                 "group_col": group_col, **extra})

        if as_df:
            row_fn = getattr(make, "df_rows",
                             lambda g, part: [(g, make(part))])

            def rows(pairs):
                for g, ms in pairs:
                    yield from row_fn(g, _part(meta, ms, *wanted)[1])

            value = self._stream_fleet(
                self._gname(table_path, group_col, column), rows,
                getattr(make, "df_schema", "group string, value double"))
            return answer(value=value, seq=-1, sketch_bytes=-1,
                          extra={"groups": -1, "group_col": group_col,
                                 "distributed": True})

        epoch, spec, groups = self._fleet_dict(table_path, group_col,
                                               column)
        parts = {g: _part({"catalog_spec": spec}, groups[g], *wanted)[1]
                 for g in sorted(groups)}
        return answer(value={g: make(p) for g, p in parts.items()},
                      seq=epoch,
                      sketch_bytes=sum(p.nbytes() for p in parts.values()),
                      extra={"groups": len(parts), "group_col": group_col})

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
        committed epoch, extracted per task inside mapInPandas; blobs
        never reach the driver. The input shape drift.grouped_tv_bounds
        wants."""
        meta = {"catalog_spec": spec}
        _part(meta, None, "mg")         # refused before any Spark work

        def rows(pairs):
            for g, ms in pairs:
                yield g, _part(meta, ms, "mg")[1].to_bytes()

        return self._stream_fleet(name, rows, "key string, sketch binary",
                                  (epoch, base))

    def _epochs(self, table_path: str, group_col: str, column: str,
                seq_old: int, seq_new: int | None, policy: str | None):
        """(name, (epoch, base, spec) at ``seq_old``, the same at
        ``seq_new``, stale_files, refreshed) of a fleet's two PUBLISHED
        epochs; ``seq_new`` defaults to the committed epoch after
        ``policy``'s freshness handling. KeyError for an uncommitted
        epoch, or one with no committed group row."""
        name = self._gname(table_path, group_col, column)
        stale, refreshed = 0, False
        if seq_new is None:
            _, stale, refreshed = self._gscope(table_path, group_col,
                                               column, policy)
            seq_new, _ = self._committed(name)
        pins = []
        for seq in (seq_old, seq_new):
            epoch, base = self._committed(name, seq)
            pins.append((epoch, base, self._gspec_at(name, epoch, base)))
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
            pair = []
            for epoch in (old_epoch, new_epoch):
                _, spec, ms = self._group_row(table_path, group_col,
                                              column, group, epoch)
                pair.append(_part({"catalog_spec": spec}, ms, "mg")[1])
            movers = _tm(pair[0], pair[1], limit=limit)
            return Answer(
                value=movers, kind="mg", contract=contract,
                table=table_path, column=column, seq=new_epoch,
                covered_rows=-1, stale_files=stale, refreshed=refreshed,
                sketch_bytes=pair[0].nbytes() + pair[1].nbytes(),
                extra={"seq_old": old_epoch, "group": str(group),
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

    @staticmethod
    def _sample_spec(key_col: str, weight_col: str, payload_col, k: int,
                     seed: int) -> dict:
        return {"key_col": key_col, "weight_col": weight_col,
                "payload_col": payload_col, "k": int(k), "seed": int(seed)}

    @staticmethod
    def _predicate(pred, pattern):
        """``pred`` (callable on the key string), or the fnmatch glob
        ``pattern`` (the SQL-shippable form) as one — exactly one of
        them."""
        import fnmatch
        if (pred is None) == (pattern is None):
            raise ValueError("pass exactly one of pred= or pattern=")
        if pattern is None:
            return pred
        return lambda s: fnmatch.fnmatchcase(s, pattern)

    def register_sample(self, table_path: str, key_col: str,
                        weight_col: str, *, payload_col: str | None = None,
                        k: int = 256, seed: int = 1337,
                        rebuild: bool = False) -> Answer:
        """Register a weighted row sample over (key_col, weight_col):
        one PrioritySample blob, delta-maintained like every entry.
        Duplicate keys (within a batch or across delta folds) collapse
        to the MAX (weight, payload) instance — the sample's documented
        dedup rule — so re-ingested rows never double-count."""
        return self._register(table_path, {
            "version": _SPEC_VERSION,
            "sample": self._sample_spec(key_col, weight_col, payload_col,
                                        k, seed)}, rebuild)

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
        pred = self._predicate(pred, pattern)

        def make(kind, ps):
            exact = ps.threshold is None
            var = ("exact (sample never overflowed)" if exact else
                   f"unbiased; variance within {(ps.k + 1)}/{ps.k - 1} "
                   "of the optimal k-sample (Duffield-Lund-Thorup)")
            return (float(ps.estimate_subset(pred)), var,
                    {"exact_mode": exact, "n_sampled":
                     min(len(ps.keys), ps.k)})
        return self._answer(table_path,
                            self._sample_col(key_col, weight_col), policy,
                            _VERB_ROUTES["subset_sum"], make, via=via)

    def sample_total(self, table_path: str, key_col: str,
                     weight_col: str, *, via: str | None = None,
                     policy: str | None = None) -> Answer:
        """Total weight: the exact folded Σw plus the sample's own
        unbiased estimate of it (their gap is the sampling noise).
        ``via=<group_col>`` merges the grouped sample fleet (Σw sums
        exactly across groups)."""
        def make(kind, ps):
            return ({"exact": float(ps.total_weight),
                     "estimate": float(ps.estimate_total())},
                    "exact Sigma-w tracked exactly; estimate unbiased",
                    {})
        return self._answer(table_path,
                            self._sample_col(key_col, weight_col), policy,
                            _VERB_ROUTES["sample_total"], make, via=via)

    def sample_group_sums(self, table_path: str, key_col: str,
                          weight_col: str, *,
                          policy: str | None = None) -> Answer:
        """Per-payload-group subset sums (e.g. total tokens per source)
        from the sample alone — requires the entry to have been
        registered with payload_col."""
        def make(kind, ps):
            return (ps.estimate_group_sums(),
                    "unbiased per group; exact while the sample never "
                    "overflowed", {"exact_mode": ps.threshold is None})
        return self._answer(table_path,
                            self._sample_col(key_col, weight_col), policy,
                            _VERB_ROUTES["sample_group_sums"], make)

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
        return self._register(table_path, {
            "version": _SPEC_VERSION, "group_col": group_col,
            "sample": self._sample_spec(key_col, weight_col, payload_col,
                                        k, seed)}, rebuild)

    def subset_sum_grouped(self, table_path: str, group_col: str,
                           key_col: str, weight_col: str, pred=None, *,
                           pattern: str | None = None,
                           group: str | None = None,
                           policy: str | None = None) -> Answer:
        """Per-group unbiased subset sums over an arbitrary key
        predicate. ``group=<g>`` reads exactly ONE committed winner row;
        default returns the {group: estimate} dict (small-G driver
        convenience, same envelope as the other grouped dict answers)."""
        pred = self._predicate(pred, pattern)

        def make(ps):
            return float(ps.estimate_subset(pred))
        make.contract = ("unbiased subset sum (Duffield-Lund-Thorup); "
                         "exact while that group's sample never "
                         "overflowed")
        make.extra = lambda ps: {"exact_mode": ps.threshold is None}
        return self._grouped_answer(
            table_path, group_col, self._sample_col(key_col, weight_col),
            policy, _VERB_ROUTES["subset_sum"], make, group=group)

    def _groups_diff(self, name: str, seq_old: int, seq_new: int | None):
        """(old epoch, new epoch, [(key, status), ...]) of fleet
        ``name`` between two committed epochs (``seq_new`` None: the
        committed one): the set difference of the two epochs' committed
        row names, each pinned to its epoch's rebuild base so rows a
        rebuild replaced are not counted. Row keys only — no blob is
        read. 'appeared' rows come first, each status's keys sorted.
        The one diff behind ``groups_diff`` and ``catalog_groups_diff``."""
        epochs, keys = [], []
        for seq in (seq_old, seq_new):
            epoch, base = self._committed(name, seq)
            epochs.append(epoch)
            keys.append({n[len(name) + 1:] for n in store._winner_rows(
                self.store_path, prefix=name, min_seq=base, max_seq=epoch,
                payload=())})
        old, new = keys
        return (*epochs, [(k, "appeared") for k in sorted(new - old)]
                + [(k, "disappeared") for k in sorted(old - new)])

    def groups_diff(self, table_path: str, group_col: str, column: str,
                    seq_old: int, seq_new: int | None = None, *,
                    policy: str | None = None) -> Answer:
        """Which groups APPEARED or DISAPPEARED between two PUBLISHED
        epochs of a grouped fleet — the membership companion of
        ``drift_grouped`` (which, like any two-sided envelope, can only
        speak about groups present in BOTH epochs). Store-METADATA
        only: ``_groups_diff`` diffs the two epochs' committed row-name
        sets on the driver from the store's row keys; no blob is ever
        deserialized, no table scanned. Not distributed: the diff is
        computed before ``Answer.value`` — a DataFrame (key, status)
        with status in {'appeared', 'disappeared'}, built from the
        diff's rows and empty when the fleet membership is unchanged —
        exists, so ``extra`` carries no ``distributed`` flag."""
        name = self._gname(table_path, group_col, column)
        stale, refreshed = 0, False
        if seq_new is None:
            _, stale, refreshed = self._gscope(table_path, group_col,
                                               column, policy)
        old_epoch, new_epoch, rows = self._groups_diff(name, seq_old,
                                                       seq_new)
        return Answer(
            value=self.spark.createDataFrame(rows,
                                             "key string, status string"),
            kind="metadata",
            contract="exact: committed row-name set difference between "
                     "the two pinned epochs",
            table=table_path, column=column, seq=new_epoch,
            covered_rows=-1, stale_files=stale, refreshed=refreshed,
            sketch_bytes=0,
            extra={"seq_old": old_epoch, "group_col": group_col})

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
        return self._register(table_path, spec, rebuild)

    def refresh_file_index(self, table_path: str, column: str, *,
                           ngrams: int | None = None,
                           ngram_seed: int = 1337) -> Answer:
        """Fold appended files into the index (new groups only)."""
        ng = None if ngrams is None else {"n": ngrams,
                                          "seed": ngram_seed}
        label = self._fidx_label(column, ng)
        spec = self._gspec(table_path, self._FILE_GROUP, label)
        return self._refresh(table_path, spec)

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
        meta = {"catalog_spec": spec}
        _part(meta, None, "bloom")      # locate() needs the filter
        counts = "cm" in _kinds(spec)
        fpr = next(e["params"]["fpr"] for e in spec["kinds"]
                   if e["kind"] == "bloom")
        from pyspark.sql import functions as F

        name = self._gname(table_path, self._FILE_GROUP, label)
        epoch, _ = pins = self._committed(name)
        karr = np.asarray(list(keys), dtype=np.int64)

        def gen(pairs):
            n = 0
            for file, ms in pairs:
                n += 1
                mask = _part(meta, ms, "bloom")[1].contains_batch(karr)
                if mask.any():
                    hits = karr[mask]
                    ubs = (_part(meta, ms, "cm")[1].point_query_batch(hits)
                           if counts
                           else np.full(hits.shape, -1, dtype=np.int64))
                    yield from zip(hits.tolist(), [file] * len(hits),
                                   ubs.tolist())
            # one NULL-file row per task counts the files probed, so the
            # collect below learns the fleet size for free
            yield 0, None, n

        probe = self._stream_fleet(name, gen,
                                   "key long, file string, count_ub long",
                                   pins)
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
    _GROUPED_VERBS = _SHAPES["grouped"][1]

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
                raise self._unregistered(table_path, None, column)
            seq, meta = entry
            spec = meta["catalog_spec"]
            covered = int(meta.get("table_rows", -1))
            store_rows = {"answer": f"{name} @ seq {seq} (one row)"}
        else:
            name = self._gname(table_path, group_col, column)
            spec = self._gspec(table_path, group_col, column)
            seq = int(self._committed(name)[0])
            covered = -1
            store_rows = {
                "single_group": f"{name}/<group> winner row within "
                                f"committed epoch {seq} (one row)",
                "fleet": f"{name}/* winners DataFrame at committed "
                         f"epoch {seq} (distributed, never collected)"}
            if spec.get("file_index"):
                store_rows["probe"] = (f"{name}/* winners probed in "
                                       f"mapInPandas at epoch {seq}")
        routes = {}
        for verb in sorted(_SHAPES[_shape(spec)][1]):
            wanted = _VERB_ROUTES[verb]
            try:
                served = _part({"catalog_spec": spec}, None, *wanted)[0]
            except KeyError:
                served = None
            routes[verb] = {"kind": served,
                            "available": served is not None,
                            "preference": list(wanted)}
        return {"name": name, "table_path": os.path.abspath(table_path),
                "column": column, "group_col": group_col, "seq": seq,
                "kinds": _kinds(spec), "covered_rows": covered,
                "stale_files": self._stale_from(name, table_path),
                "store_rows": store_rows,
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
                seq = self._committed(entry)[0]
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
            e = {**r, "kinds": _kinds(spec),
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
