"""SQL surface for the sketch catalog — route SELECTs through store blobs.

``register_catalog_sql(spark, store_path)`` registers the catalog's
answer verbs as SQL functions (VERDICT r4 #2), so a SQL-only client can
ask

    SELECT catalog_count_distinct('<table>', 'tokens'),
           catalog_frequency('<table>', 'tokens', 31337)
    SELECT * FROM catalog_topk('<table>', 'tokens', 10)

and be answered from KB-scale sketch blobs the store already holds —
never a table scan. Like ``spark_build.register_sql_udfs`` it exposes
sketch probes as SQL functions, but instead of freezing one sketch at
registration time, each call resolves the CURRENT winning epoch of the
named catalog entry at execution time.

Staleness contract: the SQL surface answers from the LAST PUBLISHED
epoch — the ``stale_ok`` policy, reported nowhere because a SELECT must
not side-effect a delta fold. Clients that need ``auto`` freshness call
``SketchCatalog.refresh()`` (or any auto-policy answer) first; the SQL
functions then see the new epoch on their next call.

Grouped fleets are addressable too: ``catalog_count_distinct_group``
reads exactly ONE committed group row (the epoch/base pins come from the
fleet's commit markers in the store's ingested/ manifest), the same
O(1)-rows shape as ``SketchCatalog.*_grouped(group=...)``.

Resolution is not a copy of the Python catalog's: the functions run the
catalog's own naming (``SketchCatalog._name`` / ``_gname``), kind routing
(``catalog._part``), committed-epoch pins (``incremental.grouped_epoch``
/ ``grouped_epoch_at``) and the store's one pyarrow winner reader
(``store._winner_rows`` and its loaders) — executor-side with no
SparkSession, which that layer never needs. Winners are sha-verified
before deserialization, and reads are memoized on the store head's
generation, so repeated calls against an unchanged store stat one file
and never re-read parquet, while any commit (new epoch, compaction) is
seen on the next call, which opens only the part files that call has
not seen.

No counterpart in the reference — CountMinDB (cm.h) has a 4-method C++
API and no SQL; this is north-star engine surface over the store/catalog
contracts.
"""

from __future__ import annotations


import numpy as np
import pandas as pd

from . import serde, store
from .catalog import _VERB_ROUTES, SketchCatalog, _part
from .incremental import grouped_epoch, grouped_epoch_at


def _pins(sp: str, prefix: str, seq=None) -> tuple[int, int]:
    """(epoch, base) of a fleet: the committed epoch, or the historical
    committed epoch ``seq``."""
    if seq is not None:
        return grouped_epoch_at(None, sp, prefix, int(seq))
    return SketchCatalog(None, sp)._committed(prefix)


def _entry(sp: str, table_path: str, column: str, seq=None):
    """(meta, sketch) of a global entry's winning row, or of its epoch
    ``seq``."""
    got = store.latest_sketch(None, sp, SketchCatalog._name(table_path,
                                                            column), seq)
    if got is None:
        raise KeyError(
            f"{table_path}:{column} is not registered in the catalog "
            f"store {sp}" + ("" if seq is None else f" at epoch {seq}")
            + " (SQL functions answer from published epochs; register() "
            "it first)")
    return got[1], got[2]


def _group(sp: str, table_path: str, group_col: str, column: str, group,
           seq=None):
    """(meta, sketch) of ONE committed group row of a fleet — at the
    committed epoch, or at epoch ``seq``; the fleet is never read."""
    prefix = SketchCatalog._gname(table_path, group_col, column)
    epoch, base = _pins(sp, prefix, seq)
    got = store.load_group_sketches(None, sp, prefix, max_seq=epoch,
                                    min_seq=base, groups=[str(group)])
    if str(group) not in got:
        raise KeyError(
            f"group {group!r} has no committed sketch under "
            f"{table_path}:{group_col}:{column} in {sp}")
    spec = SketchCatalog(None, sp)._gspec_at(prefix, epoch, base)
    return {"catalog_spec": spec}, got[str(group)]


def _merged(sp: str, table_path: str, group_col: str, column: str):
    """(meta, sketch) of the MERGED committed fleet — every group row
    folded into one MultiSketch, in name order (SQL twin of the Python
    verbs' ``via=``; single-task evaluation, so the Python path is the
    10^6-group shape)."""
    prefix = SketchCatalog._gname(table_path, group_col, column)
    epoch, base = _pins(sp, prefix)
    groups = store.load_group_sketches(None, sp, prefix, max_seq=epoch,
                                       min_seq=base)
    if not groups:
        raise KeyError(
            f"{table_path}:{group_col}:{column} has no committed "
            f"grouped registration in {sp}")
    ms = None
    for g in sorted(groups):
        if ms is None:
            ms = groups[g]
        else:
            ms.merge(groups[g])
    spec = SketchCatalog(None, sp)._gspec_at(prefix, epoch, base)
    return {"catalog_spec": spec}, ms


def _kind(entry, verb: str):
    """The part of a resolved (meta, sketch) that serves ``verb`` —
    routed through the Python verbs' ``_VERB_ROUTES``."""
    return _part(entry[0], entry[1], *_VERB_ROUTES[verb])[1]


def register_catalog_sql(spark, store_path: str, *,
                         prefix: str = "catalog_") -> list[str]:
    """Register the catalog verbs as SQL functions bound to
    ``store_path``. Returns the registered function names.

    Scalar functions (Arrow-vectorized pandas UDFs; per-batch work is
    one cached entry resolution + a vectorized probe):

    - ``catalog_count_distinct(table, col)`` -> double (theta/hll)
    - ``catalog_frequency(table, col, key)`` -> long (CM upper bound;
      ``key`` may be a per-row column — probed as one batch)
    - ``catalog_member(table, col, key)`` -> boolean (bloom)
    - ``catalog_quantile(table, col, q)`` -> double (kll/tdigest/dd)
    - ``catalog_range_count(table, col, lo, hi)`` -> long (dyadic)
    - ``catalog_count_distinct_group(table, group_col, col, group)``
      -> double, from exactly ONE committed group row
    - ``catalog_frequency_group(table, group_col, col, group, key)``
      -> long (per-group CM upper bound; ``key`` may be a per-row
      column — batch-probed), same one-committed-row shape
    - ``catalog_quantile_group(table, group_col, col, group, q)``
      -> double, same one-committed-row shape
    - ``catalog_count_distinct_merged(table, group_col, col)`` /
      ``catalog_frequency_merged(table, group_col, col, key)`` ->
      global answers from the MERGED grouped fleet (the ``via=`` SQL
      twins; order-independent merges, equal to a global entry exactly)

    Table functions:

    - ``catalog_topk(table, col, k)`` -> rows (key, count) — MG
      survivors, usable as ``SELECT * FROM catalog_topk(...)``.
    - ``catalog_topk_group(table, group_col, col, group, k)`` -> rows
      (key, count) — one group's survivors from ONE committed fleet row.
    - ``catalog_drift(table, col, seq_old, seq_new)`` -> one row
      (tv_lb, tv_ub, n_old, n_new, candidates) — the certified TV
      envelope between two published epochs from two pinned KB rows
      (NULL seq_new = latest epoch).
    - ``catalog_overlap(table_a, col_a, table_b, col_b)`` -> one row
      (union_est, intersection_est, jaccard, rse) — cross-table set
      overlap from two theta winner rows, no table scans.
    - ``catalog_entries()`` -> one row per registered entry/fleet
      (name, table_path, column, group_col, kinds, seq) — store
      metadata only, no blob reads.
    - ``catalog_locate(table, col, key)`` -> rows (file, count_ub) —
      per-file data-skipping probe over a ``register_file_index``
      fleet: files that CAN contain the key (no false negatives).
    """
    from pyspark.sql.functions import pandas_udf, udtf

    sp = store_path

    @pandas_udf("double")
    def cd(table: pd.Series, col: pd.Series) -> pd.Series:
        out = pd.Series(np.nan, index=table.index, dtype="float64")
        for t, c in set(zip(table, col)):
            part = _kind(_entry(sp, t, c), "count_distinct")
            out[(table == t) & (col == c)] = float(part.estimate())
        return out

    @pandas_udf("long")
    def freq(table: pd.Series, col: pd.Series,
             key: pd.Series) -> pd.Series:
        if key.isna().any():
            raise ValueError("catalog_frequency key column contains "
                             "NULLs; filter isNotNull() first")
        out = pd.Series(0, index=table.index, dtype="int64")
        for t, c in set(zip(table, col)):
            m = (table == t) & (col == c)
            part = _kind(_entry(sp, t, c), "frequency")
            out[m] = part.point_query_batch(
                key[m].to_numpy(dtype=np.int64))
        return out

    @pandas_udf("double")
    def frequb(table: pd.Series, col: pd.Series,
               key: pd.Series) -> pd.Series:
        if key.isna().any():
            raise ValueError("catalog_frequency_unbiased key column "
                             "contains NULLs; filter isNotNull() first")
        out = pd.Series(np.nan, index=table.index, dtype="float64")
        for t, c in set(zip(table, col)):
            m = (table == t) & (col == c)
            part = _kind(_entry(sp, t, c), "frequency_unbiased")
            out[m] = part.point_query_batch(
                key[m].to_numpy(dtype=np.int64))
        return out

    @pandas_udf("double")
    def f2(table: pd.Series, col: pd.Series) -> pd.Series:
        out = pd.Series(np.nan, index=table.index, dtype="float64")
        for t, c in set(zip(table, col)):
            part = _kind(_entry(sp, t, c), "second_moment")
            out[(table == t) & (col == c)] = float(part.f2_estimate())
        return out

    @pandas_udf("double")
    def subsum(table: pd.Series, key_col: pd.Series,
               weight_col: pd.Series, pattern: pd.Series) -> pd.Series:
        """Unbiased subset-sum from a registered PrioritySample entry:
        Σ weight over keys matching the fnmatch ``pattern`` — O(k) on
        the sample, exact while it never overflowed."""
        import fnmatch
        out = pd.Series(np.nan, index=table.index, dtype="float64")
        for t, kc, wc, pat in set(zip(table, key_col, weight_col,
                                      pattern)):
            m = ((table == t) & (key_col == kc) & (weight_col == wc)
                 & (pattern == pat))
            _, ps = _entry(sp, t, f"{kc}~{wc}")
            out[m] = ps.estimate_subset(
                lambda s: fnmatch.fnmatchcase(s, pat))
        return out

    @pandas_udf("double")
    def subsumg(table: pd.Series, gcol: pd.Series, key_col: pd.Series,
                weight_col: pd.Series, group: pd.Series,
                pattern: pd.Series) -> pd.Series:
        """Per-group subset sum from a grouped sample fleet: ONE
        committed winner row (that group's sample at the committed
        epoch) answers the fnmatch pattern in O(k)."""
        import fnmatch
        out = pd.Series(np.nan, index=table.index, dtype="float64")
        for t, gc, kc, wc, g, pat in set(zip(table, gcol, key_col,
                                             weight_col, group,
                                             pattern)):
            m = ((table == t) & (gcol == gc) & (key_col == kc)
                 & (weight_col == wc) & (group == g) & (pattern == pat))
            _, ps = _group(sp, t, gc, f"{kc}~{wc}", g)
            out[m] = ps.estimate_subset(
                lambda s: fnmatch.fnmatchcase(s, pat))
        return out

    @pandas_udf("boolean")
    def member(table: pd.Series, col: pd.Series,
               key: pd.Series) -> pd.Series:
        if key.isna().any():
            raise ValueError("catalog_member key column contains NULLs; "
                             "filter isNotNull() first")
        out = pd.Series(False, index=table.index, dtype="bool")
        for t, c in set(zip(table, col)):
            m = (table == t) & (col == c)
            part = _kind(_entry(sp, t, c), "member")
            out[m] = part.contains_batch(
                key[m].to_numpy(dtype=np.int64))
        return out

    @pandas_udf("double")
    def quant(table: pd.Series, col: pd.Series,
              q: pd.Series) -> pd.Series:
        out = pd.Series(np.nan, index=table.index, dtype="float64")
        for t, c, qq in set(zip(table, col, q)):
            part = _kind(_entry(sp, t, c), "quantile")
            out[(table == t) & (col == c) & (q == qq)] = \
                float(part.quantile(float(qq)))
        return out

    @pandas_udf("long")
    def rcount(table: pd.Series, col: pd.Series, lo: pd.Series,
               hi: pd.Series) -> pd.Series:
        out = pd.Series(0, index=table.index, dtype="int64")
        for t, c, a, b in set(zip(table, col, lo, hi)):
            part = _kind(_entry(sp, t, c), "range_count")
            out[(table == t) & (col == c) & (lo == a) & (hi == b)] = \
                int(part.range_count(int(a), int(b)))
        return out

    @pandas_udf("double")
    def cdg(table: pd.Series, gcol: pd.Series, col: pd.Series,
            group: pd.Series) -> pd.Series:
        out = pd.Series(np.nan, index=table.index, dtype="float64")
        for t, gc, c, g in set(zip(table, gcol, col, group)):
            part = _kind(_group(sp, t, gc, c, g), "count_distinct")
            out[(table == t) & (gcol == gc) & (col == c)
                & (group == g)] = float(part.estimate())
        return out

    @pandas_udf("long")
    def fqg(table: pd.Series, gcol: pd.Series, col: pd.Series,
            group: pd.Series, key: pd.Series) -> pd.Series:
        if key.isna().any():
            raise ValueError("catalog_frequency_group key column "
                             "contains NULLs; filter isNotNull() first")
        out = pd.Series(0, index=table.index, dtype="int64")
        for t, gc, c, g in set(zip(table, gcol, col, group)):
            m = ((table == t) & (gcol == gc) & (col == c)
                 & (group == g))
            part = _kind(_group(sp, t, gc, c, g), "frequency")
            out[m] = part.point_query_batch(
                key[m].to_numpy(dtype=np.int64))
        return out

    @pandas_udf("double")
    def qgrp(table: pd.Series, gcol: pd.Series, col: pd.Series,
             group: pd.Series, q: pd.Series) -> pd.Series:
        out = pd.Series(np.nan, index=table.index, dtype="float64")
        for t, gc, c, g, qq in set(zip(table, gcol, col, group, q)):
            part = _kind(_group(sp, t, gc, c, g), "quantile")
            out[(table == t) & (gcol == gc) & (col == c)
                & (group == g) & (q == qq)] = \
                float(part.quantile(float(qq)))
        return out

    @pandas_udf("double")
    def cdm(table: pd.Series, gcol: pd.Series,
            col: pd.Series) -> pd.Series:
        """count_distinct answered from the MERGED grouped fleet (the
        SQL twin of ``cat.count_distinct(..., via=gcol)``): theta
        k-smallest-union / HLL register-max are order-independent, so
        this equals a global entry's answer exactly."""
        out = pd.Series(np.nan, index=table.index, dtype="float64")
        for t, g, c in set(zip(table, gcol, col)):
            part = _kind(_merged(sp, t, g, c), "count_distinct")
            out[(table == t) & (gcol == g) & (col == c)] = \
                float(part.estimate())
        return out

    @pandas_udf("long")
    def fqm(table: pd.Series, gcol: pd.Series, col: pd.Series,
            key: pd.Series) -> pd.Series:
        """CM frequency upper bound from the MERGED grouped fleet
        (``via=`` SQL twin; counter sums are order-independent, equal
        to a global entry exactly). ``key`` may be a per-row column —
        probed as one batch per (table, gcol, col)."""
        out = pd.Series(0, index=table.index, dtype="int64")
        for t, g, c in set(zip(table, gcol, col)):
            part = _kind(_merged(sp, t, g, c), "frequency")
            m = (table == t) & (gcol == g) & (col == c)
            out[m] = part.point_query_batch(
                key[m].to_numpy(dtype="int64"))
        return out

    @udtf(returnType="key bigint, count bigint")
    class TopK:
        def eval(self, table_path: str, column: str, k: int):
            part = _kind(_entry(sp, table_path, column), "topk")
            for key, cnt in part.top_items(int(k)):
                yield int(key), int(cnt)

    @udtf(returnType="key bigint, count bigint")
    class TopKGroup:
        """One group's MG survivors from exactly ONE committed fleet
        row — the SQL twin of ``topk_grouped(group=...)``."""
        def eval(self, table_path: str, group_col: str, column: str,
                 group: str, k: int):
            part = _kind(_group(sp, table_path, group_col, column, group),
                         "topk")
            for key, cnt in part.top_items(int(k)):
                yield int(key), int(cnt)

    @udtf(returnType="tv_lb double, tv_ub double, n_old bigint, "
                     "n_new bigint, candidates bigint")
    class Drift:
        """Certified TV envelope between two published epochs of a
        global entry, from two pinned KB store rows — the SQL twin of
        ``cat.drift``. Pass NULL as seq_new for the latest epoch."""
        def eval(self, table_path: str, column: str, seq_old: int,
                 seq_new):
            from .drift import tv_bounds
            mg_old, mg_new = (_kind(_entry(sp, table_path, column, s),
                                    "drift") for s in (seq_old, seq_new))
            b = tv_bounds(mg_old, mg_new)
            yield (float(b.tv_lb), float(b.tv_ub), int(b.n_a),
                   int(b.n_b), int(b.n_candidates))

    @udtf(returnType="token bigint, p_old double, p_new double, "
                     "shift_lb double")
    class TopMovers:
        """Certified key-level movers between two published epochs of a
        global entry — the SQL twin of ``cat.top_movers``, from the
        same two pinned KB rows as catalog_drift. Only tokens whose
        certified lower bound on |p_old - p_new| is positive are
        returned; silence is NOT stability."""
        def eval(self, table_path: str, column: str, seq_old: int,
                 seq_new, limit: int = 20):
            from .drift import top_movers as _tm
            mg_old, mg_new = (_kind(_entry(sp, table_path, column, s),
                                    "drift") for s in (seq_old, seq_new))
            for tok, p_old, p_new, lb in _tm(mg_old, mg_new,
                                             limit=int(limit)):
                yield (int(tok), float(p_old), float(p_new), float(lb))

    @udtf(returnType="tv_lb double, tv_ub double, n_old bigint, "
                     "n_new bigint, n_candidates int")
    class DriftGroup:
        """Certified TV envelope between two published epochs of ONE
        group of a fleet — exactly two committed winner rows are read
        (each pinned by its epoch's commit marker), never the fleet.
        The single-group SQL twin of ``cat.drift_grouped(group=...)``;
        fleet-scale questions belong to the Python DataFrame verb."""
        def eval(self, table_path: str, group_col: str, column: str,
                 group: str, seq_old: int, seq_new: int):
            from .drift import tv_bounds
            mg_old, mg_new = (_kind(_group(sp, table_path, group_col,
                                           column, group, s), "drift")
                              for s in (seq_old, seq_new))
            b = tv_bounds(mg_old, mg_new)
            yield (float(b.tv_lb), float(b.tv_ub), int(b.n_a),
                   int(b.n_b), int(b.n_candidates))

    @udtf(returnType="token bigint, p_old double, p_new double, "
                     "shift_lb double")
    class TopMoversGroup:
        """Certified key movers between two published epochs of ONE
        group — the SQL twin of ``cat.top_movers_grouped(group=...)``:
        two committed winner rows, O(1) at any fleet size."""
        def eval(self, table_path: str, group_col: str, column: str,
                 group: str, seq_old: int, seq_new: int,
                 limit: int = 20):
            from .drift import top_movers as _tm
            mg_old, mg_new = (_kind(_group(sp, table_path, group_col,
                                           column, group, s), "drift")
                              for s in (seq_old, seq_new))
            for tok, p_old, p_new, lb in _tm(mg_old, mg_new,
                                             limit=int(limit)):
                yield (int(tok), float(p_old), float(p_new), float(lb))

    @udtf(returnType="key string, status string")
    class GroupsDiff:
        """Fleet-membership changes between two published epochs — the
        SQL twin of ``cat.groups_diff``: committed row-NAME set
        difference (status 'appeared' / 'disappeared'), each epoch
        pinned to its commit marker's base so pre-rebuild dead groups
        are excluded. Store metadata only — no
        blob is deserialized."""
        def eval(self, table_path: str, group_col: str, column: str,
                 seq_old: int, seq_new: int):
            prefix = SketchCatalog._gname(table_path, group_col, column)

            def keys_at(seq):
                epoch, base = _pins(sp, prefix, seq)
                return {n[len(prefix) + 1:] for n in store._winner_rows(
                    sp, prefix=prefix, min_seq=base, max_seq=epoch,
                    payload=())}

            old_k, new_k = keys_at(seq_old), keys_at(seq_new)
            for k in sorted(new_k - old_k):
                yield (k, "appeared")
            for k in sorted(old_k - new_k):
                yield (k, "disappeared")

    @udtf(returnType="union_est double, intersection_est double, "
                     "jaccard double, rse double")
    class Overlap:
        """Cross-table set overlap from the theta parts of two GLOBAL
        entries — the SQL twin of ``cat.overlap``. Two winner rows are
        read; neither table is scanned. ``rse`` is the per-estimate
        relative standard error of the smaller-k sketch (the binding
        one); intersection error degrades with smaller overlap, as the
        Python verb's contract states."""
        def eval(self, table_a: str, col_a: str, table_b: str,
                 col_b: str):
            ta, tb = (_part(*_entry(sp, t, c), "theta")[1]
                      for t, c in ((table_a, col_a), (table_b, col_b)))
            union = float(ta.estimate_union(tb))
            inter = float(ta.estimate_intersection(tb))
            yield (union, inter, (inter / union if union > 0 else 0.0),
                   float(max(ta.rse(), tb.rse())))

    @udtf(returnType="name string, table_path string, column string, "
                     "group_col string, kinds string, seq bigint")
    class Entries:
        """Every registered (table, column) — global entries and
        grouped fleets (one row per fleet) — from store metadata only
        (name/seq/meta_json columns; blobs are never read). The SQL
        twin of ``cat.entries()``; grouped kind lists are pinned to the
        committed epoch exactly like the Python verb."""
        def eval(self):
            for r in SketchCatalog(None, sp)._registrations():
                spec = r["spec"]
                kinds = ("psample" if "sample" in spec else
                         ",".join(k["kind"] for k in spec["kinds"]))
                yield (r["name"], r["table_path"], r["column"],
                       r["group_col"], kinds, r["seq"])

    @udtf(returnType="verb string, kind string, available boolean, "
                     "preference string, seq bigint, kinds string")
    class Explain:
        """SQL twin of ``cat.explain()``: one row per catalog verb with
        the registered kind that would serve it — resolved through the
        SAME ``_VERB_ROUTES`` preference table the Python answer methods
        route through, so the report can never disagree with routing.
        Pass ``group_col=''`` for a global entry (all verbs), a real
        group column for a fleet (grouped verb subset, spec pinned to
        the committed epoch). Store-metadata reads only — no blob is
        deserialized, no table is scanned. Freshness policy enforcement
        stays with the answer verbs; use the Python ``explain()`` for
        the stale-file count."""
        def eval(self, table_path: str, column: str,
                 group_col: str = ""):
            cat = SketchCatalog(None, sp)
            if group_col:
                spec = cat._gspec(table_path, group_col, column)
                seq = grouped_epoch(None, sp, SketchCatalog._gname(
                    table_path, group_col, column))[0]
                verbs = {v: _VERB_ROUTES[v]
                         for v in SketchCatalog._GROUPED_VERBS}
            else:
                entry = store.latest_entry(
                    None, sp, SketchCatalog._name(table_path, column))
                if entry is None:
                    raise KeyError(
                        f"{table_path}:{column} is not registered")
                seq, spec = entry[0], entry[1].get("catalog_spec")
                verbs = dict(_VERB_ROUTES)
            if spec is None:
                raise KeyError(f"{table_path}:{column} carries no "
                               "catalog spec")
            kinds = [e["kind"] for e in spec["kinds"]]
            kinds_s = ",".join(kinds)
            for verb in sorted(verbs):
                wanted = verbs[verb]
                served = next((w for w in wanted if w in kinds), None)
                yield (verb, served, served is not None,
                       ",".join(wanted), seq, kinds_s)

    @udtf(returnType="file string, count_ub bigint")
    class Locate:
        """Candidate files that CAN contain ``key`` — the SQL twin of
        ``cat.locate()`` over a per-file data-skipping index
        (``register_file_index``). No false negatives (Bloom contract);
        ``count_ub`` is the file's one-sided CM bound when a 'cm' kind
        is registered, −1 otherwise. Single-task evaluation over the
        fleet's committed winner rows (name-range-pruned parquet read);
        the distributed shape is ``cat.locate(as_df=True)``. Optional
        ``ngrams``/``ngram_seed`` arguments address an n-gram index
        (pass a shingle hash from ngrams.array_ngrams as ``key``)."""
        def eval(self, table_path: str, column: str, key: int,
                 ngrams=None, ngram_seed: int = 1337):
            label = column if ngrams is None else \
                f"{column}~{int(ngrams)}gram-{int(ngram_seed)}"
            prefix = SketchCatalog._gname(table_path, "__file__", label)
            epoch, base = grouped_epoch(None, sp, prefix)
            winners = {} if epoch is None else store._winner_rows(
                sp, prefix=prefix, min_seq=base, max_seq=epoch,
                payload=("blob",))
            if not winners:
                raise KeyError(
                    f"{table_path}:{column} has no committed file "
                    f"index in {sp} (register_file_index() it first)")
            spec = SketchCatalog(None, sp)._gspec_at(prefix, epoch, base)
            kinds = [e["kind"] for e in spec["kinds"]]
            if "bloom" not in kinds:
                raise KeyError(
                    f"file index on {table_path}:{column} has no "
                    f"'bloom' kind (registered: {kinds})")
            bidx = kinds.index("bloom")
            cidx = kinds.index("cm") if "cm" in kinds else -1
            plen, k = len(prefix) + 1, int(key)
            for nm in sorted(winners):
                ms = serde.loads(winners[nm].blob)
                if ms.parts[bidx].contains(k):
                    ub = (int(ms.parts[cidx].point_query(k))
                          if cidx >= 0 else -1)
                    yield (nm[plen:], ub)

    names = []
    for suffix, fn in (("count_distinct", cd), ("frequency", freq),
                       ("frequency_unbiased", frequb),
                       ("second_moment", f2),
                       ("subset_sum", subsum),
                       ("subset_sum_group", subsumg),
                       ("member", member), ("quantile", quant),
                       ("range_count", rcount),
                       ("count_distinct_group", cdg),
                       ("frequency_group", fqg),
                       ("quantile_group", qgrp),
                       ("count_distinct_merged", cdm),
                       ("frequency_merged", fqm)):
        spark.udf.register(prefix + suffix, fn)
        names.append(prefix + suffix)
    for suffix, tvf in (("topk", TopK), ("topk_group", TopKGroup),
                        ("locate", Locate),
                        ("drift", Drift), ("top_movers", TopMovers),
                        ("drift_group", DriftGroup),
                        ("top_movers_group", TopMoversGroup),
                        ("groups_diff", GroupsDiff),
                        ("overlap", Overlap),
                        ("entries", Entries), ("explain", Explain)):
        spark.udtf.register(prefix + suffix, tvf)
        names.append(prefix + suffix)
    return names
