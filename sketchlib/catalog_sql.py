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
reads exactly ONE committed group row (the epoch/base pins come from
every entry's commit markers in the store's ingested/ manifest), the same
O(1)-rows shape as ``SketchCatalog.*_grouped(group=...)``.

Resolution is not a copy of the Python catalog's: the functions run the
catalog's own naming (``SketchCatalog._name`` / ``_gname``), kind routing
(``catalog._part``), committed-epoch pins (``SketchCatalog._committed``),
its readers of committed fleet rows — ``SketchCatalog._group_row`` for
one group's row, ``_fleet_dict`` for a whole fleet — its fleet
membership diff (``SketchCatalog._groups_diff``) and its ``explain()``,
over the store's one pyarrow winner reader (``store._winner_rows`` and
its loaders) — executor-side with no SparkSession, which that layer
never needs. Winners are sha-verified before deserialization, and reads
are memoized on the store head's generation, so repeated calls against
an unchanged store stat one file and never re-read parquet, while any
commit (new epoch, compaction) is seen on the next call, which opens
only the part files that call has not seen.

Every scalar function is one row of ``_SCALARS`` — (suffix, return type,
resolver, verb, probe) — served by one vectorized body (``_scalar``):
it groups an Arrow batch by the resolver's address columns, resolves
each address once, routes to the verb's part and probes the rest of the
batch's columns at once, refusing NULL probe arguments. The table
functions with a global and a one-group form (topk, drift, top_movers)
are one eval body each over the ``_entry`` or ``_group`` resolver
(``_table``).

No counterpart in the reference — CountMinDB (cm.h) has a 4-method C++
API and no SQL; this is north-star engine surface over the store/catalog
contracts.
"""

from __future__ import annotations

import fnmatch
import functools
import inspect

import numpy as np
import pandas as pd

from . import store
from .catalog import _VERB_ROUTES, SketchCatalog, _kinds, _part
from .drift import top_movers, tv_bounds


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
    _, spec, ms = SketchCatalog(None, sp)._group_row(
        table_path, group_col, column, group, seq)
    return {"catalog_spec": spec}, ms


def _merged(sp: str, table_path: str, group_col: str, column: str):
    """(meta, sketch) of the MERGED committed fleet — every group row
    folded into one MultiSketch, in name order (SQL twin of the Python
    verbs' ``via=``; single-task evaluation, so the Python path is the
    10^6-group shape)."""
    _, spec, groups = SketchCatalog(None, sp)._fleet_dict(
        table_path, group_col, column)
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
    return {"catalog_spec": spec}, ms


def _kind(entry, verb: str):
    """The part of a resolved (meta, sketch) that serves ``verb`` —
    routed through the Python verbs' ``_VERB_ROUTES``."""
    return _part(entry[0], entry[1], *_VERB_ROUTES[verb])[1]


def _sample(sp: str, table_path: str, key_col: str, weight_col: str):
    """(meta, PrioritySample) of a global sample entry's winning row."""
    return _entry(sp, table_path,
                  SketchCatalog._sample_col(key_col, weight_col))


def _group_sample(sp: str, table_path: str, group_col: str, key_col: str,
                  weight_col: str, group):
    """(meta, PrioritySample) of ONE committed group row of a sample
    fleet."""
    return _group(sp, table_path, group_col,
                  SketchCatalog._sample_col(key_col, weight_col), group)


def _arity(resolve) -> int:
    """The address columns of ``resolve``: its required arguments after
    the store path."""
    return sum(p.default is p.empty for p in
               inspect.signature(resolve).parameters.values()) - 1


def _keys(method: str):
    """Probe: ``part.<method>`` over the key column as one int64 batch."""
    return lambda part, key: getattr(part, method)(
        key.to_numpy(dtype=np.int64))


def _each(fn):
    """Probe: ``fn(part, *args)`` once per distinct argument tuple."""
    def probe(part, *args):
        once = functools.cache(functools.partial(fn, part))
        return [once(*a) for a in zip(*args)]
    return probe


def _estimate(part):
    return part.estimate()


def _quantile(part, q):
    return part.quantile(float(q))


def _subset_sum(part, pattern):
    return part.estimate_subset(
        lambda s: fnmatch.fnmatchcase(s, pattern))


# One row per scalar SQL function: (suffix, return type, resolver, verb,
# probe). Its arguments are the resolver's address, then the probe's.
_SCALARS = (
    ("count_distinct", "double", _entry, "count_distinct", _estimate),
    ("frequency", "long", _entry, "frequency",
     _keys("point_query_batch")),
    ("frequency_unbiased", "double", _entry, "frequency_unbiased",
     _keys("point_query_batch")),
    ("second_moment", "double", _entry, "second_moment",
     lambda part: part.f2_estimate()),
    ("subset_sum", "double", _sample, "subset_sum", _each(_subset_sum)),
    ("subset_sum_group", "double", _group_sample, "subset_sum",
     _each(_subset_sum)),
    ("member", "boolean", _entry, "member", _keys("contains_batch")),
    ("quantile", "double", _entry, "quantile", _each(_quantile)),
    ("range_count", "long", _entry, "range_count",
     _each(lambda part, lo, hi: part.range_count(int(lo), int(hi)))),
    ("count_distinct_group", "double", _group, "count_distinct",
     _estimate),
    ("frequency_group", "long", _group, "frequency",
     _keys("point_query_batch")),
    ("quantile_group", "double", _group, "quantile", _each(_quantile)),
    ("count_distinct_merged", "double", _merged, "count_distinct",
     _estimate),
    ("frequency_merged", "long", _merged, "frequency",
     _keys("point_query_batch")),
)

_DTYPES = {"double": np.float64, "long": np.int64, "boolean": np.bool_}


def _scalar(sp: str, name: str, rtype: str, resolve, verb: str, probe):
    """The one scalar-UDF body: per Arrow batch, each distinct address
    resolves once and its rows are probed in one call."""
    from pyspark.sql.functions import pandas_udf

    n = _arity(resolve)

    def fn(*cols: pd.Series) -> pd.Series:
        addr, args = cols[:n], cols[n:]
        if any(a.isna().any() for a in args):
            raise ValueError(f"{name} argument column contains NULLs; "
                             "filter isNotNull() first")
        out = np.zeros(len(cols[0]), _DTYPES[rtype])
        rows = pd.DataFrame(dict(enumerate(addr))).groupby(
            list(range(n)), sort=False, dropna=False).indices
        for a, idx in rows.items():
            part = _kind(resolve(sp, *a), verb)
            out[idx] = probe(part, *(c.iloc[idx] for c in args))
        return pd.Series(out)

    return pandas_udf(fn, rtype)


def _topk(at, k):
    for key, cnt in _kind(at(), "topk").top_items(int(k)):
        yield int(key), int(cnt)


def _drift(at, seq_old, seq_new):
    b = tv_bounds(*(_kind(at(s), "drift") for s in (seq_old, seq_new)))
    yield (float(b.tv_lb), float(b.tv_ub), int(b.n_a), int(b.n_b),
           int(b.n_candidates))


def _movers(at, seq_old, seq_new, limit=20):
    for tok, p_old, p_new, lb in top_movers(
            *(_kind(at(s), "drift") for s in (seq_old, seq_new)),
            limit=int(limit)):
        yield int(tok), float(p_old), float(p_new), float(lb)


def _table(sp: str, return_type: str, resolve, rows):
    """A table function whose arguments are ``resolve``'s address, then
    ``rows``' own: ``rows(at, *rest)`` yields its output, ``at(seq)``
    resolving the address at epoch ``seq`` (default the latest)."""
    from pyspark.sql.functions import udtf

    n = _arity(resolve)

    class Table:
        def eval(self, *args):
            yield from rows(functools.partial(resolve, sp, *args[:n]),
                            *args[n:])

    return udtf(Table, returnType=return_type)


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
    from pyspark.sql.functions import udtf

    sp = store_path

    @udtf(returnType="key string, status string")
    class GroupsDiff:
        """Fleet-membership changes between two published epochs — the
        SQL twin of ``cat.groups_diff``, through the same
        ``SketchCatalog._groups_diff``: committed row-NAME set
        difference (status 'appeared' / 'disappeared'), each epoch
        pinned to its commit marker's base so pre-rebuild dead groups
        are excluded. Store metadata only — no blob is deserialized."""
        def eval(self, table_path: str, group_col: str, column: str,
                 seq_old: int, seq_new: int):
            yield from SketchCatalog(None, sp)._groups_diff(
                SketchCatalog._gname(table_path, group_col, column),
                seq_old, seq_new)[2]

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
                yield (r["name"], r["table_path"], r["column"],
                       r["group_col"], ",".join(_kinds(spec)), r["seq"])

    @udtf(returnType="verb string, kind string, available boolean, "
                     "preference string, seq bigint, kinds string")
    class Explain:
        """SQL twin of ``cat.explain()``, which it runs: one row per
        verb the entry's shape answers, with the registered kind that
        would serve it — resolved through the SAME ``_VERB_ROUTES``
        preference table the Python answer methods route through, so
        the report can never disagree with routing. Pass
        ``group_col=''`` for a global entry, a real group column for a
        fleet (spec pinned to the committed epoch). No blob is
        deserialized, no table is scanned. Freshness policy enforcement
        stays with the answer verbs; the rows leave out explain()'s
        stale-file count."""
        def eval(self, table_path: str, column: str,
                 group_col: str = ""):
            ex = SketchCatalog(None, sp).explain(
                table_path, column, group_col=group_col or None)
            kinds = ",".join(ex["kinds"])
            for verb, r in sorted(ex["routes"].items()):
                yield (verb, r["kind"], r["available"],
                       ",".join(r["preference"]), ex["seq"], kinds)

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
            cat = SketchCatalog(None, sp)
            label = cat._fidx_label(column, None if ngrams is None else
                                    {"n": ngrams, "seed": ngram_seed})
            _, spec, files = cat._fleet_dict(table_path, cat._FILE_GROUP,
                                             label)
            meta, k = {"catalog_spec": spec}, int(key)
            _part(meta, None, "bloom")
            counts = "cm" in _kinds(spec)
            for f in sorted(files):
                if _part(meta, files[f], "bloom")[1].contains(k):
                    ub = (_part(meta, files[f], "cm")[1].point_query(k)
                          if counts else -1)
                    yield f, int(ub)

    topk = "key bigint, count bigint"
    drift = "tv_lb double, tv_ub double, n_old bigint, n_new bigint, "
    movers = "token bigint, p_old double, p_new double, shift_lb double"
    tables = (("topk", _table(sp, topk, _entry, _topk)),
              ("topk_group", _table(sp, topk, _group, _topk)),
              ("locate", Locate),
              ("drift", _table(sp, drift + "candidates bigint", _entry,
                               _drift)),
              ("top_movers", _table(sp, movers, _entry, _movers)),
              ("drift_group", _table(sp, drift + "n_candidates int",
                                     _group, _drift)),
              ("top_movers_group", _table(sp, movers, _group, _movers)),
              ("groups_diff", GroupsDiff), ("overlap", Overlap),
              ("entries", Entries), ("explain", Explain))
    names = []
    for suffix, rtype, resolve, verb, probe in _SCALARS:
        spark.udf.register(prefix + suffix, _scalar(
            sp, prefix + suffix, rtype, resolve, verb, probe))
        names.append(prefix + suffix)
    for suffix, tvf in tables:
        spark.udtf.register(prefix + suffix, tvf)
        names.append(prefix + suffix)
    return names
