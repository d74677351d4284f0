"""Z-order covering index: the covering slice, clustered by a space-
filling curve over the indexed columns instead of hash buckets.

Reference: zordercovering/ZOrderCoveringIndex.scala:28-189 (single-column
fast path :104-113, multi-column z-address :138-153), ZOrderUDF.scala
:32-100, per-type bit mappings ZOrderField.scala:83-564.

Spark-first realization: the z-address is a vectorized pandas UDF (numpy
bit interleave, Arrow batches — the one place Python touches row data,
and only at build time); layout is ``repartitionByRange(_hs_zaddr)`` +
``sortWithinPartitions`` + plain Parquet.  Query-time benefit needs no
custom reader: after z-clustering, parquet row-group min/max stats prune
aggressively for predicates on ANY indexed column — Spark's native
parquet filter pushdown does the skipping.

Scale: one stats pass (min/max + approxQuantile), one range shuffle
sized by ``zorder.targetSourceBytesPerPartition`` (1 GiB default,
reference IndexConstants.scala:59-64).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from hyperspace_spark.config import DATA_FILE_ID_COLUMN, HyperspaceConf
from hyperspace_spark.indexes.base import (
    FallBackToFull,
    IndexConfig,
    carry_index_files,
    growth_ratio,
    read_index,
)
from hyperspace_spark.metadata.entry import FileIdTracker, FileInfo

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

ZADDR = "_hs_zaddr"


@dataclass
class ZOrderCoveringIndexConfig(IndexConfig):
    indexed_columns: list[str] = field(default_factory=list)
    included_columns: list[str] = field(default_factory=list)
    # Per-index override of spark.hyperspace.index.zorder.
    # targetSourceBytesPerPartition.  Preferred over mutating the
    # session conf around create_index: conf is session-GLOBAL, so two
    # concurrent z-order builds racing on the same key could size each
    # other's range partitioning (and leak a stale value back into the
    # session from the loser's restore).
    target_bytes_per_partition: int | None = None
    # PARTIAL index predicate — same semantics as
    # CoveringIndexConfig.where (indexes/covering.py): only satisfying
    # rows are z-clustered; the planner serves the index only when the
    # query filter provably implies the predicate (ZOrderFilterIndexRule
    # inherits FilterIndexRule's implication gate).
    where: str | None = None

    @property
    def kind(self) -> str:
        return "ZCI"

    def referenced_columns(self) -> list[str]:
        return list(self.indexed_columns) + list(self.included_columns)


# ---------------------------------------------------------------------------
# per-column value -> bounded integer mapping (reference: ZOrderField.scala)
# ---------------------------------------------------------------------------
def _bq(name: str):
    """Column by LITERAL name (backquoted): flattened nested columns
    contain dots that plain string references would parse as paths."""
    from pyspark.sql import functions as F

    return F.col(f"`{name}`") if "." in name else F.col(name)


def _collect_stats(df: "DataFrame", cols: list[str], conf: HyperspaceConf) -> dict:
    """One aggregate job for min/max + optional approxQuantile for floats
    (reference: ZOrderCoveringIndex.collectStats :50-95)."""
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    aggs = []
    for c in cols:
        aggs += [F.min(_bq(c)).alias(f"{c}__min"), F.max(_bq(c)).alias(f"{c}__max")]
    row = df.agg(*aggs).collect()[0].asDict()
    stats: dict = {}
    quantile_cols = [
        c for c in cols if dtypes[c] in ("double", "float") and conf.zorder_quantile_enabled
    ]
    quantiles = {}
    if quantile_cols:
        probs = [i / 256 for i in range(1, 256)]
        # approxQuantile has no literal-name form, so dotted (flattened
        # nested) columns go through dot-free aliases.
        safe = [f"_hs_q{i}" for i in range(len(quantile_cols))]
        qdf = df.select(*[_bq(c).alias(a) for c, a in zip(quantile_cols, safe)])
        qs = qdf.approxQuantile(safe, probs, conf.zorder_quantile_error)
        quantiles = dict(zip(quantile_cols, qs))
    for c in cols:
        stats[c] = {
            "dtype": dtypes[c],
            "min": _to_py(row[f"{c}__min"]),
            "max": _to_py(row[f"{c}__max"]),
            "quantiles": quantiles.get(c),
        }
    return stats


def _to_py(v):
    import datetime
    import decimal

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        # Type-tagged so comparison stays EXACT in Decimal space (a bare
        # string would collide with genuine string columns, whose order
        # is lexicographic; a float would be lossy) and json-serializable
        # (entry.to_json has no default= handler).
        return {"__dec__": str(v)}
    return v


def _str_to_int(s: str) -> int:
    b = s.encode("utf-8", "ignore")[:8]
    return int.from_bytes(b.ljust(8, b"\x00"), "big")


def make_zaddr_udf(cols: list[str], stats: dict, bits_per_col: int):
    """Vectorized z-address: map each column to [0, 2^bits), interleave
    bits with numpy (reference: ZOrderUDF.scala:75-99 — a row-at-a-time
    Scala UDF there; Arrow-batched here)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    nbits = bits_per_col
    ncols = len(cols)
    maxv = (1 << nbits) - 1

    def scale_series(s: pd.Series, st: dict):
        import numpy as np

        dtype = st["dtype"]
        if dtype in ("double", "float") and st.get("quantiles"):
            q = np.asarray(st["quantiles"], dtype=np.float64)
            vals = np.searchsorted(q, s.astype(np.float64).to_numpy(), side="left")
            scaled = vals.astype(np.float64) * maxv / max(1, len(q))
        else:
            if dtype == "string":
                lo = _str_to_int(str(st["min"])) if st["min"] is not None else 0
                hi = _str_to_int(str(st["max"])) if st["max"] is not None else 1
                vals = s.map(lambda x: _str_to_int(str(x)) if x is not None else lo).to_numpy(
                    dtype=np.float64
                )
            elif dtype.startswith("timestamp") or dtype == "date":
                lo_ts, hi_ts = pd.Timestamp(st["min"]), pd.Timestamp(st["max"])
                lo, hi = lo_ts.value, hi_ts.value
                vals = pd.to_datetime(s).astype("int64").to_numpy(dtype=np.float64)
            elif dtype == "boolean":
                lo, hi = 0, 1
                vals = s.fillna(False).astype(np.float64).to_numpy()
            else:  # integral / decimal / float without quantiles
                def num(x, default):
                    if x is None:
                        return default
                    if isinstance(x, dict):  # {"__dec__": ...} from _to_py
                        return float(x["__dec__"])
                    return float(x)

                lo = num(st["min"], 0.0)
                hi = num(st["max"], 1.0)
                vals = pd.to_numeric(s, errors="coerce").fillna(lo).to_numpy(dtype=np.float64)
            span = max(hi - lo, 1e-300) if isinstance(lo, float) else max(hi - lo, 1)
            scaled = (vals - float(lo)) * maxv / float(span)
        out = np.clip(np.nan_to_num(scaled, nan=0.0), 0, maxv).astype(np.uint64)
        return out

    def _zaddr(*series):
        import numpy as np

        n = len(series[0])
        z = np.zeros(n, dtype=np.uint64)
        scaled = [scale_series(s, stats[c]) for s, c in zip(series, cols)]
        for b in range(nbits):
            for i, v in enumerate(scaled):
                z |= ((v >> np.uint64(b)) & np.uint64(1)) << np.uint64(b * ncols + i)
        return pd.Series(z.astype("int64"))

    return F.pandas_udf(_zaddr, LongType())


def create_index_data(
    spark: "SparkSession",
    df: "DataFrame",
    config: ZOrderCoveringIndexConfig,
    conf: HyperspaceConf,
    files: list[FileInfo],
    tracker: FileIdTracker,
    data_dir: str,
    index_name: str,
    version: int,
) -> dict:
    from pyspark.sql import functions as F

    from hyperspace_spark.indexes.covering import flattened_name, index_projection

    # Nested paths flatten to literal `__hs_nested.a.b` column names — the
    # same physical convention as covering indexes, so query-time struct
    # reconstruction (covering._select_reconstructed) works unchanged.
    # The flat names CONTAIN dots, so every by-name reference below must
    # go through _bq (backquoted Column).
    pred_props = {}
    where = getattr(config, "where", None)
    if where:
        from hyperspace_spark.indexes.covering import _apply_partial_predicate

        df, pred_props = _apply_partial_predicate(df, where)
    projected = index_projection(
        spark, df, config.referenced_columns(), conf.lineage_enabled, files, tracker
    )
    idx_flat = [flattened_name(c) for c in config.indexed_columns]

    source_bytes = sum(f.size for f in files)
    target = (
        getattr(config, "target_bytes_per_partition", None)
        or conf.zorder_target_bytes_per_partition
    )
    n_parts = max(1, math.ceil(source_bytes / target))

    stats: dict = {}
    if len(idx_flat) == 1:
        # Single column: plain range partition + sort (reference :104-113).
        out = projected.repartitionByRange(n_parts, _bq(idx_flat[0])).sortWithinPartitions(
            _bq(idx_flat[0])
        )
    else:
        stats = _collect_stats(projected, idx_flat, conf)
        bits = min(16, 63 // len(idx_flat))
        zudf = make_zaddr_udf(idx_flat, stats, bits)
        out = (
            projected.withColumn(ZADDR, zudf(*[_bq(c) for c in idx_flat]))
            .repartitionByRange(n_parts, F.col(ZADDR))
            .sortWithinPartitions(ZADDR)
        )
    out.write.mode("overwrite").parquet(data_dir)
    return {
        "indexedColumns": list(config.indexed_columns),
        "includedColumns": list(config.included_columns),
        "numBuckets": n_parts,
        "lineage": conf.lineage_enabled,
        "schemaJson": out.schema.json(),
        "zorderStats": stats,
        "zorderBits": min(16, 63 // max(1, len(idx_flat))),
        # Persisted so refresh-full rebuilds with the SAME partition
        # sizing the index was created with (not the session default).
        "targetBytesPerPartition": target,
        "fileStats": collect_file_stats(spark, data_dir, list(config.indexed_columns)),
        **pred_props,
    }


def append_index_data(
    spark: "SparkSession",
    df: "DataFrame",
    entry,
    conf: HyperspaceConf,
    files: list[FileInfo],
    tracker: FileIdTracker,
    data_dir: str,
) -> dict:
    """Incremental ZCI refresh: z-cluster ONLY the appended rows into
    their own files under the new version dir (the caller hardlinks the
    retained files in afterwards).  Returns ``(new_file_stats,
    n_new_partitions)`` — the stats merge into the entry's fileStats and
    the partition count adds to numBuckets so a later OPTIMIZE sizes
    its compaction to the GROWN data, not the build-time layout.

    Scaling uses the PERSISTED build-time stats (frozen, like the ANN
    quantizer): appended values outside the original [min, max] clip to
    the boundary z-cells, which degrades CLUSTERING for those rows but
    never CORRECTNESS — query-time pruning compares predicates against
    per-file min/max of the ACTUAL values, computed fresh here.  Global
    interleave quality is restored by the next full refresh; until then
    the layout is exactly what production table formats ship (locally
    clustered deltas over a clustered base).  Deletes and drift beyond
    zorder.maxIncrementalRatio still take the full re-cluster."""
    import math

    from pyspark.sql import functions as F

    from hyperspace_spark.indexes.covering import flattened_name, index_projection

    props = entry.derived_properties
    cols = list(props["indexedColumns"]) + list(props["includedColumns"])
    projected = index_projection(spark, df, cols, props.get("lineage"), files, tracker)
    idx_flat = [flattened_name(c) for c in props["indexedColumns"]]
    target = props.get("targetBytesPerPartition") or conf.zorder_target_bytes_per_partition
    n_parts = max(1, math.ceil(sum(f.size for f in files) / target))
    if len(idx_flat) == 1:
        out = projected.repartitionByRange(
            n_parts, _bq(idx_flat[0])
        ).sortWithinPartitions(_bq(idx_flat[0]))
    else:
        zudf = make_zaddr_udf(idx_flat, props["zorderStats"], props["zorderBits"])
        out = (
            projected.withColumn(ZADDR, zudf(*[_bq(c) for c in idx_flat]))
            .repartitionByRange(n_parts, F.col(ZADDR))
            .sortWithinPartitions(ZADDR)
        )
    out.write.mode("overwrite").parquet(data_dir)
    # Stats over ONLY the new files (the dir holds nothing else yet).
    return collect_file_stats(spark, data_dir, list(props["indexedColumns"])), n_parts


def drop_deleted_rows(
    spark: "SparkSession", entry, deleted_ids: list[int], data_dir: str
) -> tuple[list[str], dict]:
    """Delete-refresh WITHOUT re-clustering (r10, the ANN discipline
    applied to the z-layout and the same shape production table formats
    use for DELETE): only the z-files that contain deleted rows are
    rewritten — their surviving rows keep their z-sort (a filter
    preserves order), every other file hardlinks through via the
    caller's carry.  Clustering is untouched for every surviving row;
    per-file min/max pruning stays exact because the rewritten files'
    stats are recomputed from actual values (small affected files that
    coalesce into one scan partition merge into one output file with a
    wider range — coarser pruning for that file, never incorrect).

    Returns ``(affected_old_paths, new_file_stats)``: the caller skips
    the affected files in its hardlink carry, drops their fileStats rows
    and merges the new ones in."""
    import os as _os

    from pyspark.sql import functions as F

    from hyperspace_spark.indexes.covering import lineage_affected_files

    ids = [int(i) for i in deleted_ids if i is not None]
    paths = lineage_affected_files(read_index(spark, entry), ids)
    if not paths:
        return [], {}
    before = (
        set(_os.listdir(data_dir)) if _os.path.isdir(data_dir) else set()
    )
    (
        read_index(spark, entry, paths)
        .filter(~F.col(DATA_FILE_ID_COLUMN).isin(ids))
        .write.mode("append")
        .parquet(data_dir)
    )
    written = [
        _os.path.join(data_dir, f)
        for f in set(_os.listdir(data_dir)) - before
        if f.endswith(".parquet")
    ]
    stats = (
        collect_file_stats(
            spark, data_dir, list(entry.derived_properties["indexedColumns"]), paths=written
        )
        if written
        else {}
    )
    return paths, stats


def refresh_incremental(
    spark: "SparkSession",
    entry,
    conf: HyperspaceConf,
    live: list[FileInfo],
    appended: list[FileInfo],
    deleted_ids: list[int],
    data_dir: str,
    version: int,
    fs,
) -> dict:
    """Write the next z-order index version under ``data_dir``; returns
    the new derived properties.

    Bounded appends z-cluster LOCALLY into their own files (frozen
    build-time scaling, like the ANN quantizer); retained files hardlink
    through and their per-file min/max pruning stays exact — the
    locally-clustered-delta-over-clustered-base layout production table
    formats ship between OPTIMIZE runs.  Deletes rewrite only the
    z-files holding deleted rows via the lineage anti-filter (surviving
    rows keep their z-sort; the production DELETE shape).  Lineage-free
    legacy entries with deletes and drift beyond
    zorder.maxIncrementalRatio fall back to a full re-cluster; a later
    full refresh restores one global interleave."""
    props = entry.derived_properties
    if deleted_ids and not props.get("lineage"):
        raise FallBackToFull()
    if growth_ratio(live, appended) > conf.zorder_max_incremental_ratio:
        raise FallBackToFull()
    new_stats, n_new_parts = {}, 0
    if appended:
        new_df = entry.relations[0].read(spark, appended)
        if props.get("filterPredicate"):
            # Partial z-order index: appended files contribute only
            # predicate rows (create-path parity).
            new_df = new_df.filter(props["filterPredicate"])
        new_stats, n_new_parts = append_index_data(
            spark, new_df, entry, conf, appended, entry.file_id_tracker, data_dir
        )
    skip_files: list[str] = []
    if deleted_ids:
        skip_files, survivor_stats = drop_deleted_rows(spark, entry, deleted_ids, data_dir)
        new_stats = {**new_stats, **survivor_stats}
    carry_index_files(fs, entry, data_dir, skip_files=skip_files)
    if props.get("fileStats"):
        merged = dict(props["fileStats"])
        for p in skip_files:
            merged.pop(p.rsplit("/", 1)[-1], None)
        merged.update(new_stats)
        # Same log-size guard collect_file_stats enforces at build: past
        # the cap, drop the stats (pruning disables, correctness
        # unaffected) rather than bloat every future log entry.
        props["fileStats"] = merged if len(merged) <= _FILESTATS_MAX_FILES else {}
    # OPTIMIZE sizes its per-layout compaction from numBuckets: account
    # for the appended partitions or the grown index compacts back into
    # the build-time count (files ~2x target after repeated appends).
    props["numBuckets"] = int(props.get("numBuckets", 0)) + int(n_new_parts)
    return props


# ---------------------------------------------------------------------------
# per-file min/max stats -> driver-side file pruning (zero Spark jobs at
# query time).  The z/range-clustered layout makes per-file ranges TIGHT
# on the indexed columns, so this is where the z-order layout pays off:
# a filter on any indexed column reads only the files whose range
# intersects the predicate.  The stats live in the log entry (computed
# once at build, one tiny agg job over the index data); at 100 TB with
# ~1 GB partitions that's ~100k rows of min/max — metadata-scale.
# Reference analogue: composing a MinMax data-skipping index over the
# z-ordered layout (dataskipping/sketches/MinMaxSketch.scala) — here it
# is built in, with the prune evaluated driver-side like the bucket
# pruning in covering.py.
# ---------------------------------------------------------------------------
_FILESTATS_MAX_FILES = 65536  # log-entry size guard: beyond this, skip


def collect_file_stats(
    spark: "SparkSession", data_dir: str, cols: list[str], paths: list[str] | None = None
) -> dict:
    """{file basename: {col: [min, max]}} over the written index data.

    Keys are the ORIGINAL (possibly dotted) indexed-column names — the
    spelling query predicates use; physical reads go through the
    flattened `__hs_nested.` columns.  ``paths`` scopes the scan to
    specific files (delete-refresh stats only the files it rewrote)."""
    from pyspark.sql import functions as F

    from hyperspace_spark.indexes.covering import flattened_name

    aggs = []
    for c in cols:
        aggs += [
            F.min(_bq(flattened_name(c))).alias(f"{c}__lo"),
            F.max(_bq(flattened_name(c))).alias(f"{c}__hi"),
        ]
    src = spark.read.parquet(*paths) if paths else spark.read.parquet(data_dir)
    rows = (
        src
        .groupBy(F.element_at(F.split(F.input_file_name(), "/"), -1).alias("_f"))
        .agg(*aggs)
        .collect()
    )
    if len(rows) > _FILESTATS_MAX_FILES:
        return {}
    out = {}
    for r in rows:
        d = r.asDict()
        out[d["_f"]] = {c: [_to_py(d[f"{c}__lo"]), _to_py(d[f"{c}__hi"])] for c in cols}
    return out


def _coerce(v, ref):
    """Coerce a literal/stat value for comparison against ``ref``'s type.
    Returns None when no sound comparison exists (caller keeps the file)."""
    if isinstance(ref, bool) or isinstance(v, bool):
        return v if isinstance(v, bool) else None
    if isinstance(ref, dict) or isinstance(v, dict):
        # Decimal stats ({"__dec__": "123.45"}, see _to_py): exact
        # Decimal-space comparison against numeric literals.
        import decimal

        x = v.get("__dec__") if isinstance(v, dict) else v
        try:
            return decimal.Decimal(str(x))
        except (decimal.InvalidOperation, TypeError, ValueError):
            return None
    if isinstance(ref, (int, float)):
        # int-vs-int compares EXACTLY: float coercion folds values above
        # 2^53 together, which makes strict-inequality pruning unsound
        # (a file with min == literal would be dropped for `< literal+1`).
        if isinstance(v, int) and isinstance(ref, int):
            return v
        try:
            return float(v)
        except (TypeError, ValueError):
            return None
    if isinstance(ref, str):
        # Temporal stats are stored as ISO strings; literals arrive as
        # "1996-01-01 00:00:00" — normalize via fromisoformat when the
        # ref looks temporal, else compare as plain strings.
        if _looks_temporal(ref):
            dv = _parse_temporal(str(v))
            dref = _parse_temporal(ref)
            return None if dv is None or dref is None else dv
        return str(v) if isinstance(v, str) else None
    return None


def _looks_temporal(s: str) -> bool:
    return len(s) >= 10 and s[4:5] == "-" and s[7:8] == "-"


def _parse_temporal(s: str):
    import datetime

    try:
        if len(s) == 10:
            return datetime.datetime.fromisoformat(s + " 00:00:00")
        return datetime.datetime.fromisoformat(s.replace("T", " "))
    except ValueError:
        return None


def _range_might_match(op: str, lo, hi, lit_v) -> bool:
    """Can a value v in [lo, hi] satisfy ``v op lit_v``?  Conservative."""
    if lo is None and hi is None:
        return False  # file has no non-null values for this column
    ref = lo if lo is not None else hi
    v = _coerce(lit_v, ref)
    clo = _coerce(lo, ref) if lo is not None else None
    chi = _coerce(hi, ref) if hi is not None else None
    if v is None or clo is None or chi is None:
        return True  # can't compare soundly: keep the file
    try:
        if op in ("=", "<=>"):
            return clo <= v <= chi
        if op == "<":
            return clo < v
        if op == "<=":
            return clo <= v
        if op == ">":
            return chi > v
        if op == ">=":
            return chi >= v
    except TypeError:
        # e.g. aware datetime probe vs naive stored stats: incomparable
        # representations must KEEP the file (and never kill the whole
        # rewrite via the caller's catch-all), not crash.
        return True
    return True


def might_match_file(cond, col_stats: dict) -> bool:
    """Driver-side sound over-approximation of 'this index file can
    contain a matching row', from per-file min/max of indexed columns."""
    from hyperspace_spark.indexes.sketches import _lit_python
    from hyperspace_spark.planner.expr import Attr, BoolOp, Cmp, InExpr, Lit, NotExpr

    def ev(e) -> bool:
        if isinstance(e, BoolOp):
            if e.op == "and":
                return all(ev(c) for c in e.children)
            return any(ev(c) for c in e.children)
        if isinstance(e, NotExpr):
            return True  # cannot soundly negate an over-approximation
        if isinstance(e, Cmp) and isinstance(e.left, Attr) and isinstance(e.right, Lit):
            if e.left.cast_to or e.left.name not in col_stats:
                return True
            if e.right.is_null:
                # '= NULL' never matches; '<=> NULL' matches only null rows,
                # which min/max stats don't track.
                return e.op == "<=>"
            lo, hi = col_stats[e.left.name]
            return _range_might_match(e.op, lo, hi, _lit_python(e.right))
        if isinstance(e, InExpr) and isinstance(e.child, Attr) and e.child.name in col_stats:
            if e.child.cast_to:
                return True
            lo, hi = col_stats[e.child.name]
            return any(
                True if v.is_null else _range_might_match("=", lo, hi, _lit_python(v))
                for v in e.values
            )
        return True

    return ev(cond)


def stats_pruned_files(entry, cond) -> list[str] | None:
    """Index data files whose min/max ranges might satisfy ``cond``;
    None = no stats / nothing pruned (caller does a full read)."""
    stats = entry.derived_properties.get("fileStats") or {}
    if not stats:
        return None
    kept = []
    for f in entry.content_files:
        base = f.path.rsplit("/", 1)[-1]
        st = stats.get(base)
        if st is None or might_match_file(cond, st):
            kept.append(f.path)
    if len(kept) >= len(entry.content_files):
        return None
    return kept


def rewrite_zorder_data(spark: "SparkSession", df: "DataFrame", props: dict, data_dir: str) -> None:
    """Optimize-time compaction: re-range-partition + sort the existing
    index data (z-address already materialized for multi-column).
    Recomputes fileStats — the old per-file ranges are void after the
    rewrite."""
    from pyspark.sql import functions as F

    from hyperspace_spark.indexes.covering import flattened_name

    key = ZADDR if ZADDR in df.columns else flattened_name(props["indexedColumns"][0])
    n = max(1, int(props.get("numBuckets", 1)))
    df.repartitionByRange(n, _bq(key)).sortWithinPartitions(_bq(key)).write.mode(
        "overwrite"
    ).parquet(data_dir)
    props["fileStats"] = collect_file_stats(spark, data_dir, props["indexedColumns"])

