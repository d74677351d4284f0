"""Data-skipping index: one row of sketch aggregates per source file.

Reference: dataskipping/DataSkippingIndex.scala:36-280 (build :291-328,
predicate translation :143-262), DataSkippingFileIndex.scala:40-61
(query-time pruning join).

Spark-first realization: the build is a single
``groupBy(input_file_name())`` aggregation — map-side partial aggregation
makes this one scan + a tiny shuffle keyed by file name; the index holds
|source files| rows regardless of data size, so at 100 TB with ~400 MB
files it is ~250k rows.

Query-time pruning diverges from the reference, which runs a nested
Spark job inside planning for every query (join the candidate files
with the index data, collect the survivors).  An index version's data
never changes once written, so the first lookup against a version
collects its sketch rows into a driver-side ``LocalRelation``, held per
index and keyed on the version's content (``base.version_slot``); every
later lookup filters those rows in the driver with no Spark job.  The
metadata-only aggregate fold folds the same held rows, so pruning and
folding share one copy per version, dropped with the rest of the
version cache by every lifecycle operation.  Versions larger on disk
than ``SKETCH_CACHE_MAX_BYTES`` are read per lookup (pruning keeps the
reference's read-and-collect job) and per fold, and Bloom probes remain
a pandas-UDF filter that starts a job.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from hyperspace_spark.config import DATA_FILE_ID_COLUMN
from hyperspace_spark.indexes.base import IndexConfig, read_index, version_slot
from hyperspace_spark.indexes.sketches import BloomFilterSketch, Sketch, sketch_from_json
from hyperspace_spark.metadata.entry import FileIdTracker, FileInfo
from hyperspace_spark.planner.expr import BoolOp, Expr, NotExpr

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


@dataclass
class DataSkippingIndexConfig(IndexConfig):
    sketches: list[Sketch] = field(default_factory=list)

    @property
    def kind(self) -> str:
        return "DS"

    def referenced_columns(self) -> list[str]:
        return [c for s in self.sketches for c in s.columns]


def _norm_file_col(col):
    """input_file_name() returns a URI (file:///x); strip the scheme but
    KEEP percent-encoding — the id map encodes its paths the same way
    (uri_quote_path), so encoded forms join exactly."""
    from pyspark.sql import functions as F

    return F.regexp_replace(col, "^file:/+", "/")


def _file_key(path: str) -> str:
    from hyperspace_spark.indexes.covering import uri_quote_path

    return uri_quote_path(path)


def _sketch_per_file(df: "DataFrame", sketches: list[Sketch]) -> "DataFrame":
    """One row per source file with all sketch aggregates.

    JVM aggregates (min/max/collect_set/first — partial-aggregated
    map-side, tiny shuffle) and pandas grouped-agg UDFs (Bloom — Spark
    shuffles raw values to Python) cannot share one ``agg()``; run one
    pass per flavor over only the needed columns and join the per-file
    results (|files| rows each, trivially cheap)."""
    from pyspark.sql import functions as F

    jvm_aggs, pandas_aggs = [], []
    for sk in sketches:
        target = pandas_aggs if isinstance(sk, BloomFilterSketch) else jvm_aggs
        for col, name in sk.agg_exprs():
            target.append(col.alias(name))

    keyed = df.withColumn("_hs_file", _norm_file_col(F.input_file_name()))
    parts = []
    if jvm_aggs:
        parts.append(keyed.groupBy("_hs_file").agg(*jvm_aggs))
    if pandas_aggs:
        parts.append(keyed.groupBy("_hs_file").agg(*pandas_aggs))
    out = parts[0]
    for p in parts[1:]:
        out = out.join(p, "_hs_file", "full_outer")
    return out


def _id_mapped_sketches(spark, df, sketches, files, tracker) -> "DataFrame":
    """Per-file sketch rows of ``df`` keyed by the files' tracker ids
    (broadcast id join)."""
    from pyspark.sql import functions as F

    idmap = spark.createDataFrame(
        [(_file_key(f.path), tracker.add_or_get(f)) for f in files],
        f"_hs_file string, {DATA_FILE_ID_COLUMN} long",
    )
    per_file = _sketch_per_file(df, sketches)
    return per_file.join(F.broadcast(idmap), "_hs_file", "inner").drop("_hs_file")


def create_index_data(
    spark: "SparkSession",
    df: "DataFrame",
    config: DataSkippingIndexConfig,
    conf,
    files: list[FileInfo],
    tracker: FileIdTracker,
    data_dir: str,
    index_name: str,
    version: int,
) -> dict:
    """groupBy(input_file_name()) sketch aggregation + broadcast id join
    (reference: DataSkippingIndex.createIndexData :291-317)."""
    index_df = _id_mapped_sketches(spark, df, config.sketches, files, tracker)

    # Size-targeted repartition (reference: DataSkippingIndex.scala:196-204):
    # ~1 KB per row estimate; clamp by the max-file-count knob.
    n = max(1, min(conf.skipping_max_file_count, math.ceil(len(files) * 1024 / conf.skipping_target_file_size)))
    index_df.repartition(n).write.mode("overwrite").parquet(data_dir)
    return {
        "sketches": [s.to_json() for s in config.sketches],
        "schemaJson": index_df.schema.json(),
    }


def refresh_incremental(
    spark: "SparkSession",
    entry,
    conf,
    live: list[FileInfo],
    appended: list[FileInfo],
    deleted_ids: list[int],
    data_dir: str,
    version: int,
    fs,
) -> dict:
    """Write the next sketch version under ``data_dir``: sketch only the
    appended files (read like the build scan, reader options included)
    and drop the rows of deleted files by id (reference:
    RefreshIncrementalAction + DataSkippingIndex.scala:90-103 left-anti
    semantics — expressed as a NOT IN filter over the tiny per-file
    index, which Catalyst compiles to the same thing).  Returns the
    derived properties unchanged; the caller records the version."""
    from pyspark.sql import functions as F

    props = entry.derived_properties
    merged = read_index(spark, entry)
    if deleted_ids:
        merged = merged.filter(~F.col(DATA_FILE_ID_COLUMN).isin(deleted_ids))
    if appended:
        sketches = [sketch_from_json(s) for s in props["sketches"]]
        new_src = entry.relations[0].read(spark, appended)
        merged = merged.unionByName(
            _id_mapped_sketches(spark, new_src, sketches, appended, entry.file_id_tracker)
        )
    merged.repartition(1).write.mode("overwrite").parquet(data_dir)
    return props


# ---------------------------------------------------------------------------
# predicate translation (reference: DataSkippingIndex.scala:143-185)
# ---------------------------------------------------------------------------
@dataclass
class SkipPredicate:
    """Translated predicate: SQL over sketch columns + bloom probes."""

    sql: str | None  # None => no pruning possible
    bloom_probes: list[tuple[BloomFilterSketch, list]] = field(default_factory=list)

    @property
    def trivial(self) -> bool:
        return self.sql is None and not self.bloom_probes


_TRUE = "true"


def translate(cond: Expr, sketches: list[Sketch]) -> SkipPredicate:
    """Source predicate -> file-might-match predicate.

    Soundness rule (truth-table-preserving fallback, reference
    :159-177): any unconvertible term becomes TRUE.  Under AND a TRUE
    term just drops out; an OR with any TRUE branch is TRUE overall.
    """
    probes: list[tuple[BloomFilterSketch, list]] = []

    def conv(e: Expr, in_or: bool) -> str:
        if isinstance(e, BoolOp):
            inner_or = in_or or e.op == "or"
            parts = [conv(c, inner_or) for c in e.children]
            if e.op == "and":
                parts = [p for p in parts if p != _TRUE]
                return "(" + " AND ".join(parts) + ")" if parts else _TRUE
            if any(p == _TRUE for p in parts):
                return _TRUE
            return "(" + " OR ".join(parts) + ")"
        if isinstance(e, NotExpr):
            return _TRUE  # cannot soundly negate a might-match approximation
        for sk in sketches:
            if isinstance(sk, BloomFilterSketch):
                vals = sk.probe_values(e)
                if vals is not None:
                    if in_or:
                        # Probes are ANDed at the top level; a probe born
                        # inside an OR branch cannot be ANDed soundly —
                        # the other branch's rows would be dropped.
                        return _TRUE
                    probes.append((sk, vals))
                    return _TRUE  # probe applied separately, driver-side
            else:
                s = sk.convert(e)
                if s is not None:
                    return s
        return _TRUE

    sql = conv(cond, in_or=False)
    return SkipPredicate(None if sql == _TRUE else sql, probes)


# On-disk bytes (sum of content-file sizes) up to which an index
# version's sketch rows are held in the driver.  Min/max rows are tiny,
# but Bloom blobs scale with file count times filter size; above the
# bound every lookup reads the index data with a Spark job instead.
SKETCH_CACHE_MAX_BYTES = 8 << 20


def _sketch_frame(spark: "SparkSession", entry, slot: dict | None) -> "DataFrame":
    """The per-file sketch rows of ``entry``'s version.  Small versions
    are collected once into a driver-side ``LocalRelation`` held in
    ``slot``, so later filters over it fold to local rows (Catalyst's
    ``ConvertToLocalRelation``) and start no Spark job.  File pruning
    and the metadata-only aggregate fold (``rules.MetadataOnlyAggRule``)
    both read through here, so one index version's rows are held once."""
    from pyspark.sql import DataFrame

    if slot is None or sum(f.size for f in entry.content_files) > SKETCH_CACHE_MAX_BYTES:
        return read_index(spark, entry)
    df = slot.get("sketch")
    if df is None:
        jdf = read_index(spark, entry)._jdf
        df = slot["sketch"] = DataFrame(
            spark._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema()), spark
        )
    return df


def prune_file_ids(
    spark: "SparkSession",
    entry,
    pred: SkipPredicate,
    cache: dict | None = None,
) -> set[int] | None:
    """Ids of indexed files that MIGHT contain matches; None = no pruning.

    The reference runs a nested Spark job per query
    (DataSkippingFileIndex.scala:40-61): join the candidate files with the
    index data and collect the survivors.  Here the filter runs over the
    version's sketch rows held in the driver (``cache``: index name ->
    content fingerprint and frames, see ``version_slot``), loaded by one
    job the first time a version is probed; later lookups filter local
    rows and start no job.  Versions above ``SKETCH_CACHE_MAX_BYTES`` and
    calls without a cache read the index data and filter it with a job,
    as the reference does.  Bloom probes stay a pandas-UDF filter, so a
    predicate with one still starts a job (over the cached rows).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType

    if pred.trivial:
        return None
    df = _sketch_frame(spark, entry, version_slot(cache, entry))
    if pred.sql:
        df = df.filter(pred.sql)
    for sk, vals in pred.bloom_probes:
        m, k = sk.params()
        col = f"{sk.prefix()}__bloom"

        def make_probe(_vals=vals, _m=m, _k=k):
            from hyperspace_spark.indexes.sketches import bloom_might_contain

            def _probe(blobs):
                import pandas as pd

                return pd.Series(
                    [
                        blob is None or any(bloom_might_contain(bytes(blob), v, _m, _k) for v in _vals)
                        for blob in blobs
                    ]
                )

            return F.pandas_udf(_probe, BooleanType(), F.PandasUDFType.SCALAR)

        df = df.filter(make_probe()(F.col(col)))
    return {r[0] for r in df.select(DATA_FILE_ID_COLUMN).collect()}
