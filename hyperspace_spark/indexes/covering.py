"""Covering index: a vertical slice of the source, hash-bucketed and
sorted by the indexed columns.

Substitutes for a scan in filter queries and eliminates the shuffle in
equi-joins (reference: index/covering/CoveringIndex.scala:29-104,
CoveringIndexTrait.scala:32-135).  Spark-first realization: the slice is
written as a **bucketed, sorted Parquet table** (``bucketBy(n, keys)
.sortBy(keys).saveAsTable``), so Spark's own planner exploits the layout
— bucket pruning for selective filters, Exchange-free sort-merge joins —
with no custom physical operators.

Scale notes (100 TB): the only shuffle is the one bucketed write at
build time (``repartition(numBuckets, keys)`` — the same shuffle every
join on these keys would otherwise pay, paid once).  Lineage id
attachment is a broadcast join against a (file -> id) map, never a
shuffle.  Bucket count defaults to spark.sql.shuffle.partitions and
should be sized so each bucket is a few hundred MB at the target scale.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from hyperspace_spark.config import DATA_FILE_ID_COLUMN, NESTED_PREFIX, HyperspaceConf
from hyperspace_spark.indexes.base import (
    IndexConfig,
    carry_index_files,
    read_index,
    version_slot,
)
from hyperspace_spark.metadata.entry import FileIdTracker, FileInfo

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


@dataclass
class CoveringIndexConfig(IndexConfig):
    indexed_columns: list[str] = field(default_factory=list)
    included_columns: list[str] = field(default_factory=list)
    # Explicit bucket count for THIS index (None -> session conf / auto
    # data-sized).  Pin equal counts on both sides of a planned join pair
    # when their sizes diverge past coalesceBucketsInJoin's ratio.
    num_buckets: int | None = None
    # PARTIAL index (PostgreSQL `CREATE INDEX ... WHERE` analogue —
    # extension beyond the reference, whose indexes are always
    # whole-table): a deterministic SQL predicate; only satisfying rows
    # are indexed.  The planner serves a scan from this index only when
    # the query filter PROVABLY implies the predicate
    # (planner/implication.py).  At 100 TB this is the hot-subset play:
    # an index over the 2% of rows a dashboard family actually touches
    # costs 2% of the build and the storage.
    where: str | None = None

    @property
    def kind(self) -> str:
        return "CI"

    def referenced_columns(self) -> list[str]:
        return list(self.indexed_columns) + list(self.included_columns)


def table_name(index_name: str, version: int) -> str:
    return f"hs_{index_name}_v{version}".lower()


def flattened_name(col: str) -> str:
    from hyperspace_spark.config import NESTED_PREFIX as _P

    return _P + col if "." in col else col


def with_lineage(
    df: "DataFrame",
    spark: "SparkSession",
    files: list[FileInfo],
    tracker: FileIdTracker,
) -> "DataFrame":
    """Attach the _data_file_id lineage column.

    input_file_name() -> broadcast join against the (path -> id) map
    (reference: CoveringIndex.scala:152-189; join at :182-186).  The map
    has one row per source file — always broadcastable.
    """
    from pyspark.sql import functions as F

    rows = [(_as_uri(f.path), tracker.add_or_get(f)) for f in files]
    idmap = spark.createDataFrame(rows, f"_hs_path string, {DATA_FILE_ID_COLUMN} long")
    return (
        df.withColumn("_hs_path", F.input_file_name())
        .join(F.broadcast(idmap), "_hs_path", "left")
        .drop("_hs_path")
    )


def index_projection(
    spark: "SparkSession",
    df: "DataFrame",
    cols: list[str],
    lineage: bool,
    files: list[FileInfo],
    tracker: FileIdTracker,
) -> "DataFrame":
    """The index slice of ``df``: ``cols``, nested paths flattened to
    top-level ``__hs_nested.a.b.c`` columns (reference: ResolverUtils
    nested prefix, util/ResolverUtils.scala:86), plus the lineage column
    of ``files`` when ``lineage``."""
    from pyspark.sql import functions as F

    if lineage:
        df = with_lineage(df, spark, files, tracker)
    return df.select(
        *[F.col(c).alias(flattened_name(c)) if "." in c else F.col(c) for c in cols],
        *([F.col(DATA_FILE_ID_COLUMN)] if lineage else []),
    )


def uri_quote_path(path: str) -> str:
    """Percent-encode a filesystem path the way java.net.URI (and thus
    input_file_name()) renders it: everything outside RFC-2396
    unreserved+punct is %XX-encoded (space -> %20, '+' kept, etc.).
    Without this, files with spaces silently miss the lineage/id joins."""
    from urllib.parse import quote

    return quote(path, safe="_-!.~'()*,;:$&+=/@")


def _as_uri(path: str) -> str:
    """Normalize to the URI form input_file_name() produces."""
    if "://" in path or path.startswith("file:"):
        return path
    return "file://" + uri_quote_path(path)


def uri_to_path(uri: str) -> str:
    """Inverse of _as_uri for local files: a file: URI as produced by
    input_file_name() back to a plain filesystem path (unquotes the
    %XX escapes _as_uri/java.net.URI introduce)."""
    from urllib.parse import unquote

    p = unquote(uri)
    if p.startswith("file://"):
        return p[len("file://") :]
    if p.startswith("file:"):
        return p[len("file:") :]
    return p


def lineage_affected_files(df: "DataFrame", deleted_ids: list[int]) -> list[str]:
    """Paths of the index data files (of the frame's scan) that contain
    any row whose lineage id is in ``deleted_ids`` — the shared
    affected-file detection behind every per-file delete-refresh (ANN /
    ZCI / TXT).  One column-pruned scan of the lineage column grouped by
    input file; the driver result is file-count-scale (the same bound as
    the kept-file pruning in DataSkippingFileIndex.scala:40-61)."""
    from pyspark.sql import functions as F

    ids = [int(i) for i in deleted_ids if i is not None]
    if not ids:
        return []
    uris = [
        r[0]
        for r in df.filter(F.col(DATA_FILE_ID_COLUMN).isin(ids))
        .select(F.input_file_name())
        .distinct()
        .collect()
    ]
    return [uri_to_path(u) for u in uris]


def create_index_data(
    spark: "SparkSession",
    df: "DataFrame",
    config: CoveringIndexConfig,
    conf: HyperspaceConf,
    files: list[FileInfo],
    tracker: FileIdTracker,
    data_dir: str,
    index_name: str,
    version: int,
) -> dict:
    """Build and write one version of covering-index data; returns derived
    properties for the log entry."""
    tbl = table_name(index_name, version)
    pred_props = {}
    where = getattr(config, "where", None)
    if where:
        df, pred_props = _apply_partial_predicate(df, where)
    projected = index_projection(
        spark, df, config.referenced_columns(), conf.lineage_enabled, files, tracker
    )

    bucket_cols = [flattened_name(c) for c in config.indexed_columns]
    num_buckets = getattr(config, "num_buckets", None) or conf.resolve_num_buckets(
        sum(f.size for f in files), spark.sparkContext.defaultParallelism
    )
    write_bucketed(spark, projected, bucket_cols, num_buckets, data_dir, tbl)
    return {
        "indexedColumns": list(config.indexed_columns),
        "includedColumns": list(config.included_columns),
        "numBuckets": num_buckets,
        "lineage": conf.lineage_enabled,
        "schemaJson": projected.schema.json(),
        "tableName": tbl,
        **pred_props,
    }


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
    """Write the next covering-index version under ``data_dir`` from the
    source delta; returns the new derived properties.

    Append-only delta (the common 100 TB shape: new files land, nothing
    deleted): write ONLY the appended rows as additional bucket files
    and hardlink the existing index files into the new version dir —
    zero read or write amplification on the already-indexed data.
    Multiple files per bucket are fine for Spark's bucketed scan (it
    groups by the bucket id in the file name); quick optimize later
    compacts the accumulation.  Deletes rewrite the index minus the
    deleted files' rows (lineage anti-filter)."""
    from pyspark.sql import functions as F

    from hyperspace_spark.hyperspace import HyperspaceException

    props = entry.derived_properties
    lineage = props.get("lineage", False)
    if deleted_ids and not lineage:
        raise HyperspaceException("cannot handle deleted files without lineage")
    append_only = bool(appended) and not deleted_ids
    parts = []
    if not append_only:
        old = read_index(spark, entry)
        if deleted_ids:
            old = old.filter(~F.col(DATA_FILE_ID_COLUMN).isin(deleted_ids))
        parts = [old]
    if appended:
        new_df = entry.relations[0].read(spark, appended)
        if props.get("filterPredicate"):
            # Partial index: appended files contribute only the rows
            # satisfying the build predicate, exactly like the create path.
            new_df = new_df.filter(props["filterPredicate"])
        cols = props["indexedColumns"] + props["includedColumns"]
        parts.append(
            index_projection(spark, new_df, cols, lineage, appended, entry.file_id_tracker)
        )
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    tbl = table_name(entry.name, version)
    bucket_cols = [flattened_name(c) for c in props["indexedColumns"]]
    write_bucketed(spark, merged, bucket_cols, props["numBuckets"], data_dir, tbl)
    if append_only:
        carry_index_files(fs, entry, data_dir)
    return {**props, "tableName": tbl}


def _apply_partial_predicate(df: "DataFrame", where: str) -> tuple:
    """Filter the build frame by the partial-index predicate and return
    (filtered_df, entry_properties).  The predicate is parsed from the
    filtered frame's OPTIMIZED plan — the same plan surface the query-
    side planner parses (planner/parser.py:52), so Catalyst's canonical
    rendering (added IsNotNull constraints, folded casts, literal
    spellings) matches textually between build and probe and the
    implication check's exact-SQL fast path fires."""
    from hyperspace_spark.hyperspace import HyperspaceException
    from hyperspace_spark.planner.expr import parse_expr
    from hyperspace_spark.planner.implication import expr_to_json

    fdf = df.filter(where)
    jplan = fdf._jdf.queryExecution().optimizedPlan()
    if jplan.getClass().getSimpleName() != "Filter":
        raise HyperspaceException(
            f"partial-index `where` predicate {where!r} optimized away — a "
            "trivially-true/false or unfilterable predicate cannot define a "
            "partial index"
        )
    if not bool(jplan.condition().deterministic()):
        raise HyperspaceException(
            f"partial-index `where` predicate {where!r} is non-deterministic; "
            "the planner could never prove a query implies it"
        )
    cond = parse_expr(jplan.condition())
    return fdf, {
        "filterPredicate": cond.sql,
        "filterPredicateExpr": expr_to_json(cond),
    }


def write_bucketed(
    spark: "SparkSession",
    df: "DataFrame",
    bucket_cols: list[str],
    num_buckets: int,
    data_dir: str,
    tbl: str,
    mode: str = "overwrite",
) -> None:
    """Bucketed + sorted Parquet write at an explicit path.

    PySpark's bucketBy requires saveAsTable (the reference sidesteps this
    with internal APIs, DataFrameWriterExtensions.scala:50-68); we register
    an external table whose LOCATION is the index data directory — the
    catalog entry is session-scoped scaffolding, the files on the lake are
    the durable artifact and are re-registered on demand at query time.
    """
    from pyspark.sql import functions as F

    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    # Backtick-quote dotted (flattened-nested) column names so they are
    # treated as names, not struct paths.
    part_cols = [F.col(f"`{c}`") if "." in c else F.col(c) for c in bucket_cols]
    (
        df.repartition(num_buckets, *part_cols)
        .write.format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .option("path", data_dir)
        .mode(mode)
        .saveAsTable(tbl)
    )


import re as _re

# saveAsTable bucketed file naming: part-00000-<uuid>_00003.c000.snappy.parquet
_BUCKET_FILE_RE = _re.compile(r"_(\d{5})\.c\d+")


_MAX_BUCKET_COMBOS = 64  # IN x IN cartesian cap: plan/driver-work safety


def bucket_pruned_files_multi(entry, lits_per_col) -> list[str] | None:
    """Index data files that can contain rows matching the equality/IN
    literals pinning EVERY bucket column; None = can't prune (full read).

    Driver-side Spark-compatible murmur3 (planner/mmh3.py) maps each
    literal combination to its bucket id — for a COMPOSITE bucket key the
    per-column hashes chain exactly like Spark's Murmur3Hash fold
    (bucket_id_multi), so a k-column index point probe still reads
    numBuckets'th of the index.  IN-lists cross-product per column,
    capped at _MAX_BUCKET_COMBOS combinations.  Conf-free: composes with
    a plain parquet read, so neither autoBucketedScan nor
    DisableUnnecessaryBucketedScan matters.
    """
    import itertools

    from hyperspace_spark.indexes.sketches import _lit_python
    from hyperspace_spark.planner.mmh3 import bucket_id_multi

    props = entry.derived_properties
    n = int(props.get("numBuckets", 0))
    indexed = props.get("indexedColumns", [])
    if n <= 1 or not indexed or not lits_per_col or len(lits_per_col) != len(indexed):
        return None
    if any(not col_lits for col_lits in lits_per_col):
        return None
    combos = 1
    for col_lits in lits_per_col:
        combos *= len(col_lits)
    if combos > _MAX_BUCKET_COMBOS:
        return None
    try:
        schema = json.loads(props["schemaJson"])
        schema_types = {f["name"]: f["type"] for f in schema["fields"]}
    except Exception:
        return None
    dtypes = []
    for c in indexed:
        dt = schema_types.get(flattened_name(c))
        if not isinstance(dt, str):
            return None  # nested/complex bucket column: skip
        dtypes.append(dt)
    # Catalyst renders TIMESTAMP literals as wall-clock text in the
    # session timezone; the hasher needs it to recover physical micros.
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    # No active session => the wall-clock zone of a TIMESTAMP literal is
    # unknowable; assuming UTC would hash the wrong instant and prune a
    # matching file (the unsound direction).  Skip pruning instead —
    # timestamp_ntz is zone-free and stays prunable.
    session_tz = (
        active.conf.get("spark.sql.session.timeZone", "UTC") if active else None
    )
    py_per_col = []
    for col_lits, dtype in zip(lits_per_col, dtypes):
        vals = []
        for lit in col_lits:
            if lit.is_null:
                vals.append(None)
                continue
            if lit.dtype != dtype:
                return None  # type mismatch build-vs-probe: unsound to hash
            if session_tz is None and dtype == "timestamp":
                return None
            vals.append(_lit_python(lit))
        py_per_col.append(vals)
    wanted: set[int] = set()
    for combo in itertools.product(*py_per_col):
        b = bucket_id_multi(list(combo), dtypes, n, session_tz=session_tz or "UTC")
        if b is None:
            return None
        wanted.add(b)
    out = []
    for f in entry.content_files:
        m = _BUCKET_FILE_RE.search(f.path.rsplit("/", 1)[-1])
        if m is None:
            return None  # unexpected layout: never guess
        if int(m.group(1)) in wanted:
            out.append(f.path)
    return out


def ensure_bucketed_table(spark: "SparkSession", entry) -> str | None:
    """Re-register the index's external bucketed table in this session's
    catalog (no-op if present).  Returns the table name, or None if the
    index data is not registrable as a single bucketed location.

    The registered name is suffixed with a hash of the DATA LOCATION:
    index names repeat across Hyperspace system paths (two workspaces
    each build a "w_li_join" v0), and the bare build-time name is
    session-global — reusing a same-named catalog entry registered by
    another workspace would silently serve THAT workspace's data (a
    wrong-results bug, observed across scale-factor workspaces in one
    session).  Location-keyed names make the catalog entry 1:1 with the
    files it fronts."""
    import hashlib

    from pyspark.sql.types import StructType

    props = entry.derived_properties
    tbl = props.get("tableName")
    if not tbl or len(entry.index_data_dirs) != 1:
        return None
    loc = entry.index_data_dirs[0]
    reg = f"{tbl}_{hashlib.md5(loc.encode()).hexdigest()[:8]}"
    if spark.catalog.tableExists(reg):
        return reg
    schema = StructType.fromJson(json.loads(props["schemaJson"]))
    cols_ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    keys = ", ".join(f"`{c}`" for c in props["indexedColumns"])
    spark.sql(
        f"CREATE TABLE {reg} ({cols_ddl}) USING parquet "
        f"CLUSTERED BY ({keys}) SORTED BY ({keys}) INTO {props['numBuckets']} BUCKETS "
        f"LOCATION '{loc}'"
    )
    return reg


def index_scan_df(
    spark: "SparkSession",
    entry,
    output_columns: list[str],
    appended: list[FileInfo] | None = None,
    deleted: list[FileInfo] | None = None,
    bucketed: bool = False,
    files: list[str] | None = None,
    cache: dict | None = None,
) -> "DataFrame":
    """Query-time DataFrame over the index data, with hybrid-scan
    compensation (reference: CoveringIndexRuleUtils.scala:146-288).

    - deleted source files -> anti-filter on the lineage column
      (reference :244-253); Catalyst's OptimizeIn takes it from there.
    - appended source files -> union of a direct scan of just those files,
      projected to the same slice (reference :280-284).
    - ``files``: bucket-pruned subset of index data files (plain read of
      just those paths; [] = provably-empty bucket -> empty relation).
      With ``cache`` (see ``version_slot``) the resolved read is reused
      per (index version, file subset), so a repeated point lookup does
      not list its bucket file again.
    """
    from pyspark.sql import functions as F

    if bucketed:
        df = spark.table(ensure_bucketed_table(spark, entry))
    else:
        df = read_index(spark, entry, files, version_slot(cache, entry))

    if deleted:
        ids = [entry.file_id_tracker.get(f) for f in deleted]
        ids = [i for i in ids if i is not None]
        if ids:
            df = df.filter(~F.col(DATA_FILE_ID_COLUMN).isin(ids))

    df = _select_reconstructed(df, output_columns, from_index=True)

    if appended:
        src = _select_reconstructed(
            entry.relations[0].read(spark, appended), output_columns, from_index=False
        )
        df = df.unionByName(src)
    return df


def _select_reconstructed(df, output_columns: list[str], from_index: bool):
    """Select top-level columns directly and rebuild PARTIAL struct columns
    for dotted (nested) outputs.  On the index side leaves live in
    flattened `__hs_nested.a.b.c` columns; on the source side (hybrid
    appended files) they are real struct paths."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    tops = [c for c in output_columns if "." not in c]
    nested = [c for c in output_columns if "." in c]
    exprs = [F.col(c) for c in tops]
    trees: dict[str, dict] = defaultdict(dict)
    for c in nested:
        root, rest = c.split(".", 1)
        cur = trees[root]
        parts = rest.split(".")
        for seg in parts[:-1]:
            cur = cur.setdefault(seg, {})
        cur[parts[-1]] = (
            F.col(f"`{NESTED_PREFIX}{c}`") if from_index else F.col(c)
        )

    def mk(tree) -> "object":
        fields = []
        for k, v in tree.items():
            fields.append((mk(v) if isinstance(v, dict) else v).alias(k))
        return F.struct(*fields)

    for root, tree in trees.items():
        exprs.append(mk(tree).alias(root))
    return df.select(*exprs)
