"""Index config interfaces and the helpers shared by every kind's data
writers (reference: index/Index.scala:22-168, IndexConfigTrait.scala:46-59).

Each ``indexes/<kind>.py`` writes index data only: ``create_index_data``
for create and full refresh, ``refresh_incremental`` for the source
delta.  Both return the new derived properties; the lifecycle in
``hyperspace.py`` records the version and the source snapshot."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class IndexConfig:
    name: str

    @property
    def kind(self) -> str:
        raise NotImplementedError

    def referenced_columns(self) -> list[str]:
        raise NotImplementedError


# Frames memoized per index version; more distinct bucket-file subsets
# than this are read afresh (an IN list over many keys mints new ones).
_MAX_VERSION_FRAMES = 256


def version_slot(cache: dict | None, entry) -> dict | None:
    """The memo of frames built from ``entry``'s index data, or None when
    there is nothing to key it on.

    ``cache`` maps index name -> (content fingerprint, slot).  A version's
    data directory never changes after it is written (refresh, optimize
    and recreate each write a new ``v__=N``), so the fingerprint — the
    data dirs plus (path, size, mtime) of every content file — names the
    content exactly.  A different fingerprint replaces the slot: at most
    one version per index is held."""
    if cache is None or not entry.content_files:
        return None
    fp = (tuple(entry.index_data_dirs), tuple(f.key() for f in entry.content_files))
    held = cache.get(entry.name)
    if held is None or held[0] != fp:
        held = cache[entry.name] = (fp, {})
    return held[1]


def read_index(spark, entry, files: list[str] | None = None, slot: dict | None = None):
    """The rows of ``entry``'s index version: every read of logged index
    data goes through here (reference: CoveringIndexRuleUtils.scala:
    113-116).  The schema is the entry's ``schemaJson``; without it Spark
    infers one from every data file's footer, hundreds of ms of planner
    latency per read.  ``files`` restricts the read to those index data
    files ([] = an empty relation), and ANN's ``cluster=N`` partition
    column stays resolvable through basePath.  With ``slot`` (see
    ``version_slot``) the resolved frame is memoized per file subset, so
    a repeated point lookup does not list its bucket file again."""
    import json

    from pyspark.sql.types import StructType

    key = None if files is None else tuple(files)
    if slot is not None and key in slot:
        return slot[key]
    schema = StructType.fromJson(json.loads(entry.derived_properties["schemaJson"]))
    if files == []:
        df = spark.createDataFrame([], schema)
    else:
        reader = spark.read.schema(schema)
        if entry.derived_kind == "ANN":
            reader = reader.option("basePath", entry.index_data_dirs[-1])
        df = reader.parquet(*(entry.index_data_dirs if files is None else files))
    if slot is not None and len(slot) < _MAX_VERSION_FRAMES:
        slot[key] = df
    return df


class FallBackToFull(Exception):
    """Raised by a kind's incremental refresh when only a full rebuild
    gives a correct (or acceptably clustered) index."""


def growth_ratio(live, appended) -> float:
    """Appended bytes over the previously indexed corpus (live minus
    appended).  Dividing by the live total would asymptote below 1.0 no
    matter how much lands, so a ratio bound could never trigger."""
    app_bytes = sum(f.size for f in appended)
    return app_bytes / max(1, sum(f.size for f in live) - app_bytes)


def carry_index_files(fs, entry, data_dir: str, skip_subdirs=(), skip_files=()) -> None:
    """Hardlink every current index content file into a new version
    dir, preserving subpaths (cluster=N partitions and flat bucketed
    layouts alike) — the O(1)-per-file carry behind append-only
    incremental refresh and quick optimize.  ``skip_subdirs`` drops
    files under the named first-level subpaths (e.g. re-clustered
    ``cluster=3`` partitions whose rows were rewritten elsewhere);
    ``skip_files`` drops individual files by absolute old path (e.g. the
    files a delete-refresh or a compaction rewrote elsewhere)."""
    import os

    old_base = entry.index_data_dirs[-1].rstrip("/")
    skip = tuple(s.rstrip("/") + "/" for s in skip_subdirs)
    skip_f = {os.path.normpath(p) for p in skip_files}
    for f in entry.content_files:
        rel_path = (
            f.path[len(old_base) + 1 :]
            if f.path.startswith(old_base + "/")
            else f.path.rsplit("/", 1)[-1]
        )
        if skip and rel_path.startswith(skip):
            continue
        if skip_f and os.path.normpath(f.path) in skip_f:
            continue
        fs.link_or_copy(f.path, os.path.join(data_dir, rel_path))
