"""The user-facing engine API.

Mirrors the reference's Hyperspace class + action dispatch
(Hyperspace.scala:27-193, index/IndexCollectionManager.scala:28-206,
actions/*) : every lifecycle op is a validate -> begin(transient state,
log id+1) -> op -> end(final state, log id+2) transaction over the JSON
operation log with optimistic concurrency, and query acceleration is an
explicit ``apply``/``sql`` planner pass that swallows every failure back
to the original DataFrame (ApplyHyperspace.scala:60-64).
"""

from __future__ import annotations

import os
import time
from typing import TYPE_CHECKING, Callable

from hyperspace_spark import session
from hyperspace_spark.config import HyperspaceConf
from hyperspace_spark.fs import filesystem_for
from hyperspace_spark.indexes.base import FallBackToFull, carry_index_files, read_index
from hyperspace_spark.metadata.entry import FileIdTracker, FileInfo, IndexLogEntry, Relation, States
from hyperspace_spark.metadata.log_manager import IndexLogManager
from hyperspace_spark.planner import ir
from hyperspace_spark.planner.candidates import Reasons, collect_candidates, live_source_files
from hyperspace_spark.planner.optimizer import optimize
from hyperspace_spark.planner.parser import parse_df
from hyperspace_spark.planner.replay import replay
from hyperspace_spark.planner.rules import RuleContext, default_rules

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


class HyperspaceException(Exception):
    pass


class ConcurrentModificationError(HyperspaceException):
    pass


class Hyperspace:
    def __init__(self, spark: "SparkSession", system_path: str | None = None):
        self.spark = spark
        self._system_path = system_path
        self._entry_cache: tuple[float, list[IndexLogEntry]] | None = None
        # Plan cache: analyzed-plan semanticHash -> (rewritten df, indexes).
        # Epoch bumps on any lifecycle op so stale rewrites never serve.
        self._apply_cache: dict = {}
        self._cache_epoch = 0
        # Index name -> (content fingerprint, frames built from that
        # immutable index version): see indexes.base.version_slot.
        self._version_cache: dict = {}

    # ------------------------------------------------------------------
    # plumbing
    # ------------------------------------------------------------------
    def conf(self) -> HyperspaceConf:
        return HyperspaceConf.from_session(self.spark, self._system_path)

    def _fs(self, conf: HyperspaceConf):
        return filesystem_for(conf.system_path, self.spark)

    def _log_mgr(self, name: str, conf: HyperspaceConf) -> IndexLogManager:
        return IndexLogManager(os.path.join(conf.system_path, name), self._fs(conf))

    def _invalidate_cache(self) -> None:
        self._entry_cache = None
        self._apply_cache.clear()
        self._version_cache.clear()
        self._cache_epoch += 1

    def _all_latest_entries(self, conf: HyperspaceConf) -> list[IndexLogEntry]:
        fs = self._fs(conf)
        out = []
        for d in fs.list_dir(conf.system_path):
            name = os.path.basename(d.rstrip("/"))
            e = IndexLogManager(d, fs).get_latest_stable_log()
            if e is not None and e.name == name:
                out.append(e)
        return out

    def _active_entries(self, conf: HyperspaceConf) -> list[IndexLogEntry]:
        """ACTIVE index entries with a TTL cache (reference:
        CachingIndexCollectionManager, 300 s expiry)."""
        now = time.time()
        if self._entry_cache is not None and now - self._entry_cache[0] < conf.cache_expiry_sec:
            entries = self._entry_cache[1]
        else:
            entries = self._all_latest_entries(conf)
            self._entry_cache = (now, entries)
        return [e for e in entries if e.state == States.ACTIVE]

    # ------------------------------------------------------------------
    # action template (reference: actions/Action.scala:34-108)
    # ------------------------------------------------------------------
    def _transact(
        self,
        name: str,
        conf: HyperspaceConf,
        transient: str,
        final: str,
        op: Callable[[IndexLogEntry, IndexLogManager, int], IndexLogEntry],
        base_entry: IndexLogEntry | None = None,
    ) -> IndexLogEntry:
        # Every caller is a lifecycle op, which runs under
        # session.internal() (_instrument): the lineage projections,
        # stats scans and index-data writes it makes over the user's
        # source never route back through the planner.
        mgr = self._log_mgr(name, conf)
        latest_id = mgr.get_latest_id()
        base = base_entry if base_entry is not None else mgr.get_latest_log()
        if base is None:
            raise HyperspaceException(f"Index {name} does not exist.")
        begin = base.with_state(transient, (latest_id if latest_id is not None else -1) + 1)
        if not mgr.write_log(begin.id, begin):
            raise ConcurrentModificationError(f"Concurrent modification on index {name}.")
        new_version = begin.id  # data version namespaced by log id -> unique
        result = op(begin, mgr, new_version)
        result = result.with_state(final, begin.id + 1)
        if not mgr.write_log(result.id, result):
            raise ConcurrentModificationError(f"Concurrent modification on index {name}.")
        if final in States.STABLE:
            mgr.update_latest_stable(result.id)
        self._invalidate_cache()
        return result

    # ------------------------------------------------------------------
    # createIndex (reference: actions/CreateAction.scala, CreateActionBase.scala)
    # ------------------------------------------------------------------
    def create_index(self, df: "DataFrame", config) -> None:
        conf = self.conf()
        scan = self._source_scan(df)
        # Resolve config columns to the source SCHEMA spelling (honoring
        # spark.sql.caseSensitive) so the stored indexedColumns always
        # compare cleanly with parsed plans — reference ResolverUtils.
        cs = self.spark.conf.get("spark.sql.caseSensitive", "false") == "true"
        _resolve_config_columns(scan, config, cs)
        missing = [c for c in config.referenced_columns() if not _column_exists(scan, c)]
        if missing:
            raise HyperspaceException(f"Index config references missing columns: {missing}")

        # PartitionSketch assumes every row of a file shares the column's
        # first value — only true for partitioning columns.  Sketching a
        # regular column would prune files UNSOUNDLY (wrong results), so
        # reject at create time (reference applies partition sketches to
        # partition columns only, PartitionSketch.scala:38-74).
        from hyperspace_spark.indexes.dataskipping import DataSkippingIndexConfig
        from hyperspace_spark.indexes.sketches import PartitionSketch

        if isinstance(config, DataSkippingIndexConfig):
            bad = [
                s.column
                for s in config.sketches
                if isinstance(s, PartitionSketch) and s.column not in scan.partition_columns
            ]
            if bad:
                raise HyperspaceException(
                    f"PartitionSketch requires partitioning columns; {bad} are not "
                    f"partition columns of the source (partitions: {scan.partition_columns})"
                )

        fs = self._fs(conf)
        mgr = self._log_mgr(config.name, conf)
        latest = mgr.get_latest_log()
        if latest is not None and latest.state not in (States.DOESNOTEXIST,):
            raise HyperspaceException(f"Index {config.name} already exists (state {latest.state}).")
        base_id = (mgr.get_latest_id() if latest is not None else None) or 0

        files = live_source_files(scan, fs)
        tracker = FileIdTracker()
        files = [
            FileInfo(f.path, f.size, f.mtime, tracker.add_or_get(f)) for f in files
        ]
        relation = Relation(
            root_paths=list(scan.normalized_paths()),
            file_format=scan.file_format,
            files=files,
            options=scan.options,
            data_schema_json=scan.data_schema_json,
            partition_columns=scan.partition_columns,
        )
        begin_id = base_id + 1 if latest is not None else 0
        entry = IndexLogEntry(
            name=config.name,
            derived_kind=config.kind,
            derived_properties={},
            relations=[relation],
            signature=_signature_of(scan, files),
            index_data_dirs=[],
            state=States.CREATING,
            id=begin_id,
            data_version=0,
            file_id_tracker=tracker,
        )
        if not mgr.write_log(begin_id, entry):
            raise ConcurrentModificationError(f"Concurrent createIndex on {config.name}.")

        data_dir = mgr.data_dir(0)
        try:
            props = _kind_module(config.kind).create_index_data(
                self.spark, df, config, conf, files, tracker, data_dir, config.name, 0
            )
        except BaseException:
            # Roll the name back to DOESNOTEXIST before re-raising: a
            # build failure (bad column type, executor OOM, KMeans error)
            # otherwise strands the CREATING log with NO stable version —
            # retry hits "already exists", cancel has nothing to roll
            # back to, delete requires ACTIVE, and the name is bricked
            # until someone hand-deletes the index directory.
            gone = entry.with_state(States.DOESNOTEXIST, begin_id + 1)
            try:
                if mgr.write_log(gone.id, gone):
                    mgr.update_latest_stable(gone.id)
                self._invalidate_cache()
            except Exception:
                pass
            raise
        entry.derived_properties = props
        _publish_version(entry, fs, data_dir, 0)
        done = entry.with_state(States.ACTIVE, begin_id + 1)
        if not mgr.write_log(done.id, done):
            raise ConcurrentModificationError(f"Concurrent createIndex on {config.name}.")
        mgr.update_latest_stable(done.id)
        self._invalidate_cache()

    def _source_scan(self, df: "DataFrame") -> ir.Scan:
        plan = parse_df(df)
        if not isinstance(plan, ir.Scan):
            raise HyperspaceException(
                "createIndex requires a plain file-based source DataFrame "
                f"(got plan root {type(plan).__name__})"
            )
        return plan

    # ------------------------------------------------------------------
    # acceleration (reference: ApplyHyperspace + ScoreBasedIndexPlanOptimizer)
    # ------------------------------------------------------------------
    def apply(self, df: "DataFrame") -> "DataFrame":
        """Rewrite df to read index data when profitable; on ANY failure or
        no-win, return df unchanged (reference swallows exceptions the same
        way, ApplyHyperspace.scala:60-64)."""
        out, _ = self._apply_with_info(df)
        return out

    def sql(self, query: str) -> "DataFrame":
        # Plan once: on an enabled session the routed spark.sql would
        # plan the query itself, and apply() would then plan the rewrite.
        with session.internal():
            df = self.spark.sql(query)
        return self.apply(df)

    # ------------------------------------------------------------------
    # session-level enable (reference: package.scala:40-93): spark.sql,
    # DataFrame actions, df.write, df.rdd and writeStream sinks on an
    # enabled session reach the planner with no explicit apply() (see
    # session.py).
    # ------------------------------------------------------------------
    def enable(self, dataframe_api: bool = True) -> None:
        """Route this session's queries through the index planner:
        plain ``spark.sql(...)`` always; DataFrame actions too when
        ``dataframe_api`` (default).  Idempotent; re-enabling from a
        different Hyperspace instance re-routes to that instance (latest
        wins).  The ``spark.hyperspace.apply.enabled`` conf kill switch
        still short-circuits apply() per query.  Child sessions from
        ``spark.newSession()`` are auto-enabled with their own Hyperspace
        instance on the same system path (disable the child session
        individually to opt it out)."""
        session.enable(self, dataframe_api)

    def disable(self) -> None:
        """Restore the pre-enable session surface (no-op if not
        enabled): ``spark.sql``, ``spark.newSession``, and this
        session's DataFrame-action routing."""
        session.disable(self.spark)

    def is_enabled(self) -> bool:
        return session.is_enabled(self.spark)

    def _apply_with_info(self, df: "DataFrame", reasons: Reasons | None = None):
        conf = self.conf()
        if not conf.apply_enabled:
            return df, []
        cache_key = None
        if reasons is None and conf.apply_cache_ttl_sec > 0:
            # whyNot always re-plans to collect fresh reasons; TTL=0 disables
            # the cache entirely (re-plan every query, reference behavior).
            try:
                cache_key = (
                    df._jdf.queryExecution().analyzed().semanticHash(),
                    self._cache_epoch,
                    str(conf),  # planning depends on the conf snapshot
                )
                hit = self._apply_cache.get(cache_key)
                # TTL guards against EXTERNAL source changes (appends with
                # no lifecycle op) serving a stale rewrite; lifecycle ops
                # bump the epoch immediately.
                if hit is not None and time.time() - hit[2] < conf.apply_cache_ttl_sec:
                    _telemetry_apply(hit[1], "cache")
                    return hit[0], hit[1]
            except Exception:
                cache_key = None
        try:
            # Cheap early-out BEFORE the plan parse: parse_df costs py4j
            # round trips proportional to plan size (up to ~1000 for a
            # capped InSet recovery), which a session with no active
            # indexes should never pay.
            entries = self._active_entries(conf)
            if not entries:
                return df, []
            plan = parse_df(df)
            if reasons is not None:
                def _walk_nodes(n):
                    yield n
                    for c in ir.children(n):
                        yield from _walk_nodes(c)

                reasons.opaque_kinds = sorted(
                    {
                        str(n.jplan.getClass().getSimpleName())
                        for n in _walk_nodes(plan)
                        if isinstance(n, ir.OpaqueN)
                    }
                )
            fs = self._fs(conf)
            cands = {
                id(s): collect_candidates(s, entries, fs, conf, reasons)
                for s in ir.iter_scans(plan)
            }
            if not any(cands.values()):
                return df, []
            ctx = RuleContext(self.spark, conf, cands, reasons, version_cache=self._version_cache)
            # A rule can win planning but decline LATE — its replacement's
            # structural guard raises during replay (e.g. metadata-only
            # fold meets a shape the cheap planner check admitted).  That
            # must not discard lower-scoring rewrites that still apply
            # (data skipping under a failed metadata fold): retry the
            # whole optimize with the failing rule(s) excluded until a
            # plan replays cleanly or no rewrite wins.
            excluded: set[str] = set()
            result = None
            while result is None:
                rules = [
                    r for r in default_rules() if type(r).__name__ not in excluded
                ]
                best = optimize(plan, rules, ctx)
                if best.score <= 0:
                    result = (df, [])
                    break
                try:
                    rewritten = replay(self.spark, best.node)
                    # Replay is name-based SQL regeneration; a rewrite must
                    # never change the frame's visible column list (e.g. an
                    # inner-join key dedup when the join IS the root and the
                    # user expected both copies).  Name check only — analysis
                    # cost, no execution.
                    if [f.name for f in rewritten.schema.fields] != [
                        f.name for f in df.schema.fields
                    ]:
                        raise RuntimeError("replay changed the output schema")
                except Exception as exc:
                    fresh = set(best.rule_names) - excluded
                    if not fresh:
                        raise  # nothing left to exclude — outer fallback
                    excluded |= fresh
                    # A late decline is sometimes legitimate (structural
                    # guard met a shape the cheap planner check admitted)
                    # but can also be a hard bug the retry would
                    # otherwise hide COMPLETELY (r9: a NameError in the
                    # fold surfaced only through this breadcrumb's
                    # absence of... nothing at all).  Make it visible.
                    try:
                        _telemetry_rule_excluded(sorted(fresh), exc)
                    except Exception:
                        pass
                    continue
                # session.routed() executes a rewrite as built: its scans
                # read index data, which never matches a candidate.
                rewritten._hs_no_reroute = True
                result = (rewritten, best.index_names)
            if cache_key is not None:
                if len(self._apply_cache) > 256:
                    self._apply_cache.clear()
                self._apply_cache[cache_key] = (result[0], result[1], time.time())
            _telemetry_apply(result[1], "planned")
            return result
        except Exception:
            return df, []

    # ------------------------------------------------------------------
    # refresh (reference: actions/Refresh*.scala)
    # ------------------------------------------------------------------
    def refresh_index(self, name: str, mode: str = "full") -> None:
        # Reference parity: RefreshActionBase requires ACTIVE — refreshing
        # a DELETED index must not resurrect it.
        self._require_state(name, self.conf(), States.ACTIVE, "refreshIndex")
        latest = self._log_mgr(name, self.conf()).get_latest_stable_log()
        if (
            latest is not None
            and latest.derived_kind == "ANN"
            and mode == "quick"
            and not latest.derived_properties.get("lineage")
        ):
            # Legacy lineage-free ANN entries cannot compensate deletes
            # at query time, so quick promotes to incremental for them.
            # Lineage-built entries (r10 default) take quick verbatim:
            # ann_search assigns/encodes appended vectors on the fly
            # against the frozen quantizer and anti-filters deleted rows.
            mode = "incremental"
        if mode == "full":
            self._refresh_full(name)
        elif mode == "incremental":
            self._refresh_incremental(name)
        elif mode == "quick":
            self._refresh_quick(name)
        else:
            raise HyperspaceException(f"Unknown refresh mode {mode}")

    def _source_df(self, entry: IndexLogEntry) -> "DataFrame":
        rel = entry.relations[0]
        scan = _scan_of(rel)
        if scan.delta_root:
            # A directory read would pick up dead files and the log dir;
            # the snapshot file list is the table's live content.
            from hyperspace_spark.sources.delta import read_delta

            return read_delta(self.spark, scan.delta_root)
        if scan.iceberg_root:
            from hyperspace_spark.sources.iceberg import read_iceberg

            return read_iceberg(self.spark, scan.iceberg_root)
        return rel.read(self.spark)

    def _config_of(self, entry: IndexLogEntry):
        p = entry.derived_properties
        if entry.derived_kind == "CI":
            from hyperspace_spark.indexes.covering import CoveringIndexConfig

            return CoveringIndexConfig(
                entry.name,
                p["indexedColumns"],
                p["includedColumns"],
                num_buckets=p.get("numBuckets"),
                where=p.get("filterPredicate"),
            )
        if entry.derived_kind == "ZCI":
            from hyperspace_spark.indexes.zorder import ZOrderCoveringIndexConfig

            return ZOrderCoveringIndexConfig(
                entry.name,
                p["indexedColumns"],
                p["includedColumns"],
                target_bytes_per_partition=p.get("targetBytesPerPartition"),
                where=p.get("filterPredicate"),
            )
        if entry.derived_kind == "DS":
            from hyperspace_spark.indexes.dataskipping import DataSkippingIndexConfig
            from hyperspace_spark.indexes.sketches import sketch_from_json

            return DataSkippingIndexConfig(
                entry.name, [sketch_from_json(s) for s in p["sketches"]]
            )
        if entry.derived_kind == "ANN":
            from hyperspace_spark.indexes.ann import IvfIndexConfig

            return IvfIndexConfig(
                entry.name,
                vec_col=p["vecCol"],
                id_col=p["idCol"],
                n_clusters=p["nClusters"],
                pq_m=p.get("pqM"),
            )
        if entry.derived_kind == "TXT":
            from hyperspace_spark.indexes.inverted import InvertedTextIndexConfig

            return InvertedTextIndexConfig(
                entry.name,
                text_col=p["textCol"],
                id_col=p["idCol"],
                num_buckets=p["numBuckets"],
            )
        raise HyperspaceException(f"Unknown kind {entry.derived_kind}")

    def _refresh_full(self, name: str) -> None:
        conf = self.conf()
        fs = self._fs(conf)

        def op(entry: IndexLogEntry, mgr: IndexLogManager, version: int) -> IndexLogEntry:
            df = self._source_df(entry)
            _record_snapshot(entry, live_source_files(self._source_scan(df), fs))
            data_dir = mgr.data_dir(version)
            entry.derived_properties = _kind_module(entry.derived_kind).create_index_data(
                self.spark,
                df,
                self._config_of(entry),
                conf,
                entry.relations[0].files,
                entry.file_id_tracker,
                data_dir,
                name,
                version,
            )
            return _publish_version(entry, fs, data_dir, version)

        self._transact(name, conf, States.REFRESHING, States.ACTIVE, op)

    @staticmethod
    def _source_delta(entry, fs):
        """(live, appended, deleted) of the entry's source files vs its
        indexed snapshot — the ONE copy of the key()-based diff shared by
        incremental and quick refresh and the hybrid-aware search APIs."""
        rel = entry.relations[0]
        live = live_source_files(_scan_of(rel), fs)
        indexed = entry.source_files_by_key()
        live_by_key = {f.key(): f for f in live}
        appended = [f for k, f in live_by_key.items() if k not in indexed]
        deleted = [f for k, f in indexed.items() if k not in live_by_key]
        return live, appended, deleted

    def _refresh_incremental(self, name: str) -> None:
        """Index only the source delta: the kind's ``refresh_incremental``
        writes the next version from the appended files and drops the
        deleted files' rows via lineage (reference:
        RefreshIncrementalAction.scala:45-133, delete via left-anti
        semantics J5); the version and the new source snapshot are
        recorded here, the same way for every kind.  At 100 TB this is
        the money path: cost scales with the delta, not the table."""
        conf = self.conf()
        fs = self._fs(conf)

        def op(entry: IndexLogEntry, mgr: IndexLogManager, version: int) -> IndexLogEntry:
            live, appended, deleted = self._source_delta(entry, fs)
            if not appended and not deleted:
                return entry  # no-op refresh
            tracker = entry.file_id_tracker
            appended = [FileInfo(f.path, f.size, f.mtime, tracker.add_or_get(f)) for f in appended]
            deleted_ids = [i for i in (tracker.get(f) for f in deleted) if i is not None]
            data_dir = mgr.data_dir(version)
            entry.derived_properties = _kind_module(entry.derived_kind).refresh_incremental(
                self.spark, entry, conf, live, appended, deleted_ids, data_dir, version, fs
            )
            _record_snapshot(entry, live)
            return _publish_version(entry, fs, data_dir, version)

        try:
            self._transact(name, conf, States.REFRESHING, States.ACTIVE, op)
        except FallBackToFull:
            self.cancel(name)
            self._refresh_full(name)

    def _refresh_quick(self, name: str) -> None:
        """Metadata-only refresh: record the file delta in the log; hybrid
        scan compensates at query time (reference: RefreshQuickAction.scala:32-80)."""
        conf = self.conf()
        fs = self._fs(conf)

        def op(entry: IndexLogEntry, mgr: IndexLogManager, version: int) -> IndexLogEntry:
            _live, entry.appended_files, entry.deleted_files = self._source_delta(entry, fs)
            return entry

        self._transact(name, conf, States.REFRESHING, States.ACTIVE, op)

    # ------------------------------------------------------------------
    # optimize / delete / restore / vacuum / cancel
    # ------------------------------------------------------------------
    def optimize_index(self, name: str, mode: str = "quick") -> None:
        """Compact index data files (reference: actions/OptimizeAction.scala:57-148).
        quick (CI): PER-BUCKET — only buckets with >1 sub-threshold file are
        rewritten; every other file is hardlinked into the new version dir
        untouched, so cost scales with the fragmentation, not the index.
        quick (ANN): PER-CLUSTER — same shape over the cluster=N layout.
        quick (DS/Z): no-op unless some data file is below the threshold.
        full: always rewrite everything.  Neither mode scans the source."""
        conf = self.conf()
        if mode not in ("quick", "full"):
            # Mirror refresh_index: a typo must not silently trigger the
            # expensive full rewrite the quick guard exists to avoid.
            raise HyperspaceException(f"unknown optimize mode: {mode!r}")
        self._require_state(name, conf, States.ACTIVE, "optimizeIndex")
        fs = self._fs(conf)

        def op(entry: IndexLogEntry, mgr: IndexLogManager, version: int) -> IndexLogEntry:
            small = [f for f in entry.content_files if f.size < conf.optimize_file_size_threshold]
            if mode == "quick" and len(small) <= 1:
                return entry
            from hyperspace_spark.indexes import covering as cov

            props = entry.derived_properties
            kind = entry.derived_kind
            data_dir = mgr.data_dir(version)
            old_base = entry.index_data_dirs[-1].rstrip("/")
            # Quick compaction keeps the layout: rows of a CI/TXT bucket
            # file re-hash to the same bucket (same murmur3, same
            # numBuckets) and ANN rows never change cluster, so only the
            # layout units holding >1 sub-threshold file are rewritten and
            # every other file — the large ones that dominate a 100 TB
            # index — is carried by an O(1) hardlink (reference
            # OptimizeAction.scala:96-114).  A file name outside the
            # layout means a full rewrite: never guess.
            compact = None
            if mode == "quick" and kind in _LAYOUT_UNIT:
                groups = _group_by(small, lambda f: _LAYOUT_UNIT[kind](f, old_base))
                if groups is not None:
                    compact = sorted(f.path for g in groups.values() if len(g) > 1 for f in g)
                    if not compact:
                        return entry  # every unit already has <=1 small file
            df = read_index(self.spark, entry, compact)

            if kind == "ANN":
                # sub-threshold files by definition: one task suffices
                df = df.coalesce(1) if compact else df.repartition("cluster")
                df.write.partitionBy("cluster").mode("overwrite").parquet(data_dir)
            elif kind in ("CI", "TXT"):
                tbl = cov.table_name(name, version)
                cov.write_bucketed(
                    self.spark,
                    df,
                    [cov.flattened_name(c) for c in props["indexedColumns"]],
                    props["numBuckets"],
                    data_dir,
                    tbl,
                )
                props["tableName"] = tbl
            elif kind == "DS":
                # Skipping index data is tiny (one row per source file):
                # compact to a single file.
                df.coalesce(1).write.mode("overwrite").parquet(data_dir)
            else:
                from hyperspace_spark.indexes.zorder import rewrite_zorder_data

                rewrite_zorder_data(self.spark, df, props, data_dir)
            if compact:
                carry_index_files(fs, entry, data_dir, skip_files=compact)
            return _publish_version(entry, fs, data_dir, version)

        self._transact(name, conf, States.OPTIMIZING, States.ACTIVE, op)

    def delete_index(self, name: str) -> None:
        conf = self.conf()
        self._require_state(name, conf, States.ACTIVE, "deleteIndex")
        self._transact(name, conf, States.DELETING, States.DELETED, lambda e, m, v: e)

    def restore_index(self, name: str) -> None:
        conf = self.conf()
        self._require_state(name, conf, States.DELETED, "restoreIndex")
        self._transact(name, conf, States.RESTORING, States.ACTIVE, lambda e, m, v: e)

    def vacuum_index(self, name: str) -> None:
        """DELETED -> DOESNOTEXIST; physically removes index data
        (reference: actions/VacuumAction.scala)."""
        conf = self.conf()
        self._require_state(name, conf, States.DELETED, "vacuumIndex")
        fs = self._fs(conf)

        def op(entry: IndexLogEntry, mgr: IndexLogManager, version: int) -> IndexLogEntry:
            for d in fs.list_dir(os.path.join(conf.system_path, name)):
                if os.path.basename(d.rstrip("/")).startswith("v__="):
                    fs.delete(d, recursive=True)
            entry.index_data_dirs = []
            entry.content_files = []
            return entry

        self._transact(name, conf, States.VACUUMING, States.DOESNOTEXIST, op)

    def vacuum_outdated_indexes(self, name: str) -> None:
        """Keep only the latest version's data files and logs
        (reference: actions/VacuumOutdatedAction.scala:30-144)."""
        conf = self.conf()
        self._require_state(name, conf, States.ACTIVE, "vacuumOutdatedIndexes")
        fs = self._fs(conf)

        def op(entry: IndexLogEntry, mgr: IndexLogManager, version: int) -> IndexLogEntry:
            keep = {os.path.basename(d.rstrip("/")) for d in entry.index_data_dirs}
            for d in fs.list_dir(os.path.join(conf.system_path, name)):
                base = os.path.basename(d.rstrip("/"))
                if base.startswith("v__=") and base not in keep:
                    fs.delete(d, recursive=True)
            return entry

        self._transact(name, conf, States.VACUUMINGOUTDATED, States.ACTIVE, op)

    def cancel(self, name: str) -> None:
        """Roll a stuck transient state back to the last stable log
        (reference: actions/CancelAction.scala)."""
        conf = self.conf()
        mgr = self._log_mgr(name, conf)
        latest = mgr.get_latest_log()
        if latest is None:
            raise HyperspaceException(f"Index {name} does not exist.")
        if latest.state in States.STABLE:
            raise HyperspaceException(f"Index {name} is in stable state {latest.state}; nothing to cancel.")
        stable = mgr.get_latest_stable_log()
        if stable is None:
            raise HyperspaceException(f"Index {name} has no stable version to roll back to.")
        rolled = stable.with_state(stable.state, latest.id + 1)
        if not mgr.write_log(rolled.id, rolled):
            raise ConcurrentModificationError(f"Concurrent modification on index {name}.")
        mgr.update_latest_stable(rolled.id)
        self._invalidate_cache()

    def _require_state(self, name: str, conf: HyperspaceConf, state: str, op: str) -> None:
        e = self._log_mgr(name, conf).get_latest_log()
        if e is None:
            raise HyperspaceException(f"Index {name} does not exist.")
        if e.state != state:
            raise HyperspaceException(f"{op} requires state {state}; {name} is {e.state}.")

    # ------------------------------------------------------------------
    # introspection (reference: IndexStatistics.scala, PlanAnalyzer.scala)
    # ------------------------------------------------------------------
    def indexes(self) -> "DataFrame":
        conf = self.conf()
        rows = []
        for e in self._all_latest_entries(conf):
            p = e.derived_properties
            rows.append(
                (
                    e.name,
                    e.derived_kind,
                    # (c.get("columns") or ["?"]): a column-less sketch
                    # (RowCount) serializes columns=[], and dict.get
                    # returns that EXISTING empty list, not the default —
                    # [0] then raised for any index carrying one.
                    p.get(
                        "indexedColumns",
                        [
                            (c.get("columns") or ["?"])[0]
                            for c in p.get("sketches", [])
                        ],
                    ),
                    p.get("includedColumns", []),
                    int(p.get("numBuckets", 0)),
                    e.state,
                    sum(f.size for f in e.content_files),
                    len(e.content_files),
                    e.data_version,
                    ",".join(e.index_data_dirs),
                    p.get("filterPredicate"),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "name string, kind string, indexedColumns array<string>, includedColumns array<string>, "
            "numBuckets int, state string, indexSizeBytes long, numIndexFiles int, version int, dataDirs string, "
            "wherePredicate string",
        )

    def index(self, name: str) -> "DataFrame":
        conf = self.conf()
        e = self._log_mgr(name, conf).get_latest_log()
        if e is None:
            raise HyperspaceException(f"Index {name} does not exist.")
        p = e.derived_properties
        row = (
            e.name,
            e.derived_kind,
            str(p),
            e.state,
            e.signature,
            len(e.source_files),
            len(e.appended_files),
            len(e.deleted_files),
            sum(f.size for f in e.content_files),
            e.data_version,
        )
        return self.spark.createDataFrame(
            [row],
            "name string, kind string, derivedProperties string, state string, signature string, "
            "numSourceFiles int, numAppendedFiles int, numDeletedFiles int, indexSizeBytes long, version int",
        )

    def analyze_file_distribution(self, df: "DataFrame", column: str) -> str:
        """Per-file min/max distribution analysis for a column: estimates
        how many files a point lookup would touch with file-level skipping
        (reference: util/MinMaxAnalysisUtil.scala:773-778)."""
        from pyspark.sql import functions as F

        per_file = (
            df.withColumn("_hs_file", F.input_file_name())
            .groupBy("_hs_file")
            .agg(F.min(column).alias("min"), F.max(column).alias("max"))
            .collect()
        )
        n = len(per_file)
        ranges = sorted((r["min"], r["max"]) for r in per_file if r["min"] is not None)
        # For each file's range, count how many other files overlap it —
        # the per-file estimate of lookup fan-out.
        overlaps = [
            sum(1 for lo2, hi2 in ranges if not (hi2 < lo or lo2 > hi)) for lo, hi in ranges
        ]
        avg = sum(overlaps) / len(overlaps) if overlaps else 0.0
        mx = max(overlaps, default=0)
        lines = [
            f"File distribution analysis for column '{column}'",
            f"  files analyzed:            {n}",
            f"  avg files per point lookup: {avg:.2f}",
            f"  max files per point lookup: {mx}",
            f"  skipping effectiveness:     {100 * (1 - avg / n):.1f}% pruned on average" if n else "",
        ]
        return "\n".join(l for l in lines if l)

    def explain(self, df: "DataFrame", verbose: bool = False, mode: str = "plaintext") -> str:
        """Plans with vs without indexes + used-index list
        (reference: plananalysis/PlanAnalyzer.scala:48-181).

        ``mode`` mirrors the reference's DisplayMode.scala: 'plaintext'
        (default), 'console' (ANSI-highlights used index names), or
        'html' (a <pre> block with <b> highlights, notebook-embeddable)."""
        if mode not in ("plaintext", "console", "html"):
            raise HyperspaceException("explain mode must be 'plaintext', 'console', or 'html'")
        # Collect per-branch index-OR statistics emitted when the winning
        # plan replays (FilterOrIndexRule's replacement): which index
        # serves each disjunct and how many index files the branch reads.
        from hyperspace_spark.telemetry import off_event, on_event

        or_branches: list[str] = []

        def _collect_or(ev) -> None:
            if ev.kind == "or_branch":
                or_branches.append(ev.detail)

        on_event(_collect_or)
        try:
            # Fresh Reasons bypasses the apply cache: explain is a
            # diagnostic, and a cache hit would skip the replay that
            # emits the per-branch events.
            accelerated, used = self._apply_with_info(df, reasons=Reasons())
        finally:
            off_event(_collect_or)
        orig_plan = df._jdf.queryExecution().executedPlan().toString()
        out = []
        out.append("=" * 60)
        out.append("Plan with Hyperspace indexes")
        out.append("=" * 60)
        if used:
            out.append(accelerated._jdf.queryExecution().executedPlan().toString())
        else:
            out.append("<no index applied>")
        out.append("=" * 60)
        out.append("Plan without indexes")
        out.append("=" * 60)
        out.append(orig_plan)
        out.append("=" * 60)
        out.append(f"Indexes used: {', '.join(used) if used else '<none>'}")
        if verbose and used:
            out.append("Physical operator diff:")
            orig_ops = _op_histogram(orig_plan)
            new_ops = _op_histogram(accelerated._jdf.queryExecution().executedPlan().toString())
            for op_name in sorted(set(orig_ops) | set(new_ops)):
                a, b = orig_ops.get(op_name, 0), new_ops.get(op_name, 0)
                if a != b:
                    out.append(f"  {op_name}: {a} -> {b}")
            if or_branches:
                out.append("Index-OR branches:")
                for line in or_branches:
                    out.append(f"  {line}")
        text = "\n".join(out)
        if mode == "plaintext":
            return text
        if mode == "console":
            for n in used:
                text = text.replace(n, f"\x1b[1m{n}\x1b[0m")
            return text
        import html as _html

        escaped = _html.escape(text)
        for n in used:
            escaped = escaped.replace(_html.escape(n), f"<b>{_html.escape(n)}</b>")
        return f"<pre>{escaped}</pre>"

    def text_search(
        self,
        index_name: str,
        terms,
        mode: str = "all",
    ) -> "DataFrame":
        """Doc ids whose text contains ALL (default) or ANY of ``terms``,
        from a persisted inverted text index (kind TXT) — a bucket-pruned
        read of only the probed tokens' postings, never the corpus text.

        Hybrid-exact against live source state: source files appended
        since the index build are tokenized on the fly (raw read of only
        those files); deleted files' postings drop via the lineage
        anti-filter."""
        from hyperspace_spark.indexes.inverted import text_search

        entry, appended, deleted = self._txt_entry(index_name)
        return text_search(
            self.spark, entry, terms, mode, appended=appended, deleted=deleted
        )

    def text_search_ranked(
        self,
        index_name: str,
        terms,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        filter_query: str | None = None,
    ) -> "DataFrame":
        """BM25 top-k retrieval from a persisted TXT index: docs matching
        ANY term, ranked by the Lucene-default BM25 score computed over
        the probed tokens' postings only (tf/dl ride the postings; N and
        avgdl come from per-file stats in the entry — no corpus job).
        Returns (id_col, score) with ties ranked by id.  Hybrid-exact:
        appended source files score on the fly, deleted files' postings
        and corpus stats are subtracted.  ``filter_query`` restricts
        candidates to docs satisfying a boolean term query (Lucene
        filter-context semantics: the filter never affects scoring)."""
        from hyperspace_spark.indexes.inverted import text_search_ranked

        entry, appended, deleted = self._txt_entry(index_name)
        return text_search_ranked(
            self.spark,
            entry,
            terms,
            k=k,
            k1=k1,
            b=b,
            filter_query=filter_query,
            appended=appended,
            deleted=deleted,
        )

    def text_search_boolean(self, index_name: str, query: str) -> "DataFrame":
        """Doc ids satisfying a boolean term query — ``'(quick AND brown)
        OR (lazy AND NOT dog)'`` — from the TXT index: ONE bucket-pruned
        probe for all the query's terms, membership evaluated per doc.
        Negation-only queries (satisfiable by a doc containing none of
        the terms) are refused — they'd need a corpus scan.
        Hybrid-exact like text_search."""
        from hyperspace_spark.indexes.inverted import text_search_boolean

        entry, appended, deleted = self._txt_entry(index_name)
        return text_search_boolean(
            self.spark, entry, query, appended=appended, deleted=deleted
        )

    def text_search_phrase(self, index_name: str, phrase: str) -> "DataFrame":
        """Exact consecutive-token phrase match from the TXT index's
        positional postings: candidates come from the bucket-pruned
        all-terms probe, adjacency verifies in-row on the positions
        arrays of the candidate docs ONLY — the corpus text is never
        read.  Hybrid-exact like text_search."""
        from hyperspace_spark.indexes.inverted import text_search_phrase

        entry, appended, deleted = self._txt_entry(index_name)
        return text_search_phrase(
            self.spark, entry, phrase, appended=appended, deleted=deleted
        )

    def _txt_entry(self, index_name: str):
        conf = self.conf()
        entry = next(
            (e for e in self._active_entries(conf) if e.name == index_name), None
        )
        if entry is None or entry.derived_kind != "TXT":
            raise HyperspaceException(f"No ACTIVE TXT index named {index_name!r}.")
        fs = self._fs(conf)
        _live, appended, deleted = self._source_delta(entry, fs)
        return entry, appended, deleted

    def ann_search(
        self,
        index_name: str,
        query_vectors: dict[int, list[float]] | None = None,
        query_ids: list[int] | None = None,
        k: int = 10,
        n_probe: int = 4,
        refine_factor: int = 4,
        where: str | None = None,
    ) -> "DataFrame":
        """Top-k cosine neighbors from a persisted IVF index (kind ANN).

        ``where`` runs a FILTERED search: neighbors are the exact top-k
        among LIVE source rows satisfying the predicate (pre-filter
        semantics; evaluated on the source, joined to candidates by id).
        A selective filter thins each probed cluster — raise n_probe to
        hold recall; at n_probe = n_clusters the filtered result is
        exact.

        Pass explicit ``query_vectors`` ({id: vector}), or ``query_ids``
        to look the vectors up in the LIVE corpus (for IVF-PQ entries in
        the source — PQ rows carry codes, not vectors; for flat entries
        in the index, falling back to appended source files for ids the
        index hasn't absorbed yet).
        ``refine_factor`` applies to IVF-PQ only: the exact re-rank pool
        is ``k x refine_factor`` ADC candidates per query.

        Hybrid-exact on a stale index (r10): deleted source files'
        vectors anti-filter out by lineage, appended files' vectors
        assign/encode on the fly against the frozen quantizer — results
        equal an incrementally refreshed index's exactly, so searches
        between refreshes never see ghosts or miss new data."""
        from hyperspace_spark.indexes.ann import ann_search

        conf = self.conf()
        entry = next(
            (e for e in self._active_entries(conf) if e.name == index_name), None
        )
        if entry is None or entry.derived_kind != "ANN":
            raise HyperspaceException(f"No ACTIVE ANN index named {index_name!r}.")
        fs = self._fs(conf)
        _live, appended, deleted = self._source_delta(entry, fs)
        # Self-exclusion only applies when queries ARE corpus vectors
        # (query_ids path); external query_vectors ids are an unrelated
        # namespace and must not shadow same-numbered corpus vectors.
        exclude_self = query_vectors is None
        props = entry.derived_properties
        pq = bool(props.get("pqM"))
        if query_vectors is None:
            if not query_ids:
                raise HyperspaceException("provide query_vectors or query_ids")
            from pyspark.sql import functions as F

            if pq:
                # PQ rows carry codes, not vectors: look the query
                # vectors up in the SOURCE (id-filter pushdown, pruned;
                # the source IS the live corpus, so appends/deletes are
                # already reflected).
                src = self._source_df(entry)
                rows = (
                    src.filter(F.col(props["idCol"]).isin(list(query_ids)))
                    .select(
                        F.col(props["idCol"]).alias("vec_id"),
                        F.col(props["vecCol"]).alias("unit_vec"),
                    )
                    .collect()
                )
            else:
                from hyperspace_spark.config import DATA_FILE_ID_COLUMN

                idx = read_index(self.spark, entry)
                if deleted and props.get("lineage"):
                    # a deleted vector must not resolve as a query anchor
                    tracker = entry.file_id_tracker
                    dead = [tracker.get(f) for f in deleted]
                    idx = idx.filter(
                        ~F.col(DATA_FILE_ID_COLUMN).isin(
                            [i for i in dead if i is not None]
                        )
                    )
                rows = idx.filter(idx.vec_id.isin(list(query_ids))).select("vec_id", "unit_vec").collect()
                found0 = {r.vec_id for r in rows}
                still = [q for q in set(query_ids) - found0]
                if still and appended:
                    # ids that landed since the last refresh live only in
                    # the appended source files — same normalization as
                    # the index build (unit_expr applies in ann_search).
                    raw = entry.relations[0].read(self.spark, appended)
                    rows += (
                        raw.filter(F.col(props["idCol"]).isin(still))
                        .select(
                            F.col(props["idCol"]).alias("vec_id"),
                            F.col(props["vecCol"]).alias("unit_vec"),
                        )
                        .collect()
                    )
            found = {r.vec_id for r in rows}
            missing = sorted(set(query_ids) - found)
            if missing:
                raise HyperspaceException(f"query ids not in index: {missing}")
            query_vectors = {r.vec_id: list(r.unit_vec) for r in rows}
        allowed_df = None
        if where is not None:
            from pyspark.sql import functions as F

            allowed_df = self._source_df(entry).filter(where).select(
                F.col(props["idCol"])
            )
        return ann_search(
            self.spark,
            entry,
            query_vectors,
            exclude_self=exclude_self,
            k=k,
            n_probe=n_probe,
            source_df=self._source_df(entry) if pq else None,
            refine_factor=refine_factor,
            appended=appended,
            deleted=deleted,
            allowed_df=allowed_df,
        )

    def ann_join(
        self,
        index_name: str,
        queries_df: "DataFrame",
        k: int = 10,
        n_probe: int = 4,
        id_col: str = "qid",
        vec_col: str = "qvec",
        exclude_self: bool = False,
        where: str | None = None,
        refine_factor: int = 4,
    ) -> "DataFrame":
        """Distributed k-NN JOIN: top-k cosine neighbors for EVERY row of
        ``queries_df`` from a persisted flat IVF index — the query side
        stays a DataFrame end-to-end (probe assignment is an Arrow
        matmul over query partitions), so million-query batches never
        touch the driver.  Hybrid-exact like ann_search: deleted files'
        vectors anti-filter by lineage, appended files' vectors assign
        to the frozen centroids on the fly.  ``where`` runs a FILTERED
        join (pre-filter semantics, like ann_search's where=).  IVF-PQ
        entries score codes with per-query ADC tables in the same
        cogrouped kernel, then re-rank a k x refine_factor pool exactly
        against the source."""
        from hyperspace_spark.indexes.ann import ann_join

        conf = self.conf()
        entry = next(
            (e for e in self._active_entries(conf) if e.name == index_name), None
        )
        if entry is None or entry.derived_kind != "ANN":
            raise HyperspaceException(f"No ACTIVE ANN index named {index_name!r}.")
        fs = self._fs(conf)
        _live, appended, deleted = self._source_delta(entry, fs)
        allowed_df = None
        if where is not None:
            from pyspark.sql import functions as F

            allowed_df = self._source_df(entry).filter(where).select(
                F.col(entry.derived_properties["idCol"])
            )
        pq = bool(entry.derived_properties.get("pqM"))
        return ann_join(
            self.spark,
            entry,
            queries_df,
            k=k,
            n_probe=n_probe,
            id_col=id_col,
            vec_col=vec_col,
            exclude_self=exclude_self,
            appended=appended,
            deleted=deleted,
            allowed_df=allowed_df,
            source_df=self._source_df(entry) if pq else None,
            refine_factor=refine_factor,
        )

    def why_not(
        self, df: "DataFrame", index_name: str | None = None, extended: bool = False
    ) -> str:
        """Why didn't my index apply? (reference: Hyperspace.scala:183-192,
        CandidateIndexAnalyzer.scala; reason catalog FilterReason.scala:33-158).

        ``extended=True`` additionally lists every index's state, kind and
        source roots, and keeps EVERY reason occurrence (the optimizer
        visits the same pattern at several tree levels; the terse form
        dedups to one line per (index, reason))."""
        reasons = Reasons()
        _, used = self._apply_with_info(df, reasons=reasons)
        conf = self.conf()
        lines = [f"Applied indexes: {', '.join(used) if used else '<none>'}"]
        entries = self._all_latest_entries(conf)
        all_names = [e.name for e in entries]
        if extended:
            lines.append("Known indexes:")
            for e in entries:
                if index_name is not None and e.name != index_name:
                    continue
                roots = ", ".join(p for r in e.relations for p in r.root_paths)
                lines.append(f"  {e.name} [{e.derived_kind}] state={e.state} source={roots}")
        reported = {n for n, _, _ in reasons.items}
        seen = set()
        for n, reason, detail in reasons.items:
            if not extended:
                if (n, reason) in seen:
                    continue
                seen.add((n, reason))
            if index_name is None or n == index_name:
                lines.append(f"  {n}: {reason}" + (f" ({detail})" if detail else ""))
        for n in all_names:
            if n in used or n in reported:
                continue
            if index_name is None or n == index_name:
                lines.append(f"  {n}: NOT_CONSIDERED (no matching source relation in plan)")
        # r7: opaque subtrees are the one place a JVM Catalyst rule would
        # see relations this planner cannot — surface them so "my index
        # didn't apply" inside an IN-subquery isn't a silent mystery.
        # (Recorded by _apply_with_info's parse above — no second plan walk.)
        kinds = getattr(reasons, "opaque_kinds", [])
        if kinds:
            lines.append(
                f"  note: {len(kinds)} plan subtree kind(s) not modeled by the Python "
                f"planner (replayed verbatim; relations inside them are not "
                f"index candidates): {', '.join(kinds)}"
            )
        return "\n".join(lines)

    def recommend(self, df: "DataFrame") -> list[dict]:
        """Covering-index configurations that would accelerate ``df``,
        derived from the query's own shape: filters suggest an index
        keyed on the equality-pinned column (bucket-prunable point
        probes) or the first range column, equi-joins suggest a
        co-bucketed pair keyed on the join columns, aggregates/windows
        suggest the grouping keys.  Suggestions already served by an
        ACTIVE index on the same source are dropped.

        Returns dicts: ``{"config": CoveringIndexConfig, "rule": <the
        planner rule that would consume it>, "reason": <human line>,
        "source": <root paths>}`` — pass ``config`` straight to
        ``create_index``.  Advisory only: nothing is created."""
        from hyperspace_spark.recommend import recommend

        return recommend(self, df)


def _scan_of(rel: Relation) -> ir.Scan:
    """Minimal Scan view of a logged Relation, for provider-backed file
    listing at refresh time (same path as create/apply)."""
    from hyperspace_spark.sources.delta import find_delta_root
    from hyperspace_spark.sources.iceberg import find_iceberg_root

    delta_root = iceberg_root = None
    if rel.file_format == "parquet" and len(rel.root_paths) == 1:
        delta_root = find_delta_root(rel.root_paths[0])
        if delta_root is None:
            iceberg_root = find_iceberg_root(rel.root_paths[0])
    return ir.Scan(
        root_paths=list(rel.root_paths),
        file_format=rel.file_format,
        data_schema_json=rel.data_schema_json or "",
        output=[],
        partition_columns=list(rel.partition_columns),
        options=dict(rel.options),
        delta_root=delta_root,
        iceberg_root=iceberg_root,
    )


def _signature_of(scan: ir.Scan, files: list[FileInfo]) -> str:
    """Source signature through the scan's provider (Delta: path+version;
    default: per-file metadata md5).  Build-time and query-time MUST agree
    or every query takes the hybrid path."""
    from hyperspace_spark.sources import provider_for

    return provider_for(scan).signature(scan, files)


def _record_snapshot(entry: IndexLogEntry, live: list[FileInfo]) -> None:
    """Record ``live`` as the source snapshot the entry's data now
    indexes: tracker-id'd files, the provider's signature (Delta:
    path+version; default: per-file metadata md5) and no pending
    quick-refresh delta.  Shared by full and incremental refresh, so
    every refreshed entry fingerprints its source the way create and
    query-time candidate selection do."""
    tracker = entry.file_id_tracker
    rel = entry.relations[0]
    rel.files = [FileInfo(f.path, f.size, f.mtime, tracker.add_or_get(f)) for f in live]
    entry.signature = _signature_of(_scan_of(rel), rel.files)
    entry.appended_files = []
    entry.deleted_files = []


def _publish_version(entry: IndexLogEntry, fs, data_dir: str, version: int) -> IndexLogEntry:
    """Make ``data_dir`` the entry's one current index version and list
    its content files — the fingerprint the version cache
    (indexes.base.version_slot) keys on.  Every write path (create, full
    and incremental refresh, optimize) publishes through here."""
    entry.index_data_dirs = [data_dir]
    entry.data_version = version
    entry.content_files = [
        FileInfo(st.path, st.size, st.mtime) for st in fs.list_files_recursive(data_dir)
    ]
    return entry


_KIND_MODULES = {
    "CI": "covering",
    "ZCI": "zorder",
    "DS": "dataskipping",
    "ANN": "ann",
    "TXT": "inverted",
}


def _kind_module(kind: str):
    """The module holding an index kind's data writers:
    ``create_index_data`` (create and full refresh) and
    ``refresh_incremental``."""
    import importlib

    if kind not in _KIND_MODULES:
        raise HyperspaceException(f"Unknown index kind {kind}")
    return importlib.import_module(f"hyperspace_spark.indexes.{_KIND_MODULES[kind]}")


def _group_by(files: list[FileInfo], key) -> dict | None:
    """``files`` grouped by ``key``; None when some file has no key."""
    groups: dict = {}
    for f in files:
        k = key(f)
        if k is None:
            return None
        groups.setdefault(k, []).append(f)
    return groups


def _cluster_of(f: FileInfo, base: str) -> str | None:
    """The ``cluster=N`` partition dir of an ANN data file."""
    rel_path = f.path[len(base) + 1 :] if f.path.startswith(base + "/") else ""
    return rel_path.split("/", 1)[0] if "/" in rel_path else None


def _bucket_of(f: FileInfo, base: str) -> int | None:
    """The bucket id in a bucketed (CI/TXT) data file's name."""
    from hyperspace_spark.indexes.covering import _BUCKET_FILE_RE

    m = _BUCKET_FILE_RE.search(f.path.rsplit("/", 1)[-1])
    return int(m.group(1)) if m else None


# The layout unit quick optimize compacts within, by kind.
_LAYOUT_UNIT = {"ANN": _cluster_of, "CI": _bucket_of, "TXT": _bucket_of}


def _column_exists(scan: ir.Scan, col: str) -> bool:
    return ir.scan_has_column(scan, col)


def _resolve_config_columns(scan: ir.Scan, config, case_sensitive: bool) -> None:
    """Rewrite an index config's column lists to the scan's schema
    spelling (no-op for names that do not resolve — create_index then
    reports them missing)."""

    def res(c: str) -> str:
        return ir.resolve_column(scan, c, case_sensitive) or c

    for attr in ("indexed_columns", "included_columns"):
        if hasattr(config, attr):
            setattr(config, attr, [res(c) for c in getattr(config, attr)])
    for s in getattr(config, "sketches", []) or []:
        if hasattr(s, "columns"):
            s.columns = [res(c) for c in s.columns]


def _op_histogram(plan_str: str) -> dict[str, int]:
    import re

    ops: dict[str, int] = {}
    for m in re.finditer(r"^[\s:+*(\d)\-]*([A-Za-z]+)", plan_str, re.MULTILINE):
        ops[m.group(1)] = ops.get(m.group(1), 0) + 1
    return ops


# ---------------------------------------------------------------------------
# Telemetry (reference: telemetry/HyperspaceEvent.scala + EventLogger) —
# every lifecycle action emits a typed event with duration + success, and
# every apply() emits a usage event listing the applied indexes.
# ---------------------------------------------------------------------------
def _telemetry_apply(index_names: list[str], detail: str) -> None:
    if not index_names:
        return
    from hyperspace_spark.telemetry import HyperspaceEvent, emit

    emit(HyperspaceEvent(kind="apply", index_name=",".join(index_names), detail=detail))


def _telemetry_rule_excluded(rule_names: list[str], exc: BaseException) -> None:
    """Breadcrumb for a rule dropped after its replacement failed during
    replay: planning retried without it (possibly losing score), and the
    failure would otherwise be COMPLETELY silent."""
    from hyperspace_spark.telemetry import HyperspaceEvent, emit, log as _tlog

    msg = f"{type(exc).__name__}: {exc}"
    _tlog.warning(
        "rule(s) %s declined late during replay (%s); re-planned without them",
        ",".join(rule_names),
        msg,
    )
    emit(
        HyperspaceEvent(
            kind="rule_excluded",
            detail=f"{','.join(rule_names)}: {msg}"[:500],
            success=False,
        )
    )


def _event_index_name(args, kwargs) -> str:
    for v in list(args) + list(kwargs.values()):
        if isinstance(v, str):
            return v
        n = getattr(v, "name", None)
        if isinstance(n, str):
            return n
    return ""


def _instrument() -> None:
    """Wrap the engine's entry points.  Each runs under
    ``session.internal()``, so on an enabled session the frames it
    builds and executes (sketch rows, lineage projections, sampling
    probes, search collects) are never planned as user queries
    (reference: ApplyHyperspace.scala:43-47,68-75).  Lifecycle ops also
    emit a timed telemetry event."""
    import functools

    from hyperspace_spark.telemetry import timed_event

    for meth, kind in [
        ("create_index", "create"),
        ("refresh_index", "refresh"),
        ("optimize_index", "optimize"),
        ("delete_index", "delete"),
        ("restore_index", "restore"),
        ("vacuum_index", "vacuum"),
        ("vacuum_outdated_indexes", "vacuum"),
        ("cancel", "cancel"),
    ] + [(meth, None) for meth in (
        "_apply_with_info", "recommend", "ann_search", "ann_join", "text_search",
        "text_search_ranked", "text_search_boolean", "text_search_phrase",
    )]:
        def wrap(orig=getattr(Hyperspace, meth), kind=kind):
            @functools.wraps(orig)
            def inner(self, *args, **kwargs):
                with session.internal():
                    if kind is None:
                        return orig(self, *args, **kwargs)
                    detail = " ".join(str(a) for a in args[1:] if isinstance(a, (str, int)))
                    with timed_event(kind, _event_index_name(args, kwargs), detail):
                        return orig(self, *args, **kwargs)

            return inner

        setattr(Hyperspace, meth, wrap())


_instrument()


# Session-level helpers mirroring the reference's implicit-class surface
# (package.scala:40-93: spark.enableHyperspace() / disableHyperspace() /
# isHyperspaceEnabled()).  Python has no implicits; these are plain
# functions over the session.
def enable_hyperspace(spark, hs: "Hyperspace | None" = None) -> "Hyperspace":
    """Route ``spark.sql`` and DataFrame actions through the index
    planner.  Returns the Hyperspace instance doing the routing (a
    default-system-path instance is created when ``hs`` is not given)."""
    hs = hs or Hyperspace(spark)
    hs.enable()
    return hs


disable_hyperspace = session.disable
is_hyperspace_enabled = session.is_enabled
