"""The driver-contract workload: every operator from SURVEY §2 (plus the
LLM-pipeline extensions) as a named query with a DuckDB oracle.

Each entry is a callable (spark, sf_dir) -> DataFrame paired with an
ANSI-SQL oracle string the driver runs in DuckDB over the same parquet
tables.  Column names and rounding are aligned on both sides (the
driver's compare hashes values after sorting columns by name).

Index-accelerated queries build their indexes in a per-sf workspace
under /tmp (testdata is read-only); the workspace is cached across
processes via the index operation log itself — if the log says ACTIVE
and the source copy exists, the build is skipped.

Float policy: any aggregated double is wrapped in round(..., 2..6) on
BOTH sides — Spark and DuckDB accumulate in different orders, so the
last bits differ; rounding makes the hash deterministic.
"""

from __future__ import annotations

import hashlib
import os
from typing import TYPE_CHECKING, Callable

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable] = {}
ORACLES: dict[str, str] = {}

# The index-accelerated headline queries whose speedup_vs_unindexed the
# bench records and the guards assert — ONE definition shared by
# bench.py, tests/test_bench_guard.py, and scripts/scale_probe.py so the
# three surfaces can never drift apart.
ACCELERATED_QUERIES = [
    "covering_filter_point",
    "covering_filter_agg",
    "join_cobucketed",
    "dataskipping_minmax",
    "zorder_filter_2d",
    # snapshot sources: same covering rewrite, but the raw-side baseline
    # pays the log/manifest-driven file enumeration too
    "delta_filter_index",
    "iceberg_filter_index",
    # r6: bloom-sketch file pruning (IN probe on the non-layout key)
    "dataskipping_bloom",
    # r6: scan-isolated z-order range speedup (see zorder_range_agg doc)
    "zorder_range_agg",
    # r6: ValueList-sketch pruning (IN probe on the layout-correlated year)
    "dataskipping_valuelist",
    # r7: 96-literal InSet recovery -> bloom probes (bounded predicate)
    "dataskipping_inset",
    # r7: exprId-attributed self-join (q65 skeleton) — both aggregates
    # and the join ride the index's bucketing
    "selfjoin_agg_cobucketed",
    # r7: shuffle-free latest-record window off the bucketed index
    "window_latest_lineitem",
    # r8: metadata-only aggregation (global agg answered from sketches)
    "metadata_only_agg",
    # r8: partition-grouped metadata aggregation (GROUP BY o_year from
    # PartitionSketch rows)
    "metadata_group_agg",
    # r8: count(DISTINCT) from ValueListSketch per-file value lists
    "metadata_count_distinct",
    # r8: partition-predicate WHERE folded exactly from sketch rows
    "metadata_filtered_agg",
    # r10: index-OR union (two bucket-pruned index scans vs one full scan)
    "covering_filter_or",
    # r10: partial index (range probe on a 5x-smaller predicate subset)
    "covering_filter_partial",
    # r11: TPC-DS q48/q13 OR-of-conjunctions shape (same-column equality
    # pins per branch -> index-OR union of bucket-pruned scans)
    "tpcds_q48_or_shape",
    # r11: ROLLUP over the co-bucketed join (GroupingSetsN models the
    # Aggregate-over-Expand lowering; JoinIndexRule drops the join
    # Exchange underneath the rollup)
    "rollup_join_cobucketed",
    # r11: decorrelated-EXISTS band semi-join (side-qualified residual +
    # semi-join support in JoinIndexRule); r12: BandExistsAggRule
    # collapses the probe side to a per-key MAX (no within-group scan)
    "exists_band_semijoin",
    # r12: TPC-DS q16's <>-residual EXISTS (two residual conjuncts ->
    # band rule declines, plain Exchange-free semi serving)
    "exists_distinct_order_semijoin",
    # r12: NOT-EXISTS band -> per-key-aggregate anti join
    "not_exists_band_antijoin",
    # r12: <>-band (the TPC-DS q16/q94 residual) -> per-key MIN/MAX pair
    "exists_sibling_order_semijoin",
]

# Accelerated contract queries whose RESULT is O(input) rows (the
# semi/anti band family returns nearly every order): at sf1+ a collect()
# arm measures driver row transfer, not the pipeline, and the paired
# ratio collapses to noise around 1 (VERDICT r12 'What's wrong' #3).
# scripts/scale_probe.py times these with a count()-wrapped arm on BOTH
# sides so the committed sf1 artifact carries the pipeline number; the
# sf0.1 bench keeps raw walls (result sets are small there).
RESULT_HEAVY_QUERIES = frozenset(
    {
        "exists_band_semijoin",
        "not_exists_band_antijoin",
        "exists_sibling_order_semijoin",
        "exists_distinct_order_semijoin",
    }
)


def executed_plan_final(df) -> str:
    """The AQE-finalized executed plan text (the section BEFORE
    '== Initial Plan ==' — AdaptiveSparkPlan's toString repeats the
    pre-adaptive tree after that marker).  Collect the frame first so
    AQE has finalized.  Shared by the sf0.01 guard and the sf1 probe."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_SCHEMA_CACHE: dict[str, str] = {}


def _p(spark: "SparkSession", path: str) -> "DataFrame":
    """Parquet read with a CACHED explicit schema.

    Without it every query construction pays a parquet footer-inference
    job (~140 ms on local[32]) — pure fixed overhead that at bench scale
    dwarfs the actual query.  At 100 TB the same applies: schema comes
    from the catalog/log, never from listing footers."""
    import json as _json

    from pyspark.sql.types import StructType

    sj = _SCHEMA_CACHE.get(path)
    if sj is None:
        sj = spark.read.parquet(path).schema.json()
        _SCHEMA_CACHE[path] = sj
    return spark.read.schema(StructType.fromJson(_json.loads(sj))).parquet(path)


def _t(spark: "SparkSession", sf_dir: str, name: str) -> "DataFrame":
    return _p(spark, f"{sf_dir}/{name}.parquet")


def _conf(spark: "SparkSession") -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The dedup pipelines persist small short-lived intermediates (shingle
    # arrays, signatures); columnar-cache compression costs ~3x the
    # materialization CPU to save memory we don't need at these sizes.
    spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "false")


# ---------------------------------------------------------------------------
# workspace: derived copies + indexes per sf_dir
# ---------------------------------------------------------------------------
class Workspace:
    def __init__(self, spark: "SparkSession", sf_dir: str):
        from hyperspace_spark import Hyperspace

        self.spark = spark
        self.sf_dir = sf_dir.rstrip("/")
        # uid in the tag: /tmp is host-shared, and two users running the
        # bench against the same sf_dir would otherwise collide on one
        # directory full of the first user's 0600-mode log files.
        uid = os.getuid() if hasattr(os, "getuid") else 0
        tag = hashlib.md5(f"{self.sf_dir}:{uid}".encode()).hexdigest()[:8]
        self.root = f"/tmp/hs_workload_{tag}"
        self.li_byship = f"{self.root}/li_byship"
        self.orders_app = f"{self.root}/orders_app"
        self.orders_bypart = f"{self.root}/orders_bypart"
        self.orders_nested = f"{self.root}/orders_nested"
        self.docs_stream = f"{self.root}/docs_stream"
        self.delta_orders = f"{self.root}/delta_orders"
        self.iceberg_orders = f"{self.root}/iceberg_orders"
        self.ngram_pairs = f"{self.root}/ngram_pairs"
        self.hs = Hyperspace(spark, system_path=f"{self.root}/indexes")

    # Bumped whenever the staged copies or index-build configs change:
    # the workspace marker folds it into the fingerprint, so a layout
    # left by an older code version is wiped and rebuilt instead of
    # serving indexes built under the old configs.
    _WS_VERSION = 16  # r10: + w_o_cov2 (index-OR pair) and w_o_partial (partial index)

    def _source_fingerprint(self) -> str:
        parts = [f"v{self._WS_VERSION}"]
        for name in sorted(os.listdir(self.sf_dir)):
            if not name.endswith(".parquet"):
                continue
            st = os.stat(os.path.join(self.sf_dir, name))
            parts.append(f"{name}:{st.st_size}:{int(st.st_mtime)}")
        return hashlib.md5("|".join(parts).encode()).hexdigest()

    def ensure(self) -> "Workspace":
        import json as _json
        import shutil as _shutil
        import time as _time

        _conf(self.spark)
        # Workspace validity gate: every staging/build step below is
        # individually idempotent via artifact-existence checks, but (a)
        # regenerated testdata at the same sf_dir would be served from
        # STALE copies (the oracle reads the new files, the queries the
        # old — silent mismatches), and (b) a crash between staging
        # steps leaves a half-staged workspace those existence checks
        # can never repair (e.g. a Delta v0 without its v1 append).  The
        # marker is written only after EVERYTHING succeeded and embeds a
        # source fingerprint; anything else wipes and rebuilds.
        #
        # The whole check-wipe-rebuild sequence runs under an exclusive
        # flock: /tmp is shared, and two concurrent processes of the same
        # user on the same sf_dir (parallel pytest + bench) could
        # otherwise rmtree the directory while the other is mid-build.
        # The lockfile lives OUTSIDE self.root so the wipe can't delete
        # the lock out from under us.
        marker = os.path.join(self.root, "_WORKSPACE_OK.json")
        fp = self._source_fingerprint()
        lock_path = f"{self.root}.lock"
        lock_f = open(lock_path, "a+")
        try:
            try:
                import fcntl

                fcntl.flock(lock_f.fileno(), fcntl.LOCK_EX)
            except (ImportError, OSError):
                # non-POSIX (no fcntl) or a filesystem without flock
                # support (some network mounts): best-effort, prior
                # lock-free behavior.
                pass
            if os.path.isdir(self.root) and os.listdir(self.root):
                ok = False
                try:
                    with open(marker) as f:
                        ok = _json.load(f).get("fp") == fp
                except Exception:
                    ok = False
                if not ok:
                    _shutil.rmtree(self.root, ignore_errors=True)
            os.makedirs(self.root, exist_ok=True)
            t0 = _time.perf_counter()
            self._ensure_copies()
            t1 = _time.perf_counter()
            self._ensure_indexes()
            with open(marker, "w") as f:
                _json.dump({"fp": fp}, f)
        finally:
            lock_f.close()  # releases the flock
        # Staging (layout copies, the synthetic Delta table) is test-data
        # setup, not index-build work — report separately in bench.py.
        self.staging_sec = t1 - t0
        self.index_build_sec = _time.perf_counter() - t1
        return self

    def _ensure_copies(self) -> None:
        if not os.path.exists(f"{self.li_byship}/_SUCCESS"):
            from pyspark.sql import functions as F

            # l_shipyear rides the l_shipdate range layout, giving a
            # low-cardinality column with per-file locality — the shape
            # the ValueList sketch exists for (each file holds 1-2
            # distinct years; arrays_overlap prunes IN probes).
            (
                _t(self.spark, self.sf_dir, "lineitem")
                .withColumn("l_shipyear", F.year("l_shipdate"))
                .repartitionByRange(16, "l_shipdate")
                .write.mode("overwrite")
                .parquet(self.li_byship)
            )
        if not os.path.exists(f"{self.orders_app}/_SUCCESS"):
            o = _t(self.spark, self.sf_dir, "orders")
            o.repartition(4).write.mode("overwrite").parquet(self.orders_app)
            # Deterministic "appended" delta AFTER the index build below
            # would normally arrive later; here we pre-stage it in a side
            # dir and move it in ensure_hybrid() so the hybrid-scan query
            # sees index-time vs query-time file sets differ.
            o.filter("o_orderkey % 97 = 0").coalesce(1).write.mode("overwrite").parquet(
                f"{self.root}/orders_delta"
            )
        if not os.path.exists(f"{self.orders_bypart}/_SUCCESS"):
            from pyspark.sql import functions as F

            # Hive-partitioned orders: the layout whose PartitionSketch
            # makes GROUP BY o_year a metadata-only query.
            (
                _t(self.spark, self.sf_dir, "orders")
                .withColumn("o_year", F.year("o_orderdate"))
                .write.mode("overwrite")
                .partitionBy("o_year")
                .parquet(self.orders_bypart)
            )
        if not os.path.exists(f"{self.orders_nested}/_SUCCESS"):
            # Struct-column variant of orders: exercises the nested
            # covering-index path (P1 flattening + struct rebuild,
            # reference ResolverUtils.scala:44-98) end-to-end.
            (
                _t(self.spark, self.sf_dir, "orders")
                .selectExpr(
                    "o_orderkey",
                    "named_struct('custkey', o_custkey, 'totalprice', o_totalprice) AS info",
                    "o_orderdate",
                )
                .repartition(4)
                .write.mode("overwrite")
                .parquet(self.orders_nested)
            )
        if not os.path.exists(f"{self.docs_stream}/_SUCCESS"):
            # Streaming-ingest fixture: the full corpus plus a replayed
            # ~5% subset (re-crawl / retry shape) in one directory, so
            # the ingest dedup gate has real duplicates to collapse at
            # EVERY sf (the synthetic documents are unique at small sf).
            d = _t(self.spark, self.sf_dir, "documents")
            d.coalesce(1).write.mode("overwrite").parquet(self.docs_stream)
            d.filter("doc_id % 20 = 0").coalesce(1).write.mode("append").parquet(
                self.docs_stream
            )
        if not os.path.isdir(f"{self.delta_orders}/_delta_log"):
            from hyperspace_spark.sources.delta import write_delta

            o = _t(self.spark, self.sf_dir, "orders")
            write_delta(o, self.delta_orders)  # v0: full table
            write_delta(o.filter("o_orderkey % 89 = 0"), self.delta_orders)  # v1: ~1% append
        if not os.path.isdir(f"{self.iceberg_orders}/metadata"):
            from hyperspace_spark.sources.iceberg import write_iceberg

            o = _t(self.spark, self.sf_dir, "orders")
            write_iceberg(o, self.iceberg_orders)  # s0: full table
            write_iceberg(o.filter("o_orderkey % 83 = 0"), self.iceberg_orders)  # s1: ~1%

    def _active(self, name: str) -> bool:
        from hyperspace_spark.metadata.entry import States

        mgr = self.hs._log_mgr(name, self.hs.conf())
        e = mgr.get_latest_stable_log()
        return e is not None and e.state == States.ACTIVE

    def _bucket_counts(self) -> tuple[int, int]:
        """(point-lookup buckets for orders, shared join-pair buckets).

        Point-lookup index: buckets ARE the pruning granularity (an
        equality probe reads 1/n of the index), so size them fine —
        ~256 KB of source per bucket, capped.  Join pair: both sides get
        the SAME count sized off the LARGER side (~4 MB/bucket) so the
        sort-merge join is Exchange-free without bucket coalescing and
        tasks stay coarse.  Both scale with the source: at 100 TB the
        same formulas give a few hundred MB per bucket via the cap-free
        growth, at MB scale they stay out of the tiny-file trap.
        """

        def pow2(n: int) -> int:
            return 1 << (max(1, n) - 1).bit_length()

        o_bytes = os.path.getsize(f"{self.sf_dir}/orders.parquet")
        li_bytes = os.path.getsize(f"{self.sf_dir}/lineitem.parquet")
        point = min(pow2(-(-o_bytes // (256 * 1024))), 256)
        join = min(pow2(-(-li_bytes // (4 * 1024 * 1024))), 1024)
        return point, join

    def _ensure_indexes(self) -> None:
        from hyperspace_spark import (
            BloomFilterSketch,
            CoveringIndexConfig,
            DataSkippingIndexConfig,
            InvertedTextIndexConfig,
            MinMaxSketch,
            PartitionSketch,
            RowCountSketch,
            SumSketch,
            ZOrderCoveringIndexConfig,
        )

        spark = self.spark
        nb_point, nb_join = self._bucket_counts()
        builds = [
            (
                "w_o_cov",
                lambda: self.hs.create_index(
                    _t(spark, self.sf_dir, "orders"),
                    CoveringIndexConfig(
                        "w_o_cov",
                        ["o_custkey"],
                        ["o_orderkey", "o_totalprice"],
                        num_buckets=nb_point,
                    ),
                ),
            ),
            (
                "w_li_join",
                lambda: self.hs.create_index(
                    _t(spark, self.sf_dir, "lineitem"),
                    CoveringIndexConfig(
                        "w_li_join",
                        ["l_orderkey"],
                        # l_linenumber: unique within an order, the
                        # deterministic tiebreak the window contract
                        # query's ORDER BY needs (r7)
                        ["l_quantity", "l_extendedprice", "l_discount", "l_linenumber"],
                        num_buckets=nb_join,
                    ),
                ),
            ),
            (
                "w_o_join",
                lambda: self.hs.create_index(
                    _t(spark, self.sf_dir, "orders"),
                    CoveringIndexConfig(
                        "w_o_join",
                        ["o_orderkey"],
                        ["o_orderpriority"],
                        num_buckets=nb_join,
                    ),
                ),
            ),
            (
                # Second point-lookup index on orders, keyed by the OTHER
                # probe column: together with w_o_cov it forms the
                # index-OR pair (FilterOrIndexRule) — a disjunctive
                # filter reads one bucket file from EACH index.
                "w_o_cov2",
                lambda: self.hs.create_index(
                    _t(spark, self.sf_dir, "orders"),
                    CoveringIndexConfig(
                        "w_o_cov2",
                        ["o_orderkey"],
                        ["o_custkey", "o_totalprice"],
                        num_buckets=nb_point,
                    ),
                ),
            ),
            (
                # PARTIAL covering index: only 1-URGENT orders (~20% of
                # rows).  Serves filters that provably imply the
                # predicate (planner/implication.py) from a 5x-smaller
                # sorted index.
                "w_o_partial",
                lambda: self.hs.create_index(
                    _t(spark, self.sf_dir, "orders"),
                    CoveringIndexConfig(
                        "w_o_partial",
                        ["o_custkey"],
                        ["o_orderkey", "o_totalprice", "o_orderpriority"],
                        num_buckets=max(2, nb_point // 4),
                        where="o_orderpriority = '1-URGENT'",
                    ),
                ),
            ),
            (
                "w_li_skip",
                lambda: self._build_skipping(
                    DataSkippingIndexConfig, MinMaxSketch, BloomFilterSketch
                ),
            ),
            (
                "w_li_z",
                lambda: self._build_zorder(
                    ZOrderCoveringIndexConfig,
                    "w_li_z",
                    "lineitem",
                    ["l_quantity", "l_extendedprice"],
                    ["l_orderkey"],
                ),
            ),
            (
                # Single-column z = range-clustered layout: per-file min/max
                # stats prune RANGE predicates on o_custkey to ~1 file —
                # the layout a hash-bucketed covering index can't prune.
                # Included columns deliberately EXCLUDE o_orderkey so the
                # point-lookup query (which needs it) stays on w_o_cov's
                # bucket-pruned path and both strategies stay exercised.
                "w_o_z",
                lambda: self._build_zorder(
                    ZOrderCoveringIndexConfig,
                    "w_o_z",
                    "orders",
                    ["o_custkey"],
                    ["o_totalprice"],
                ),
            ),
            (
                # Covering index keyed on a NESTED struct field: dotted
                # path flattens at build, query-time rewrite rebuilds the
                # partial struct (P1/C1 nested path).
                "w_nested_cov",
                lambda: self.hs.create_index(
                    spark.read.parquet(self.orders_nested),
                    CoveringIndexConfig(
                        "w_nested_cov",
                        ["info.custkey"],
                        ["o_orderkey", "info.totalprice"],
                        num_buckets=nb_point,
                    ),
                ),
            ),
            (
                "w_oapp_cov",
                lambda: self.hs.create_index(
                    spark.read.parquet(self.orders_app),
                    CoveringIndexConfig(
                        "w_oapp_cov",
                        ["o_custkey"],
                        ["o_orderkey", "o_orderpriority"],
                        num_buckets=nb_point,
                    ),
                ),
            ),
            (
                # Covering index over a DELTA table (open-protocol log
                # reader, sources/delta.py): version-pinned signature,
                # snapshot-listed files.
                "w_delta_cov",
                lambda: self._create_delta_index(CoveringIndexConfig),
            ),
            (
                # Covering index over an ICEBERG table (open-spec
                # metadata/manifest reader, sources/iceberg.py).
                "w_iceberg_cov",
                lambda: self._create_iceberg_index(CoveringIndexConfig),
            ),
            (
                # Persisted IVF ANN index (kind ANN, indexes/ann.py):
                # KMeans once at build, cluster-partitioned layout,
                # probes prune partitions — replaces per-query KMeans.
                "w_ann_ivf",
                lambda: self._create_ann_index(),
            ),
            (
                # IVF-PQ variant (pq_m=8): rows store an 8-byte product-
                # quantization code instead of the 64-dim vector (~14x
                # smaller on the synthetic embeddings); search = ADC over
                # codes -> exact re-rank of the candidate pool against
                # the source vectors.
                "w_ann_pq",
                lambda: self._create_ann_pq_index(),
            ),
            (
                # Partition-grouped metadata aggregation: PartitionSketch
                # keys the per-file rows by o_year, so GROUP BY o_year
                # folds from the index (MetadataOnlyAggRule grouped path).
                "w_part_meta",
                lambda: self.hs.create_index(
                    spark.read.parquet(self.orders_bypart),
                    DataSkippingIndexConfig(
                        "w_part_meta",
                        [
                            PartitionSketch(["o_year"]),
                            RowCountSketch(),
                            SumSketch(["o_totalprice"]),
                        ],
                    ),
                ),
            ),
            (
                # Sketch index powering the metadata-only aggregation
                # rewrite (planner/rules.py MetadataOnlyAggRule): per-file
                # min/max + sum/non-null-count + row count answer global
                # aggregates from the index alone — no source scan.
                "w_li_meta",
                lambda: self.hs.create_index(
                    _t(spark, self.sf_dir, "lineitem"),
                    DataSkippingIndexConfig(
                        "w_li_meta",
                        [
                            MinMaxSketch(["l_shipdate"]),
                            RowCountSketch(),
                            SumSketch(["l_quantity"]),
                            SumSketch(["l_extendedprice"]),
                        ],
                    ),
                ),
            ),
            (
                # Inverted text index (kind TXT): token -> bucketed
                # postings; keyword search reads only the probed tokens'
                # buckets, never the corpus text.
                "w_doc_txt",
                lambda: self.hs.create_index(
                    _t(spark, self.sf_dir, "documents"),
                    InvertedTextIndexConfig("w_doc_txt", num_buckets=16),
                ),
            ),
            (
                # Join-key index on orders_app, built BEFORE the staged
                # delta lands -> exercises the U5-equivalent hybrid JOIN
                # (index ∪ appended files, planner/rules.py JoinIndexRule).
                "w_oapp_join",
                lambda: self.hs.create_index(
                    spark.read.parquet(self.orders_app),
                    CoveringIndexConfig(
                        "w_oapp_join",
                        ["o_orderkey"],
                        ["o_orderpriority"],
                        num_buckets=nb_join,
                    ),
                ),
            ),
        ]
        # Builds are independent (each index owns its log dir and data
        # path), so run them as concurrent Spark jobs: any one build's
        # stages under-fill the cluster (local[32] here, likewise a real
        # cluster), and the scheduler interleaves them.  4 workers ≈ the
        # point of diminishing returns at this scale.
        from concurrent.futures import ThreadPoolExecutor

        pending = [(name, build) for name, build in builds if not self._active(name)]
        if pending:
            with ThreadPoolExecutor(max_workers=4) as pool:
                futures = [(name, pool.submit(build)) for name, build in pending]
                for name, fut in futures:
                    fut.result()  # propagate the first failure with its name visible
        self._ensure_hybrid_delta()
        self._ensure_ngram_pairs()

    def _ensure_ngram_pairs(self) -> None:
        """Materialize the exact n-gram Jaccard near-dup pair graph ONCE
        per workspace.  The pair graph feeds two contract queries
        (dedup_ngram_jaccard, dedup_clusters) — at 100 TB near-dup pairs
        are a derived artifact with an index-like lifecycle (built once,
        refreshed with the corpus), never a per-query recompute."""
        if os.path.exists(f"{self.ngram_pairs}/_SUCCESS"):
            return
        from hyperspace_spark.llm import dedup

        pairs = dedup.ngram_jaccard_pairs(
            _t(self.spark, self.sf_dir, "documents"), n=3, threshold=0.5, max_shingle_df=64
        )
        pairs.write.mode("overwrite").parquet(self.ngram_pairs)
        dedup.release_caches()

    def _create_delta_index(self, CoveringIndexConfig) -> None:
        from hyperspace_spark.sources.delta import read_delta

        self.hs.create_index(
            read_delta(self.spark, self.delta_orders),
            CoveringIndexConfig(
                "w_delta_cov", ["o_custkey"], ["o_orderkey", "o_totalprice"]
            ),
        )

    def _create_ann_index(self) -> None:
        from hyperspace_spark import IvfIndexConfig

        self.hs.create_index(
            _t(self.spark, self.sf_dir, "embeddings"),
            IvfIndexConfig("w_ann_ivf", n_clusters=8),
        )

    def _create_ann_pq_index(self) -> None:
        from hyperspace_spark import IvfIndexConfig

        self.hs.create_index(
            _t(self.spark, self.sf_dir, "embeddings"),
            IvfIndexConfig("w_ann_pq", n_clusters=8, pq_m=8),
        )

    def _create_iceberg_index(self, CoveringIndexConfig) -> None:
        from hyperspace_spark.sources.iceberg import read_iceberg

        self.hs.create_index(
            read_iceberg(self.spark, self.iceberg_orders),
            CoveringIndexConfig(
                "w_iceberg_cov", ["o_custkey"], ["o_orderkey", "o_totalprice"]
            ),
        )

    def _build_skipping(self, DataSkippingIndexConfig, MinMaxSketch, BloomFilterSketch) -> None:
        """Skipping index over li_byship: min/max on the layout key plus a
        Bloom on l_orderkey sized from the ACTUAL per-file row count — a
        fixed expected-items constant saturates at larger sf (a filter
        sized for 8k keys holding 37k has fpp ≈ 1 and prunes nothing),
        exactly the failure mode a 100 TB deployment hits with hardcoded
        sketch parameters.  The count() is metadata-only on parquet and
        runs once per cold build."""
        from hyperspace_spark import ValueListSketch

        rows = self.spark.read.parquet(self.li_byship).count()
        n_files = max(
            1, len([f for f in os.listdir(self.li_byship) if f.endswith(".parquet")])
        )
        expected = max(2000, -(-rows // n_files))
        self.hs.create_index(
            self.spark.read.parquet(self.li_byship),
            DataSkippingIndexConfig(
                "w_li_skip",
                [
                    MinMaxSketch(["l_shipdate"]),
                    BloomFilterSketch(["l_orderkey"], 0.01, expected),
                    # low-cardinality layout-correlated column: exact
                    # distinct list per file, In -> arrays_overlap
                    ValueListSketch(["l_shipyear"]),
                ],
            ),
        )

    def _build_zorder(self, ZOrderCoveringIndexConfig, name, table, indexed, included) -> None:
        """Z-order index clustered into ~sqrt(bytes/64KB) range partitions
        (clamped to [12, 4096]) so per-file min/max stats have pruning
        power at every sf — at the 1 GiB default the whole table is one
        file at small sf and there is nothing to prune.  The sqrt rule
        (r6) makes BOTH axes grow with the data: partition count scales
        up (finer min/max boxes — the r5 fixed ~12 count let the sf1
        zorder speedup erode, 1.79x -> 1.48x) while bytes/partition also
        scales up (no tiny-file explosion; at 100 TB it lands at ~40k
        partitions of ~2.5 GB).  The target is passed ON THE CONFIG, not
        via session conf: builds run concurrently in a thread pool, and
        a session-global set/unset raced between the two z-order builds —
        one could snapshot the other's target (or the 1 GiB default,
        collapsing the table into a single unprunable partition)."""
        import math

        size = os.path.getsize(f"{self.sf_dir}/{table}.parquet")
        n = min(4096, max(12, round(math.sqrt(size / (64 * 1024)))))
        target = max(16 * 1024, size // n)
        self.hs.create_index(
            _t(self.spark, self.sf_dir, table),
            ZOrderCoveringIndexConfig(
                name, indexed, included, target_bytes_per_partition=target
            ),
        )

    def _ensure_hybrid_delta(self) -> None:
        """Move the staged delta into orders_app AFTER w_oapp_cov exists,
        so the live file set differs from the indexed set (hybrid scan)."""
        import glob
        import shutil

        delta_files = glob.glob(f"{self.root}/orders_delta/*.parquet")
        existing = glob.glob(f"{self.orders_app}/hs_delta_*.parquet")
        if delta_files and not existing:
            for i, f in enumerate(sorted(delta_files)):
                shutil.copy(f, f"{self.orders_app}/hs_delta_{i}.parquet")


    def cold_build_probe(self) -> float:
        """Build the FULL index set from scratch into a throwaway system
        path and return the wall seconds — the cold `create_index` cost a
        new deployment pays, vs. the warm log-reuse number `ensure()`
        reports when the workspace already exists.  The probe reuses the
        staged sources (staging is test-data setup, not index work) and
        is deleted afterwards; build-time catalog table names collide
        with the real workspace's but are harmless — the query path
        re-registers location-keyed names (covering.ensure_bucketed_table)."""
        import shutil as _shutil
        import time as _time

        from hyperspace_spark import Hyperspace

        probe_path = f"{self.root}/indexes_coldprobe"
        _shutil.rmtree(probe_path, ignore_errors=True)
        real_hs = self.hs
        self.hs = Hyperspace(self.spark, system_path=probe_path)
        try:
            t0 = _time.perf_counter()
            self._ensure_indexes()
            sec = _time.perf_counter() - t0
        finally:
            self.hs = real_hs
            _shutil.rmtree(probe_path, ignore_errors=True)
        return sec


_WS_CACHE: dict[tuple[int, str], Workspace] = {}


def workspace(spark: "SparkSession", sf_dir: str) -> Workspace:
    key = (id(spark), sf_dir)
    if key not in _WS_CACHE:
        _WS_CACHE[key] = Workspace(spark, sf_dir).ensure()
    return _WS_CACHE[key]


# ===========================================================================
# 1. Index-accelerated queries (SURVEY §2.A)
# ===========================================================================
@q(
    "covering_filter_point",
    """
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = 42
    """,
)
def covering_filter_point(spark, sf_dir):
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    df = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") == 42).select(
        "o_orderkey", "o_totalprice"
    )
    return ws.hs.apply(df)


@q(
    "covering_filter_agg",
    """
    SELECT o_custkey, round(sum(o_totalprice), 2) AS sum_total, count(*) AS cnt
    FROM orders WHERE o_custkey BETWEEN 100 AND 200
    GROUP BY o_custkey
    """,
)
def covering_filter_agg(spark, sf_dir):
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    df = (
        _t(spark, sf_dir, "orders")
        .filter("o_custkey BETWEEN 100 AND 200")
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
            F.count("*").alias("cnt"),
        )
    )
    return ws.hs.apply(df)


_OR_OKEY_CACHE: dict[str, int] = {}


def _or_probe_orderkey(spark, sf_dir: str) -> int:
    """Deterministic o_orderkey literal for the index-OR contract query:
    customer 42's smallest order (computed once per sf, cached — a query
    PARAMETER, not per-run work; the oracle derives the same key with a
    scalar subquery).  -1 when the customer is absent (the disjunct then
    matches nothing, same as the oracle's NULL-equality)."""
    if sf_dir not in _OR_OKEY_CACHE:
        from pyspark.sql import functions as F

        row = (
            _t(spark, sf_dir, "orders")
            .filter("o_custkey = 42")
            .agg(F.min("o_orderkey"))
            .collect()
        )
        _OR_OKEY_CACHE[sf_dir] = int(row[0][0]) if row and row[0][0] is not None else -1
    return _OR_OKEY_CACHE[sf_dir]


@q(
    "covering_filter_or",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_custkey = 42
       OR o_orderkey = (SELECT min(o_orderkey) FROM orders WHERE o_custkey = 42)
    """,
)
def covering_filter_or(spark, sf_dir):
    """Disjunctive filter -> FilterOrIndexRule: each disjunct reads ONE
    bucket file of its own covering index (w_o_cov on o_custkey,
    w_o_cov2 on o_orderkey), guards dedupe the overlapping row (the
    probed orderkey BELONGS to customer 42, so the overlap is real).
    Raw plan: full orders scan with an unprunable OR predicate."""
    ws = workspace(spark, sf_dir)
    okey = _or_probe_orderkey(spark, sf_dir)
    df = (
        _t(spark, sf_dir, "orders")
        .filter(f"o_custkey = 42 OR o_orderkey = {okey}")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    return ws.hs.apply(df)


_Q48_OR_FILTER = (
    "(o_custkey = 42 AND o_totalprice BETWEEN 50000 AND 200000)"
    " OR (o_custkey = 97 AND o_totalprice BETWEEN 100000 AND 300000)"
    " OR (o_custkey = 3 AND o_totalprice BETWEEN 0 AND 150000)"
)


@q(
    "tpcds_q48_or_shape",
    f"""
    SELECT round(sum(o_totalprice), 2) AS sum_price, count(*) AS n,
           min(o_orderkey) AS min_okey
    FROM orders
    WHERE {_Q48_OR_FILTER}
    """,
)
def tpcds_q48_or_shape(spark, sf_dir):
    """TPC-DS q48/q13's signature predicate shape — an OR of
    conjunction branches, each pinning the SAME column to a different
    constant with a different range riding along (reference
    src/test/resources/tpcds/queries/q48.sql) — over the orders table.
    FilterOrIndexRule serves it: every branch's equality conjunct pins
    w_o_cov's bucket column, so the union reads ~one bucket file per
    branch; the raw plan full-scans (no conjunct pins anything across
    the whole OR).  The aggregate on top survives the rewrite.
    min(o_orderkey) keeps o_orderkey in the required set so the
    z-order index (which covers only custkey+totalprice) can't serve
    the whole disjunction as one stats-pruned scan — both strategies
    stay separately exercised, like w_o_z's own comment prescribes."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    df = (
        _t(spark, sf_dir, "orders")
        .filter(_Q48_OR_FILTER)
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.count("*").alias("n"),
            F.min("o_orderkey").alias("min_okey"),
        )
    )
    return ws.hs.apply(df)


@q(
    "covering_filter_partial",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS total FROM orders
    WHERE o_custkey BETWEEN 100 AND 200 AND o_orderpriority = '1-URGENT'
    """,
)
def covering_filter_partial(spark, sf_dir):
    """Filter implied by a PARTIAL index's build predicate -> served from
    w_o_partial, which holds only 1-URGENT rows (~20%) sorted by
    o_custkey: the range probe reads a 5x-smaller index with row-group
    pruning.  A query without the priority conjunct provably does NOT
    imply the predicate and falls back (PREDICATE_NOT_IMPLIED)."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    df = (
        _t(spark, sf_dir, "orders")
        .filter("o_custkey BETWEEN 100 AND 200 AND o_orderpriority = '1-URGENT'")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )
    return ws.hs.apply(df)


@q(
    "rollup_join_cobucketed",
    """
    SELECT o_orderpriority, l_linenumber, grouping(l_linenumber) AS g,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY ROLLUP(o_orderpriority, l_linenumber)
    """,
)
def rollup_join_cobucketed(spark, sf_dir):
    """ROLLUP over the co-bucketed join (TPC-DS q27's shape on TPC-H
    tables): before r11 the Aggregate-over-Expand lowering went opaque
    and hid the join from the planner entirely; GroupingSetsN now
    models it, so JoinIndexRule drops the join Exchange underneath the
    rollup (the rollup's own aggregation still shuffles — its keys
    include the grouping id, which no bucketing satisfies).  Subtotals
    per (priority, linenumber), per priority, and the grand total."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    df = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .rollup("o_orderpriority", "l_linenumber")
        .agg(
            F.grouping("l_linenumber").alias("g"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .select("o_orderpriority", "l_linenumber", "g", "sum_qty", "n")
    )
    return ws.hs.apply(df)


@q(
    "exists_band_semijoin",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
    FROM orders a
    WHERE EXISTS (
      SELECT 1 FROM orders b
      WHERE a.o_custkey = b.o_custkey
        AND b.o_totalprice > a.o_totalprice * 2
    )
    """,
)
def exists_band_semijoin(spark, sf_dir):
    """Decorrelated-EXISTS band shape: orders dwarfed by another order
    of the SAME customer — a LEFT SEMI self-join whose residual
    compares o_totalprice across both sides.  r11: the residual replays
    side-qualified (__hs_l/__hs_r by exprId) and JoinIndexRule serves
    semi joins.  r12: BandExistsAggRule outbids that plain serving —
    the probe side collapses to a per-customer MAX(o_totalprice) read
    Exchange-free from w_o_cov's bucketing, so the semi join compares
    each row against ONE row per key instead of scanning the group
    (linear on skewed customers; the raw plan's SMJ pair-scans within
    each key group after shuffling both full scans)."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    a = _t(spark, sf_dir, "orders").alias("a")
    b = _t(spark, sf_dir, "orders").alias("b")
    df = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("b.o_totalprice") > F.col("a.o_totalprice") * 2),
            "left_semi",
        )
        .select(
            F.col("a.o_orderkey").alias("o_orderkey"),
            F.col("a.o_custkey").alias("o_custkey"),
            F.round(F.col("a.o_totalprice"), 2).alias("total"),
        )
    )
    return ws.hs.apply(df)


@q(
    "exists_distinct_order_semijoin",
    # The oracle spells the semi join as DISTINCT-over-join: DuckDB
    # 1.0.0 mis-decorrelates a correlated EXISTS whose predicate mixes
    # <> and > over both sides (returns 0 rows where the equivalent
    # plain join finds 75200 matches at sf0.01) — o_orderkey is unique,
    # so DISTINCT over the a-side projection is exactly semi semantics.
    """
    SELECT DISTINCT a.o_orderkey AS o_orderkey, a.o_custkey AS o_custkey,
           round(a.o_totalprice, 2) AS total
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey <> b.o_orderkey
     AND b.o_totalprice > a.o_totalprice
    """,
)
def exists_distinct_order_semijoin(spark, sf_dir):
    """TPC-DS q16/q94's EXISTS shape on TPC-H tables: 'another row of
    the same group' via a <>-residual (cs1.cs_warehouse_sk <>
    cs2.cs_warehouse_sk in the official texts, reference
    src/test/resources/tpcds/queries/q16.sql:17-19) plus a band
    conjunct.  TWO residual conjuncts are not max-decomposable —
    EXISTS(b: P1(b) AND P2(b)) is weaker than both maxima — so r12's
    BandExistsAggRule must DECLINE and the r11 plain semi serving takes
    the pair: both sides read w_o_cov co-bucketed on o_custkey,
    Exchange-free semi SMJ, both residuals replayed side-qualified by
    exprId."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    a = _t(spark, sf_dir, "orders").alias("a")
    b = _t(spark, sf_dir, "orders").alias("b")
    df = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderkey") != F.col("b.o_orderkey"))
        & (F.col("b.o_totalprice") > F.col("a.o_totalprice")),
        "left_semi",
    ).select(
        F.col("a.o_orderkey").alias("o_orderkey"),
        F.col("a.o_custkey").alias("o_custkey"),
        F.round(F.col("a.o_totalprice"), 2).alias("total"),
    )
    return ws.hs.apply(df)


@q(
    "not_exists_band_antijoin",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
    FROM orders a
    WHERE NOT EXISTS (
      SELECT 1 FROM orders b
      WHERE a.o_custkey = b.o_custkey
        AND b.o_totalprice > a.o_totalprice * 2
    )
    """,
)
def not_exists_band_antijoin(spark, sf_dir):
    """NOT-EXISTS band (TPC-DS q16/q94's anti half with a band probe
    instead of an equality): orders NOT dwarfed by another order of the
    same customer.  r12 BandExistsAggRule on the LEFT ANTI join: the
    probe side collapses to a per-customer MAX(o_totalprice) — sound
    negated row-wise (a key-group match exists against the aggregate
    iff one exists against the raw rows) — and both sides read w_o_cov
    co-bucketed on o_custkey, so the aggregate AND the anti join run
    Exchange-free."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    a = _t(spark, sf_dir, "orders").alias("a")
    b = _t(spark, sf_dir, "orders").alias("b")
    df = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("b.o_totalprice") > F.col("a.o_totalprice") * 2),
        "left_anti",
    ).select(
        F.col("a.o_orderkey").alias("o_orderkey"),
        F.col("a.o_custkey").alias("o_custkey"),
        F.round(F.col("a.o_totalprice"), 2).alias("total"),
    )
    return ws.hs.apply(df)


@q(
    "exists_sibling_order_semijoin",
    """
    SELECT o_orderkey, o_custkey
    FROM orders a
    WHERE EXISTS (
      SELECT 1 FROM orders b
      WHERE a.o_custkey = b.o_custkey
        AND b.o_orderkey <> a.o_orderkey
    )
    """,
)
def exists_sibling_order_semijoin(spark, sf_dir):
    """The <>-band rewrite (r12): TPC-DS q16/q94's exact residual shape
    ('another row of the same group with a DIFFERENT value' —
    cs1.cs_warehouse_sk <> cs2.cs_warehouse_sk in the official texts,
    reference src/test/resources/tpcds/queries/q16.sql:17-19) as a
    single-conjunct EXISTS: orders of customers with MORE THAN ONE
    order.  BandExistsAggRule serves it as a per-customer MIN/MAX pair
    read Exchange-free from w_o_cov — all group values equal a's order
    key iff min = max = it — instead of the raw plan's within-group
    pair scan."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    a = _t(spark, sf_dir, "orders").alias("a")
    b = _t(spark, sf_dir, "orders").alias("b")
    df = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("b.o_orderkey") != F.col("a.o_orderkey")),
        "left_semi",
    ).select(
        F.col("a.o_orderkey").alias("o_orderkey"),
        F.col("a.o_custkey").alias("o_custkey"),
    )
    return ws.hs.apply(df)


@q(
    "exists_or_channels",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
      )
      OR EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000
      )
    """,
)
def exists_or_channels(spark, sf_dir):
    """EXISTS subqueries under a DISJUNCTION (TPC-DS q10/q35's shape on
    TPC-H tables): Catalyst lowers the OR-ed pair to ExistenceJoins —
    boolean flag columns all NAMED `exists`, whose joinType.sql() even
    throws — so before r13 the whole statement went opaque and every
    scan under it was invisible to the index rules.  The r13
    ExistsFilterN composite (planner/parser.py::_try_parse_exists_filter,
    replay.py) re-renders the filter as correlated EXISTS subqueries
    (Catalyst re-decorrelates — an exact round trip) with each branch
    subtree fully visible.  TPC-DS q10/q35 goldens pin the accelerated
    star shape (6 index instances); this row is the driver's DuckDB
    correctness gate for the same path."""
    ws = workspace(spark, sf_dir)
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    df = spark.sql(
        """
        SELECT c_custkey, c_name
        FROM w_customer c
        WHERE EXISTS (
            SELECT 1 FROM w_orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
          )
          OR EXISTS (
            SELECT 1 FROM w_orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000
          )
        """
    )
    return ws.hs.apply(df)


@q(
    "selfjoin_moving_window",
    """
    WITH v1 AS (
      SELECT o_custkey,
             CAST(month(o_orderdate) AS INT) AS m,
             round(sum(o_totalprice), 2) AS sum_spend,
             rank() OVER (PARTITION BY o_custkey
                          ORDER BY CAST(month(o_orderdate) AS INT)) AS rn
      FROM orders
      WHERE year(o_orderdate) = 1995
      GROUP BY o_custkey, month(o_orderdate))
    SELECT v1.o_custkey AS o_custkey, v1.m AS m, v1.sum_spend AS sum_spend,
           v1_lag.sum_spend AS psum, v1_lead.sum_spend AS nsum
    FROM v1, v1 v1_lag, v1 v1_lead
    WHERE v1.o_custkey = v1_lag.o_custkey
      AND v1.o_custkey = v1_lead.o_custkey
      AND v1.rn = v1_lag.rn + 1
      AND v1.rn = v1_lead.rn - 1
    """,
)
def selfjoin_moving_window(spark, sf_dir):
    """TPC-DS q47/q57's moving-average skeleton on TPC-H orders: the
    same CTE instantiated three times and self-joined on a same-named
    key plus rank-offset residuals, with same-named payloads (sum_spend
    x3) disambiguated only by the TOP projection.  r13: the exprId-keyed
    rename synthesis (parser._synthesize_renamed_select + the map
    threaded through pruning Projects to the fused top Project) renders
    the chain unambiguously — before r13 the whole statement replayed
    verbatim and its scans were invisible.  TPC-DS q47/q57 goldens pin
    the accelerated plans (6 index instances each); this row is the
    driver's DuckDB gate for the same path."""
    ws = workspace(spark, sf_dir)
    _t(spark, sf_dir, "orders").createOrReplaceTempView("w_orders_mw")
    df = spark.sql(
        """
        WITH v1 AS (
          SELECT o_custkey,
                 CAST(month(o_orderdate) AS INT) AS m,
                 round(sum(o_totalprice), 2) AS sum_spend,
                 rank() OVER (PARTITION BY o_custkey
                              ORDER BY CAST(month(o_orderdate) AS INT)) AS rn
          FROM w_orders_mw
          WHERE year(o_orderdate) = 1995
          GROUP BY o_custkey, month(o_orderdate))
        SELECT v1.o_custkey AS o_custkey, v1.m AS m, v1.sum_spend AS sum_spend,
               v1_lag.sum_spend AS psum, v1_lead.sum_spend AS nsum
        FROM v1, v1 v1_lag, v1 v1_lead
        WHERE v1.o_custkey = v1_lag.o_custkey
          AND v1.o_custkey = v1_lead.o_custkey
          AND v1.rn = v1_lag.rn + 1
          AND v1.rn = v1_lead.rn - 1
        """
    )
    return ws.hs.apply(df)


@q(
    "join_cobucketed",
    """
    SELECT o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS cnt
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_cobucketed(spark, sf_dir):
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    df = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("cnt"),
        )
    )
    return ws.hs.apply(df)


@q(
    "selfjoin_agg_cobucketed",
    """
    SELECT a.l_orderkey, a.qty, b.rev
    FROM (SELECT l_orderkey, round(sum(l_quantity), 2) AS qty
          FROM lineitem GROUP BY l_orderkey) a
    JOIN (SELECT l_orderkey,
                 CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                                * (1 - CAST(l_discount AS DECIMAL(14,2)))), 2)
                      AS DOUBLE) AS rev
          FROM lineitem GROUP BY l_orderkey) b
      ON a.l_orderkey = b.l_orderkey
    WHERE a.qty > 150
    """,
)
def selfjoin_agg_cobucketed(spark, sf_dir):
    """TPC-DS q65 skeleton over TPC-H data: the SAME fact table
    aggregated twice and self-joined on the identically named group key.
    Name-based attribution cannot resolve `a.l_orderkey = b.l_orderkey`;
    the parser attributes it by exprId on the raw Catalyst conjunct
    (r7, parser._equi_pair_by_exprid — the reference rule's own
    resolution, JoinIndexRule.scala:179-317) and the replay drops the
    value-equal right key copy.  Both derived sides then read the
    bucketed w_li_join index, so BOTH per-key aggregations and the join
    itself reuse the index's hash partitioning — the unindexed plan pays
    three exchanges of the full fact table, the indexed plan zero.

    The revenue sum runs in exact DECIMAL arithmetic (per-row terms cast
    to DECIMAL(14,2) before multiplying): r8's driver row missed by one
    cent on 1 of 2,911 rows because round(sum(double), 2) straddled a
    .xx5 boundary under different accumulation orders.  Decimal sums are
    order-insensitive, and both engines round decimal ties half-up for
    positive values, so the contract is now accumulation-order-proof."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("w_selfjoin_li")
    df = spark.sql(
        """
        SELECT a.l_orderkey, a.qty, b.rev
        FROM (SELECT l_orderkey, round(sum(l_quantity), 2) AS qty
              FROM w_selfjoin_li GROUP BY l_orderkey) a
        JOIN (SELECT l_orderkey,
                     CAST(round(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                                    * (1 - CAST(l_discount AS DECIMAL(14,2)))), 2)
                          AS DOUBLE) AS rev
              FROM w_selfjoin_li GROUP BY l_orderkey) b
          ON a.l_orderkey = b.l_orderkey
        WHERE a.qty > 150
        """
    )
    return ws.hs.apply(df)


@q(
    "window_latest_lineitem",
    """
    WITH r AS (
      SELECT l_orderkey, l_quantity, l_linenumber,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_quantity DESC, l_linenumber) AS rn
      FROM lineitem)
    SELECT l_orderkey, l_quantity, l_linenumber FROM r WHERE rn = 1
    """,
)
def window_latest_lineitem(spark, sf_dir):
    """Latest-record-per-key via row_number() OVER (PARTITION BY key) —
    THE canonical dedup/upsert-compaction pattern, which at 100 TB costs
    a full shuffle of the fact table.  WindowBucketedIndexRule (r7)
    serves the window's clustered distribution from the w_li_join
    index's bucketing, so the Exchange disappears and only the
    in-partition sort remains (plan-asserted in
    tests/test_agg_bucketed_rule.py).  ORDER BY ends on l_linenumber
    (unique within an order) so the row_number choice is total and the
    DuckDB oracle reproduces it exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    ws = workspace(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_quantity"), "l_linenumber"
    )
    df = (
        li.select("l_orderkey", "l_quantity", "l_linenumber")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    return ws.hs.apply(df)


@q(
    "dataskipping_minmax",
    """
    SELECT round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
    FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
    """,
)
def dataskipping_minmax(spark, sf_dir):
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    df = (
        _p(spark, ws.li_byship)
        .filter(F.col("l_shipdate") < "1996-01-01")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("cnt"))
    )
    return ws.hs.apply(df)


@q(
    "metadata_only_agg",
    """
    SELECT min(l_shipdate) AS min_sd, max(l_shipdate) AS max_sd,
           count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           count(l_extendedprice) AS cnt_price
    FROM lineitem
    """,
)
def metadata_only_agg(spark, sf_dir):
    """Global aggregates answered from the skipping-index sketches alone
    (planner/rules.py MetadataOnlyAggRule): the rewritten plan reads the
    per-file sketch rows, never the lineitem scan — the Delta/Iceberg
    'metadata-only query' generalized to any sketched column.  At 100 TB
    this turns a full-corpus pass into a few thousand sketch rows."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    df = _t(spark, sf_dir, "lineitem").agg(
        F.min("l_shipdate").alias("min_sd"),
        F.max("l_shipdate").alias("max_sd"),
        F.count("*").alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.count("l_extendedprice").alias("cnt_price"),
    )
    return ws.hs.apply(df)


@q(
    "metadata_group_agg",
    """
    SELECT year(o_orderdate) AS o_year, count(*) AS cnt,
           round(sum(o_totalprice), 2) AS tot
    FROM orders GROUP BY year(o_orderdate)
    """,
)
def metadata_group_agg(spark, sf_dir):
    """GROUP BY a partition column answered from the sketch index alone
    (MetadataOnlyAggRule grouped path): PartitionSketch keys the per-file
    rows by o_year, RowCount/Sum fold per group — the daily-counts
    dashboard query with zero source scan."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    df = (
        _p(spark, ws.orders_bypart)
        .groupBy("o_year")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("tot"),
        )
    )
    return ws.hs.apply(df)


@q(
    "metadata_filtered_agg",
    """
    SELECT count(*) AS cnt, round(sum(o_totalprice), 2) AS tot
    FROM orders WHERE year(o_orderdate) BETWEEN 1996 AND 1998
    """,
)
def metadata_filtered_agg(spark, sf_dir):
    """Partition-predicate dashboard query answered from the index
    (MetadataOnlyAggRule filtered path): WHERE on the partition column
    filters the PartitionSketch-valued rows — an exact file filter, so
    count/sum fold with zero source scan."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    df = (
        _p(spark, ws.orders_bypart)
        .filter("o_year BETWEEN 1996 AND 1998")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("tot"),
        )
    )
    return ws.hs.apply(df)


@q(
    "text_search_inverted",
    r"""
    WITH tk AS (
      SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS token
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id FROM tk WHERE token IN ('data', 'join', 'scan')
    GROUP BY doc_id HAVING count(DISTINCT token) = 3
    """,
)
def text_search_inverted(spark, sf_dir):
    """Keyword search from the persisted inverted text index
    (indexes/inverted.py, kind TXT): docs containing ALL of three terms,
    answered by a bucket-pruned read of the probed tokens' postings —
    the corpus text is never scanned.  The oracle replays the same
    tokenize -> distinct -> IN -> HAVING chain over raw documents."""
    ws = workspace(spark, sf_dir)
    return ws.hs.text_search("w_doc_txt", ["data", "join", "scan"], mode="all")


@q(
    "text_search_boolean",
    r"""
    WITH tk AS (
      SELECT doc_id, list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS toks
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id FROM tk
    WHERE (list_contains(toks, 'data') AND list_contains(toks, 'join'))
       OR (list_contains(toks, 'scan') AND NOT list_contains(toks, 'query'))
    """,
)
def text_search_boolean(spark, sf_dir):
    """Boolean retrieval from the TXT index (indexes/inverted.py
    text_search_boolean): '(data AND join) OR (scan AND NOT query)' —
    one bucket-pruned probe fetches all four terms' postings, membership
    evaluates per doc, the corpus text is never read.  The oracle
    replays the expression over raw tokenized documents."""
    ws = workspace(spark, sf_dir)
    return ws.hs.text_search_boolean(
        "w_doc_txt", "(data AND join) OR (scan AND NOT query)"
    )


@q(
    "text_search_ranked",
    r"""
    WITH tk AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents WHERE text IS NOT NULL
    ), tok AS (SELECT doc_id, token FROM tk WHERE token <> ''),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    corpus AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           WHERE token IN ('data', 'query', 'scan') GROUP BY doc_id, token),
    dfc AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token),
    sc AS (
      SELECT tf.doc_id, tf.token,
             (ln((n - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE) + 1.0::DOUBLE)
              * (tf * 2.2::DOUBLE))
             / (tf + 1.2::DOUBLE * (0.25::DOUBLE + (0.75::DOUBLE * dl) / avgdl)) AS s
      FROM tf JOIN dfc USING (token) JOIN dl USING (doc_id) CROSS JOIN corpus
    ), tot AS (
      SELECT doc_id,
             coalesce(sum(CASE WHEN token = 'data' THEN s END), 0.0::DOUBLE)
             + coalesce(sum(CASE WHEN token = 'query' THEN s END), 0.0::DOUBLE)
             + coalesce(sum(CASE WHEN token = 'scan' THEN s END), 0.0::DOUBLE) AS score
      FROM sc GROUP BY doc_id
    )
    SELECT doc_id, round(score, 4) AS score FROM tot
    ORDER BY round(score, 4) DESC, doc_id LIMIT 25
    """,
)
def text_search_ranked_query(spark, sf_dir):
    """BM25 top-25 from the TXT index (indexes/inverted.py
    text_search_ranked): tf and dl ride the postings, df is a k-row
    aggregate of the probed postings, N/avgdl come from per-file stats
    in the index entry — the scoring job touches ONLY the three probed
    tokens' bucket files, never the corpus.  The oracle replays the
    identical formula with every constant cast to DOUBLE (DuckDB parses
    bare decimal literals as DECIMAL — exact-decimal intermediate
    arithmetic would diverge from Spark's float) and sums the three term
    contributions in the same sorted-term association order the pivot
    uses."""
    ws = workspace(spark, sf_dir)
    return ws.hs.text_search_ranked("w_doc_txt", ["data", "query", "scan"], k=25)


@q(
    "text_search_phrase",
    r"""
    SELECT doc_id FROM documents
    WHERE text IS NOT NULL
      AND strpos(' ' || regexp_replace(trim(lower(text)), '\s+', ' ', 'g') || ' ',
                 ' table hash ') > 0
    """,
)
def text_search_phrase_query(spark, sf_dir):
    """Exact phrase match from the TXT index's positional postings
    (indexes/inverted.py text_search_phrase): candidates = docs holding
    ALL phrase tokens (bucket-pruned probe), adjacency verified in-row
    on the candidates' positions arrays only.  The oracle rebuilds the
    whitespace-normalized token string and finds the phrase with
    token-boundary padding — no LIKE wildcards, so phrase text needs no
    escaping."""
    ws = workspace(spark, sf_dir)
    return ws.hs.text_search_phrase("w_doc_txt", "table hash")


@q(
    "metadata_count_distinct",
    """
    SELECT count(DISTINCT year(l_shipdate)) AS n_years,
           min(l_shipdate) AS min_sd, max(l_shipdate) AS max_sd
    FROM lineitem
    """,
)
def metadata_count_distinct(spark, sf_dir):
    """count(DISTINCT low-card-col) answered from ValueListSketch's exact
    per-file value lists (MetadataOnlyAggRule): the global distinct count
    is the distinct of per-file unions — no scan, no distinct shuffle.
    Rides w_li_skip's existing ValueList(l_shipyear) + MinMax(l_shipdate)
    sketches."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    df = _p(spark, ws.li_byship).agg(
        F.countDistinct("l_shipyear").alias("n_years"),
        F.min("l_shipdate").alias("min_sd"),
        F.max("l_shipdate").alias("max_sd"),
    )
    return ws.hs.apply(df)


@q(
    "zorder_filter_2d",
    """
    SELECT l_orderkey, l_quantity, round(l_extendedprice, 2) AS price
    FROM lineitem
    WHERE l_quantity BETWEEN 5 AND 6 AND l_extendedprice < 8000
    """,
)
def zorder_filter_2d(spark, sf_dir):
    """2-D range probe on the quantile-z-clustered w_li_z index.  The
    predicate is a FIXED ~0.25%-selectivity rectangle (r9; the old
    qty 5-10 x price<20k one selected ~2.2% of rows): a row-returning
    probe's speedup is bounded by the driver collect of the matching
    rows, identical work on both paths — at sf1 the old probe shipped
    132k rows (0.28s both sides) and capped the ratio at 1.46x while
    the underlying scans ran 2.3x apart.  The narrow rectangle keeps
    the output collect under ~10% of either path at every measured sf,
    so the row is evidence about CLUSTERING, not about Arrow transfer;
    zorder_range_agg (same index, aggregated consumption) remains the
    fully scan-isolated companion row."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    df = (
        _t(spark, sf_dir, "lineitem")
        .filter("l_quantity BETWEEN 5 AND 6 AND l_extendedprice < 8000")
        .select(
            "l_orderkey",
            "l_quantity",
            F.round("l_extendedprice", 2).alias("price"),
        )
    )
    return ws.hs.apply(df)


@q(
    "dataskipping_valuelist",
    """
    SELECT count(*) AS cnt, round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem WHERE year(l_shipdate) IN (1996, 1999)
    """,
)
def dataskipping_valuelist(spark, sf_dir):
    """ValueList-sketch file pruning (O4 surface): an IN probe on
    l_shipyear, a low-cardinality column that rides li_byship's
    l_shipdate range layout (each file holds 1-2 distinct years).  The
    sketch stores the sorted distinct list per file; the probe compiles
    to arrays_overlap over the tiny per-file index
    (indexes/sketches.py ValueListSketch.convert).  The oracle derives
    the same column with year(l_shipdate) on the flat lineitem view."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    df = (
        _p(spark, ws.li_byship)
        .filter(F.col("l_shipyear").isin(1996, 1999))
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )
    return ws.hs.apply(df)


# 96 deterministic probe days — above both Catalyst's In->InSet rewrite
# threshold (10) and the sketch converters' OR-chain cap (64), so this
# list exercises the r7 InSet literal recovery (planner/expr.py,
# timestamp internal-micros path) AND the bounded exists()-over-array
# predicate form end-to-end.  Consecutive days cluster on li_byship's
# l_shipdate range layout, so the MinMax sketch genuinely prunes.
# String literals, not datetimes: l_shipdate is TIMESTAMP_NTZ, and
# datetime arguments would make Catalyst cast the ATTRIBUTE to
# session-zoned timestamp (a cast the sketch converters soundly refuse);
# strings cast on the literal side, leaving the attribute clean.
import datetime as _datetime

_INSET_SHIP_DAYS = [
    (_datetime.datetime(1997, 3, 1) + _datetime.timedelta(days=i)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    for i in range(96)
]


@q(
    "dataskipping_inset",
    f"""
    SELECT count(*) AS cnt, round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem WHERE l_shipdate IN (
      {", ".join("TIMESTAMP '" + d + "'" for d in _INSET_SHIP_DAYS)}
    )
    """,
)
def dataskipping_inset(spark, sf_dir):
    """Large-IN file pruning (r7, O4/P7 surface): 96 timestamp literals
    force Catalyst's InSet form, whose internal value set the planner
    now recovers into typed literals (planner/expr.py InSet branch,
    TIMESTAMP_MICROS rendering); the MinMax sketch emits ONE
    exists()-over-array probe instead of a 96-branch OR-chain — the
    reference's SortedArrayLowerBound territory
    (SortedArrayLowerBound.scala:30-102)."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    df = (
        _p(spark, ws.li_byship)
        .filter(F.col("l_shipdate").isin(_INSET_SHIP_DAYS))
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )
    return ws.hs.apply(df)


@q(
    "opaque_union_accel",
    """
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = 42
    UNION ALL
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
      AND o_orderkey % 10 = 3
    """,
)
def opaque_union_accel(spark, sf_dir):
    """Partial acceleration around an unparseable corner (r7 OpaqueN):
    the second UNION branch's IN-subquery decorrelates to a LeftSemi
    self-join on orders whose condition is name-ambiguous — the Python
    IR degrades just that subtree to a verbatim-replayed opaque leaf —
    while the first branch's point filter still rewrites onto the
    covering index.  Reference parity: a JVM Catalyst rule rewrites
    relations in place and never loses the rest of the query
    (ApplyHyperspace.scala:32-76)."""
    ws = workspace(spark, sf_dir)
    _t(spark, sf_dir, "orders").createOrReplaceTempView("w_orders_opq")
    df = spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM w_orders_opq WHERE o_custkey = 42
        UNION ALL
        SELECT o_orderkey, o_totalprice FROM w_orders_opq
        WHERE o_custkey IN (SELECT o_custkey FROM w_orders_opq WHERE o_totalprice > 400000)
          AND o_orderkey % 10 = 3
        """
    )
    return ws.hs.apply(df)


@q(
    "zorder_range_agg",
    """
    SELECT count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE l_quantity BETWEEN 5 AND 10 AND l_extendedprice < 20000
    """,
)
def zorder_range_agg(spark, sf_dir):
    """The same 2-D range predicate as zorder_filter_2d but AGGREGATED —
    the realistic consumption shape at scale.  zorder_filter_2d returns
    every matching row to the driver, so its measured speedup is bounded
    by result materialization (identical on both sides: at sf1 the
    180k-row collect costs ~0.3 s while the pruned scan itself costs
    ~0.1 s, compressing a ~4x scan win to ~1.5x end-to-end — SCALE.md
    r6).  This entry isolates the scan: 3 of 27 files survive the
    z-address min/max boxes and the one-row result makes collect noise."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    df = (
        _t(spark, sf_dir, "lineitem")
        .filter("l_quantity BETWEEN 5 AND 10 AND l_extendedprice < 20000")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )
    return ws.hs.apply(df)


@q(
    "delta_filter_index",
    """
    SELECT o_custkey, round(sum(o_totalprice), 2) AS sum_total, count(*) AS cnt
    FROM (
      SELECT * FROM orders
      UNION ALL SELECT * FROM orders WHERE o_orderkey % 89 = 0
    ) WHERE o_custkey BETWEEN 400 AND 500
    GROUP BY o_custkey
    """,
)
def delta_filter_index(spark, sf_dir):
    """Covering-index filter over a Delta table read through the open
    `_delta_log` protocol (no delta-spark).  The oracle reconstructs the
    table's v1 content (v0 full orders + the ~1% v1 append)."""
    from pyspark.sql import functions as F

    from hyperspace_spark.sources.delta import read_delta

    ws = workspace(spark, sf_dir)
    df = (
        read_delta(spark, ws.delta_orders)
        .filter("o_custkey BETWEEN 400 AND 500")
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
            F.count("*").alias("cnt"),
        )
    )
    return ws.hs.apply(df)


@q(
    "delta_time_travel_index",
    """
    SELECT o_custkey, round(sum(o_totalprice), 2) AS sum_total, count(*) AS cnt
    FROM orders
    WHERE o_custkey BETWEEN 400 AND 500
    GROUP BY o_custkey
    """,
)
def delta_time_travel_index(spark, sf_dir):
    """Time-travel query pinned to Delta v0, still index-accelerated: the
    w_delta_cov index was built at v1, and the planner bridges the diff —
    hybrid-delete compensation (lineage anti-filter over the v1-only
    files) inside the thresholds, or a RETAINED older index version
    beyond them (planner/candidates.py _closest_history_candidate,
    reference DeltaLakeRelation.scala:179-215).  v0 of the staged table
    is exactly the full orders table, which is the oracle."""
    from pyspark.sql import functions as F

    from hyperspace_spark.sources.delta import read_delta

    ws = workspace(spark, sf_dir)
    df = (
        read_delta(spark, ws.delta_orders, version=0)
        .filter("o_custkey BETWEEN 400 AND 500")
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
            F.count("*").alias("cnt"),
        )
    )
    return ws.hs.apply(df)


@q(
    "iceberg_filter_index",
    """
    SELECT o_custkey, round(sum(o_totalprice), 2) AS sum_total, count(*) AS cnt
    FROM (
      SELECT * FROM orders
      UNION ALL SELECT * FROM orders WHERE o_orderkey % 83 = 0
    ) WHERE o_custkey BETWEEN 700 AND 800
    GROUP BY o_custkey
    """,
)
def iceberg_filter_index(spark, sf_dir):
    """Covering-index filter over an Iceberg table read through the open
    table spec (no iceberg runtime).  The oracle reconstructs the current
    snapshot's content (s0 full orders + the ~1% s1 append)."""
    from pyspark.sql import functions as F

    from hyperspace_spark.sources.iceberg import read_iceberg

    ws = workspace(spark, sf_dir)
    df = (
        read_iceberg(spark, ws.iceberg_orders)
        .filter("o_custkey BETWEEN 700 AND 800")
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
            F.count("*").alias("cnt"),
        )
    )
    return ws.hs.apply(df)


@q(
    "hybrid_join_append",
    """
    SELECT o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS cnt
    FROM lineitem JOIN (
      SELECT * FROM orders
      UNION ALL SELECT * FROM orders WHERE o_orderkey % 97 = 0
    ) o ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def hybrid_join_append(spark, sf_dir):
    """Join acceleration with appended files present: the orders side has
    a staged delta newer than w_oapp_join, so the rule unions the index
    with a direct scan of the appended files (U5 equivalent) instead of
    abandoning the index."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    o = _p(spark, ws.orders_app)
    df = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("cnt"),
        )
    )
    return ws.hs.apply(df)


@q(
    "hybrid_scan_append",
    """
    SELECT o_orderpriority, count(*) AS cnt
    FROM (
      SELECT * FROM orders
      UNION ALL SELECT * FROM orders WHERE o_orderkey % 97 = 0
    ) WHERE o_custkey < 300
    GROUP BY o_orderpriority
    """,
)
def hybrid_scan_append(spark, sf_dir):
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    df = (
        _p(spark, ws.orders_app)
        .filter("o_custkey < 300")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"))
    )
    return ws.hs.apply(df)


# ===========================================================================
# 2. Spark SQL surface (SURVEY §2.B — delegated to Spark, exposed 1:1)
# ===========================================================================
@q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    _conf(spark)
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("w_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 2) AS avg_price,
               count(*) AS count_order
        FROM w_lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    )


@q(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    _conf(spark)
    for t in ("customer", "orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(
        """
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate
        FROM w_customer JOIN w_orders ON c_custkey = o_custkey
                        JOIN w_lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
        """
    )


@q(
    "q5_region_revenue",
    """
    SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
    FROM region JOIN nation ON r_regionkey = n_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders ON o_custkey = c_custkey
    WHERE r_name <> 'EUROPE'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_region_revenue(spark, sf_dir):
    _conf(spark)
    for t in ("region", "nation", "customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(
        """
        SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        FROM w_region JOIN w_nation ON r_regionkey = n_regionkey
                      JOIN w_customer ON c_nationkey = n_nationkey
                      JOIN w_orders ON o_custkey = c_custkey
        WHERE r_name <> 'EUROPE'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
        """
    )


@q(
    "q6_revenue_change",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS cnt
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_change(spark, sf_dir):
    """TPC-H Q6 (forecast revenue change) — single-scan filter+agg; the
    date window targets the generator's 1995-2001 shipdate span."""
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "lineitem")
        .filter(
            "l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01' "
            "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count("*").alias("cnt"),
        )
    )


@q(
    "q10_returned_revenue",
    """
    SELECT c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 (returned-item revenue) — 3-way join, agg, top-N with a
    deterministic tie-break."""
    for t in ("customer", "orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(
        """
        SELECT c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM w_customer JOIN w_orders ON c_custkey = o_custkey
                        JOIN w_lineitem ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
        """
    )


@q(
    "q12_priority_shipping",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q12_priority_shipping(spark, sf_dir):
    """TPC-H Q12 shape (shipping-mode priority counts; the generator has
    no shipmode column, so l_returnflag takes its grouping role)."""
    for t in ("orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(
        """
        SELECT l_returnflag,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS high_line_count,
               sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS low_line_count
        FROM w_orders JOIN w_lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


@q(
    "q14_promo_effect",
    """
    SELECT round(100.0 * round(sum(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2)
                 / round(sum(l_extendedprice * (1 - l_discount)), 2), 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q14_promo_effect(spark, sf_dir):
    """TPC-H Q14 (promotion effect).  Both sums are rounded BEFORE the
    ratio so Spark's and DuckDB's accumulation orders cannot flip the
    final digit."""
    for t in ("lineitem", "part"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(
        """
        SELECT round(100.0 * round(sum(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2)
                     / round(sum(l_extendedprice * (1 - l_discount)), 2), 4) AS promo_revenue
        FROM w_lineitem JOIN w_part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        """
    )


@q(
    "q7_nation_volume",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                  JOIN orders ON o_orderkey = l_orderkey
                  JOIN customer ON c_custkey = o_custkey
                  JOIN nation n1 ON s_nationkey = n1.n_nationkey
                  JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 (volume shipping) adapted to the reduced schema: 5-way
    join with the nation dimension joined twice (supplier and customer
    sides).  Both nation joins broadcast (25 rows)."""
    for t in ("lineitem", "supplier", "orders", "customer", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(
        """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM w_lineitem JOIN w_supplier ON s_suppkey = l_suppkey
                        JOIN w_orders ON o_orderkey = l_orderkey
                        JOIN w_customer ON c_custkey = o_custkey
                        JOIN w_nation n1 ON s_nationkey = n1.n_nationkey
                        JOIN w_nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY 1, 2, 3
        """
    )


@q(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 (order priority checking) adapted: the late-delivery
    predicate (commitdate < receiptdate) becomes shipped-60-days-late,
    keeping the correlated-EXISTS-with-date-arithmetic shape."""
    for t in ("orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM w_orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM w_lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY o_orderpriority
        """
    )


_Q8_SQL = """
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM {p}lineitem JOIN {p}orders ON l_orderkey = o_orderkey
           JOIN {p}customer ON c_custkey = o_custkey
           JOIN {p}nation n1 ON c_nationkey = n1.n_nationkey
           JOIN {p}region ON n1.n_regionkey = r_regionkey
           JOIN {p}supplier ON s_suppkey = l_suppkey
           JOIN {p}nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA'
    ) GROUP BY o_year
    """


@q("q8_market_share", _Q8_SQL.format(p=""))
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 (national market share): 7-way join through both the
    customer-geography and supplier-nation dimensions, conditional
    aggregation for the share ratio."""
    for t in ("lineitem", "orders", "customer", "nation", "region", "supplier"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(_Q8_SQL.format(p="w_"))


_Q9_SQL = """
    SELECT nation, o_year, round(sum(amount), 2) AS sum_profit FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) - l_quantity * 10.0 AS amount
      FROM {p}lineitem JOIN {p}supplier ON s_suppkey = l_suppkey
           JOIN {p}part ON p_partkey = l_partkey
           JOIN {p}orders ON o_orderkey = l_orderkey
           JOIN {p}nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) GROUP BY nation, o_year
    """


@q("q9_product_profit", _Q9_SQL.format(p=""))
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 (product type profit) adapted: no partsupp table, so
    supply cost becomes a per-unit constant — the join tree and
    nation/year profit rollup keep their shape."""
    for t in ("lineitem", "supplier", "part", "orders", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(_Q9_SQL.format(p="w_"))


_Q15_SQL = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM {p}lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM {p}supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """


@q("q15_top_supplier", _Q15_SQL.format(p=""))
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 (top supplier): CTE reused by both the join and the
    scalar max subquery."""
    for t in ("lineitem", "supplier"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(_Q15_SQL.format(p="w_"))


_Q16_SQL = """
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM {p}lineitem JOIN {p}part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM {p}supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_size
    """


@q("q16_supplier_cnt", _Q16_SQL.format(p=""))
def q16_supplier_cnt(spark, sf_dir):
    """TPC-H Q16 (parts/supplier relationship) adapted: supplier
    exclusion via NOT IN subquery, distinct-count aggregation."""
    for t in ("lineitem", "part", "supplier"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(_Q16_SQL.format(p="w_"))


_Q21_SQL = """
    SELECT s_name, count(*) AS numwait
    FROM {p}supplier JOIN {p}lineitem l1 ON s_suppkey = l1.l_suppkey
         JOIN {p}orders ON o_orderkey = l1.l_orderkey
         JOIN {p}nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R' AND n_name = 'NATION_5'
      AND EXISTS (
        SELECT 1 FROM {p}lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM {p}lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """


@q("q21_waiting_supplier", _Q21_SQL.format(p=""))
def q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting) adapted: the
    late-flag becomes l_returnflag='R'; keeps the EXISTS + NOT EXISTS
    double-correlation on the same fact table."""
    for t in ("supplier", "lineitem", "orders", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(_Q21_SQL.format(p="w_"))


# --- synthetic partsupp (the generator has no partsupp table) --------------
# Deterministic TPC-H-like partsupp derived from part × supplier: 4
# suppliers per part (offset-modulo spread, the TPC-H scheme), availqty
# and supplycost as pure key functions — identical formulas in Spark and
# the DuckDB oracle, so q2/q11/q20 shapes are fully verifiable.
_PARTSUPP_SQL = """
  SELECT p_partkey AS ps_partkey,
         (p_partkey + i * (ns // 4)) % ns AS ps_suppkey,
         (p_partkey * 7 + i * 13) % 9999 + 1 AS ps_availqty,
         round(((p_partkey * 31 + ((p_partkey + i * (ns // 4)) % ns) * 17 + 7) % 100000) / 100.0, 2) AS ps_supplycost
  FROM part, (SELECT count(*) AS ns FROM supplier), (SELECT unnest(range(4)) AS i)
"""


# WeakKeyDictionary keyed on the SESSION OBJECT (not id(spark)): a bare
# id can be recycled by the allocator after a session is stopped and
# GC'd, which would silently skip re-registering the view for the new
# session.
import weakref as _weakref  # noqa: E402

_PARTSUPP_REGISTERED: "_weakref.WeakKeyDictionary" = _weakref.WeakKeyDictionary()


def _partsupp_view(spark, sf_dir) -> None:
    """Registers w_partsupp: the Spark twin of _PARTSUPP_SQL (DataFrame
    API; supplier count resolved driver-side — a dim-table count).
    Memoized on the sf_dir LAST REGISTERED per session — temp-view names
    are session-global, so switching sf_dir must re-register (the same
    cross-workspace collision class fixed for bucketed tables in
    indexes/covering.py); repeat queries on the same sf_dir skip the
    supplier-count job."""
    from pyspark.sql import functions as F

    if _PARTSUPP_REGISTERED.get(spark) == sf_dir:
        return
    ns = _t(spark, sf_dir, "supplier").count()
    p = _t(spark, sf_dir, "part")
    ps = p.select(
        "p_partkey", F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i")
    )
    sk = (F.col("p_partkey") + F.col("i") * F.lit(ns // 4)) % F.lit(ns)
    ps.select(
        F.col("p_partkey").alias("ps_partkey"),
        sk.alias("ps_suppkey"),
        ((F.col("p_partkey") * 7 + F.col("i") * 13) % 9999 + 1).alias("ps_availqty"),
        F.round(((F.col("p_partkey") * 31 + sk * 17 + 7) % 100000) / 100.0, 2).alias(
            "ps_supplycost"
        ),
    ).createOrReplaceTempView("w_partsupp")
    _PARTSUPP_REGISTERED[spark] = sf_dir


@q(
    "q2_min_cost_supplier",
    f"""
    WITH ps AS ({_PARTSUPP_SQL}),
    costs AS (
      SELECT p_partkey, p_name, s_name, round(s_acctbal, 2) AS s_acctbal, n_name, ps_supplycost
      FROM ps JOIN part ON p_partkey = ps_partkey
           JOIN supplier ON s_suppkey = ps_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
      WHERE p_size = 15 AND r_name = 'EUROPE'
    )
    SELECT c.p_partkey, p_name, s_name, s_acctbal, n_name, ps_supplycost
    FROM costs c JOIN (SELECT p_partkey AS mk, min(ps_supplycost) AS mc
                       FROM costs GROUP BY p_partkey) m
      ON c.p_partkey = m.mk AND c.ps_supplycost = m.mc
    ORDER BY s_acctbal DESC, n_name, s_name, c.p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost supplier): correlated-min over the
    region-filtered part × supplier cost table, deterministic total
    order.  partsupp is the synthetic w_partsupp view."""
    _partsupp_view(spark, sf_dir)
    for t in ("part", "supplier", "nation", "region"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(
        """
        WITH costs AS (
          SELECT p_partkey, p_name, s_name, round(s_acctbal, 2) AS s_acctbal, n_name, ps_supplycost
          FROM w_partsupp JOIN w_part ON p_partkey = ps_partkey
               JOIN w_supplier ON s_suppkey = ps_suppkey
               JOIN w_nation ON s_nationkey = n_nationkey
               JOIN w_region ON n_regionkey = r_regionkey
          WHERE p_size = 15 AND r_name = 'EUROPE'
        )
        SELECT c.p_partkey, p_name, s_name, s_acctbal, n_name, ps_supplycost
        FROM costs c JOIN (SELECT p_partkey AS mk, min(ps_supplycost) AS mc
                           FROM costs GROUP BY p_partkey) m
          ON c.p_partkey = m.mk AND c.ps_supplycost = m.mc
        ORDER BY s_acctbal DESC, n_name, s_name, c.p_partkey
        LIMIT 100
        """
    )


@q(
    "q11_important_stock",
    f"""
    WITH ps AS ({_PARTSUPP_SQL}),
    nat_ps AS (
      SELECT ps_partkey, ps_supplycost * ps_availqty AS v
      FROM ps JOIN supplier ON ps_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
    )
    SELECT ps_partkey, round(sum(v), 2) AS value
    FROM nat_ps GROUP BY ps_partkey
    HAVING sum(v) > (SELECT sum(v) * 0.001 FROM nat_ps)
    ORDER BY value DESC, ps_partkey
    """,
)
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 (important stock): per-part inventory value within one
    nation, kept when above a scalar-subquery fraction of the total."""
    _partsupp_view(spark, sf_dir)
    for t in ("supplier", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(
        """
        WITH nat_ps AS (
          SELECT ps_partkey, ps_supplycost * ps_availqty AS v
          FROM w_partsupp JOIN w_supplier ON ps_suppkey = s_suppkey
                  JOIN w_nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_3'
        )
        SELECT ps_partkey, round(sum(v), 2) AS value
        FROM nat_ps GROUP BY ps_partkey
        HAVING sum(v) > (SELECT sum(v) * 0.001 FROM nat_ps)
        ORDER BY value DESC, ps_partkey
        """
    )


@q(
    "q20_excess_stock",
    f"""
    WITH ps AS ({_PARTSUPP_SQL})
    SELECT s_name, round(s_acctbal, 2) AS s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
        SELECT ps_suppkey FROM ps
        WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          AND ps_availqty > (SELECT 0.5 * sum(l_quantity) FROM lineitem
                             WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                               AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                               AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
      )
    ORDER BY s_name
    """,
)
def q20_excess_stock(spark, sf_dir):
    """TPC-H Q20 shape (excess stock / potential promotion): nested IN
    subqueries with a doubly-correlated scalar aggregate over lineitem.
    The reference's nation filter is dropped — with the synthetic
    partsupp it leaves ≤1 row (vacuous); the unfiltered shape keeps every
    operator and returns ~28 rows at sf0.01."""
    _partsupp_view(spark, sf_dir)
    for t in ("supplier", "nation", "part", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(
        """
        SELECT s_name, round(s_acctbal, 2) AS s_acctbal
        FROM w_supplier JOIN w_nation ON s_nationkey = n_nationkey
        WHERE s_suppkey IN (
            SELECT ps_suppkey FROM w_partsupp
            WHERE ps_partkey IN (SELECT p_partkey FROM w_part WHERE p_name LIKE 'red%')
              AND ps_availqty > (SELECT 0.5 * sum(l_quantity) FROM w_lineitem
                                 WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                                   AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                                   AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
          )
        ORDER BY s_name
        """
    )


@q(
    "q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
           ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 (customer distribution): LEFT OUTER join with an extra
    join-side predicate, count(nullable) semantics, then a histogram of
    the counts."""
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(
        """
        SELECT c_count, count(*) AS custdist FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM w_customer LEFT JOIN w_orders
               ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey
        ) GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
        """
    )


@q(
    "q17_small_quantity_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (
        SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue): correlated scalar
    subquery (per-part average) — Catalyst decorrelates it into an
    aggregate + join."""
    for t in ("lineitem", "part"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(
        """
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM w_lineitem JOIN w_part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23'
          AND l_quantity < (
            SELECT 0.5 * avg(l2.l_quantity) FROM w_lineitem l2
            WHERE l2.l_partkey = p_partkey
          )
        """
    )


@q(
    "q18_large_volume_customer",
    """
    SELECT c_name, o_orderkey, round(o_totalprice, 2) AS total_price,
           sum(l_quantity) AS sum_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                JOIN customer ON c_custkey = o_custkey
    GROUP BY c_name, o_orderkey, o_totalprice
    HAVING sum(l_quantity) > 150
    ORDER BY sum_qty DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_volume_customer(spark, sf_dir):
    """TPC-H Q18 (large-volume customer): aggregate-HAVING over a 3-way
    join with top-k."""
    for t in ("orders", "lineitem", "customer"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(
        """
        SELECT c_name, o_orderkey, round(o_totalprice, 2) AS total_price,
               sum(l_quantity) AS sum_qty
        FROM w_orders JOIN w_lineitem ON o_orderkey = l_orderkey
                      JOIN w_customer ON c_custkey = o_custkey
        GROUP BY c_name, o_orderkey, o_totalprice
        HAVING sum(l_quantity) > 150
        ORDER BY sum_qty DESC, o_orderkey
        LIMIT 20
        """
    )


@q(
    "q19_discounted_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 (discounted revenue) adapted: disjunction of
    conjunctive range predicates spanning both join sides."""
    for t in ("lineitem", "part"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(
        """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_lines
        FROM w_lineitem JOIN w_part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
        """
    )


@q(
    "q22_dormant_customers",
    """
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
    FROM customer c, avg_bal
    WHERE c_acctbal > a
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c_nationkey
    """,
)
def q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity) adapted: above-average
    balance (uncorrelated scalar subquery) and NOT EXISTS anti-join
    against recent orders, grouped by nation instead of phone prefix."""
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(
        """
        SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
        FROM w_customer c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM w_customer WHERE c_acctbal > 0)
          AND NOT EXISTS (
            SELECT 1 FROM w_orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
          )
        GROUP BY c_nationkey
        """
    )


@q(
    "window_top_orders",
    """
    SELECT o_custkey, o_orderkey, rn FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders WHERE o_custkey < 200
    ) WHERE rn <= 2
    """,
)
def window_top_orders(spark, sf_dir):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        .filter("o_custkey < 200")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn <= 2")
        .select("o_custkey", "o_orderkey", "rn")
    )


@q(
    "window_lag_lead",
    """
    SELECT user_id, event_id,
           round(value - coalesce(lag(value) OVER w, value), 6) AS delta_prev,
           round(coalesce(lead(value) OVER w, value) - value, 6) AS delta_next,
           ntile(4) OVER (PARTITION BY user_id ORDER BY value, event_id)
             AS value_quartile
    FROM events WHERE user_id < 40
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_lag_lead(spark, sf_dir):
    """Offset/ntile window surface (lag/lead/ntile — the window family
    window_top_orders' row_number doesn't touch): per-user event-value
    deltas in time order and value quartiles.  ORDER BY includes
    event_id so ties are deterministic in both engines."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    _conf(spark)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wq = W.partitionBy("user_id").orderBy("value", "event_id")
    v = F.col("value")
    return (
        _t(spark, sf_dir, "events")
        .filter("user_id < 40")
        .select(
            "user_id",
            "event_id",
            F.round(v - F.coalesce(F.lag(v).over(w), v), 6).alias("delta_prev"),
            F.round(F.coalesce(F.lead(v).over(w), v) - v, 6).alias("delta_next"),
            F.ntile(4).over(wq).alias("value_quartile"),
        )
    )


@q(
    "cube_returnflag_status",
    """
    SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_returnflag_status(spark, sf_dir):
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@q(
    "setop_intersect",
    """
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_totalprice > 200000
    """,
)
def setop_intersect(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter("o_orderpriority = '1-URGENT'").select("o_custkey")
    b = o.filter("o_totalprice > 200000").select("o_custkey")
    return a.intersect(b)


@q(
    "setop_except_all",
    """
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_totalprice > 150000
    """,
)
def setop_except_all(spark, sf_dir):
    """EXCEPT ALL — multiplicity-preserving set difference (each urgent
    order's custkey survives once per unmatched occurrence), the §2.B
    set-op family member INTERSECT/UNION queries don't cover."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter("o_orderpriority = '1-URGENT'").select("o_custkey")
    b = o.filter("o_totalprice > 150000").select("o_custkey")
    return a.exceptAll(b)


@q(
    "grouping_sets_agg",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS cnt
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_agg(spark, sf_dir):
    """Explicit GROUPING SETS (the general form cube/rollup specialize):
    per-returnflag totals, per-linestatus totals, and the grand total in
    one pass — Spark expands to a single Expand+Aggregate, no re-scan."""
    _conf(spark)
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("w_lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice), 2) AS sum_price,
               count(*) AS cnt
        FROM w_lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@q(
    "unpivot_measures",
    """
    WITH a AS (
      SELECT l_returnflag,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS amount FROM a
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS measure, sum_price AS amount FROM a
    """,
)
def unpivot_measures(spark, sf_dir):
    """Wide-to-long unpivot (melt) — the inverse of pivot_linestatus;
    Spark plans it as a single Expand, the oracle replicates via UNION
    ALL (engine-portable, no UNPIVOT dialect dependence)."""
    from pyspark.sql import functions as F

    agg = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )
    return agg.unpivot(["l_returnflag"], ["sum_qty", "sum_price"], "measure", "amount")


@q(
    "salted_skew_agg",
    """
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS sv,
           round(min(value), 6) AS mn, round(max(value), 6) AS mx
    FROM events GROUP BY event_type
    """,
)
def salted_skew_agg(spark, sf_dir):
    """Skew-resistant two-phase aggregation (scale.salted_agg) in the
    driver contract: a 5-value grouping key is the worst case for
    reducer skew (5 reducers own the whole table); the salted first
    phase spreads every key over 16 partitions and the second phase
    combines partials.  Result provably identical to plain groupBy —
    here checked against the plain-SQL oracle."""
    from pyspark.sql import functions as F

    from hyperspace_spark.scale import salted_agg

    _conf(spark)
    out = salted_agg(
        _t(spark, sf_dir, "events"),
        ["event_type"],
        {
            "n": ("count", "*"),
            "sv": ("sum", "value"),
            "mn": ("min", "value"),
            "mx": ("max", "value"),
        },
    )
    return out.select(
        "event_type",
        "n",
        F.round("sv", 2).alias("sv"),
        F.round("mn", 6).alias("mn"),
        F.round("mx", 6).alias("mx"),
    )


@q(
    "salted_join_orders",
    """
    SELECT o_orderpriority, count(*) AS n, round(sum(l_quantity), 2) AS sq
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def salted_join_orders(spark, sf_dir):
    """Skew-resistant salted join (scale.salted_join) in the driver
    contract: the big side (lineitem) is salted over 8 buckets and the
    small side (orders key+priority slice) replicated per salt, so no
    single hot join key can own a reducer.  Result provably identical to
    the plain equi-join — here checked against the plain-SQL oracle.
    AQE may still broadcast the small side at test scale; the salting is
    semantics-neutral either way, which is exactly what the oracle pins."""
    from pyspark.sql import functions as F

    from hyperspace_spark.scale import salted_join

    _conf(spark)
    j = salted_join(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        "l_orderkey",
        "o_orderkey",
        salt_buckets=8,
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sq"),
    )


@q(
    "anti_join_customers",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def anti_join_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter("o_orderpriority = '1-URGENT'")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@q(
    "scalar_functions",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           substr(p_name, 1, 8) AS name8,
           length(p_type) AS type_len,
           round(p_retailprice * 1.1, 2) AS price_infl,
           CASE WHEN p_size < 10 THEN 'S' WHEN p_size < 30 THEN 'M' ELSE 'L' END AS size_band,
           concat(p_brand, '#', CAST(p_size AS VARCHAR)) AS brand_size,
           abs(p_size - 25) AS size_dev
    FROM part WHERE p_partkey <= 200
    """,
)
def scalar_functions(spark, sf_dir):
    return (
        _t(spark, sf_dir, "part")
        .filter("p_partkey <= 200")
        .selectExpr(
            "p_partkey",
            "upper(p_brand) AS brand_u",
            "substr(p_name, 1, 8) AS name8",
            "length(p_type) AS type_len",
            "round(p_retailprice * 1.1, 2) AS price_infl",
            "CASE WHEN p_size < 10 THEN 'S' WHEN p_size < 30 THEN 'M' ELSE 'L' END AS size_band",
            "concat(p_brand, '#', CAST(p_size AS STRING)) AS brand_size",
            "abs(p_size - 25) AS size_dev",
        )
    )


@q(
    "events_hourly_rollup",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    WHERE event_type IN ('click', 'view', 'purchase')
    GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark, sf_dir):
    _conf(spark)
    _t(spark, sf_dir, "events").createOrReplaceTempView("w_events")
    return spark.sql(
        """
        SELECT date_format(date_trunc('hour', ts),
                           'yyyy-MM-dd HH:00') AS hour,
               event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM w_events
        WHERE event_type IN ('click', 'view', 'purchase')
        GROUP BY 1, 2
        """
    )


@q(
    "funnel_view_click_purchase",
    """
    WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY 1),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
    s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
    SELECT 1 AS step, 'view' AS event_type, (SELECT count(*) FROM s1) AS users
    UNION ALL
    SELECT 2, 'click', (SELECT count(*) FROM s2)
    UNION ALL
    SELECT 3, 'purchase', (SELECT count(*) FROM s3)
    """,
)
def funnel_view_click_purchase(spark, sf_dir):
    """Ordered funnel (relational.py funnel_steps): users reaching each
    step strictly after their earliest completion of the previous one.
    Per-step filtered scan -> per-user min -> user-keyed join; no
    per-user event arrays, so a hyperactive user cannot skew a task."""
    from hyperspace_spark.relational import funnel_steps

    return funnel_steps(
        _t(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


@q(
    "retention_weekly_cohorts",
    """
    WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
               FROM events GROUP BY 1),
    act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
    SELECT strftime(f.cw, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cw, act.w) / 7 AS INT) AS week_offset,
           count(*) AS users
    FROM act JOIN f ON act.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def retention_weekly_cohorts(spark, sf_dir):
    """Weekly retention triangle (relational.py retention_cohorts):
    cohort = ISO week of first event; users active per (cohort, offset).
    Two user-scale aggregates + one user-keyed join."""
    from hyperspace_spark.relational import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


# ===========================================================================
# 3. LLM-pipeline operators
# ===========================================================================
_DUCK_TOKENS = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_DUCK_RAW_TOKENS = "regexp_split_to_array(trim(text), '\\s+')"


def _duck_sw_hits(words: list[str]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({_DUCK_TOKENS}, x -> x IN ({inlist})))"


def _duck_text_exprs() -> dict:
    """nchars/ntok/punct/swr SQL shared by the text_stats, lang_quality
    and clean_corpus oracles — ONE source, so a weights/regex change
    can't silently diverge one contract oracle from another."""
    from hyperspace_spark.llm.text import STOPWORDS

    en_hits = _duck_sw_hits(STOPWORDS["en"])
    nchars = "length(trim(text))"
    return {
        "nchars": nchars,
        "ntok": f"CASE WHEN trim(text)='' THEN 0 ELSE len({_DUCK_RAW_TOKENS}) END",
        "punct": (
            f"CASE WHEN {nchars} = 0 THEN 0.0 ELSE "
            f"({nchars} - length(regexp_replace(trim(text), '[.,;:!?''\"()\\[\\]{{}}-]', '', 'g'))) "
            f"* 1.0 / {nchars} END"
        ),
        "swr": f"CASE WHEN len({_DUCK_TOKENS}) <= 0 THEN 0.0 ELSE {en_hits} * 1.0 / len({_DUCK_TOKENS}) END",
    }


# quality_score over a base CTE exposing n_chars/n_tokens/pr/swr aliases
# (mirrors llm/text.py quality_score weights; shared by lang_quality and
# clean_corpus oracles).
_DUCK_QUALITY = (
    "round((CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 0.4 WHEN n_chars > 0 THEN 0.1 ELSE 0.0 END)"
    " + (CASE WHEN swr >= 0.05 THEN 0.3 ELSE 0.0 END)"
    " + (CASE WHEN pr <= 0.2 THEN 0.2 ELSE 0.0 END)"
    " + (CASE WHEN (CASE WHEN n_tokens > 0 THEN n_chars * 1.0 / n_tokens ELSE 0.0 END)"
    " BETWEEN 3 AND 12 THEN 0.1 ELSE 0.0 END), 4)"
)


def _duck_repetition_ctes() -> str:
    """The lines/ls + tk/grams/gc/gs CTE chain (kernel-parity line and
    2-gram tokenization) shared by the repetition_stats and
    clean_corpus_census oracles."""
    return """lines AS (
      SELECT d.doc_id, trim(l.ln) AS line
      FROM documents d, unnest(str_split(d.text, chr(10))) AS l(ln)
      WHERE trim(l.ln) <> ''
    ), ls AS (
      SELECT doc_id, count(*) AS n_lines,
             round(1.0 - count(DISTINCT line) / count(*), 6) AS dup_line_frac
      FROM lines GROUP BY doc_id
    ), tk AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ), grams AS (
      SELECT doc_id, w[i] || ' ' || w[i + 1] AS g
      FROM tk, unnest(generate_series(1, len(w) - 1)) AS s(i)
      WHERE len(w) >= 2
    ), gc AS (
      SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
    ), gs AS (
      SELECT doc_id,
             round(max(c) / sum(c), 6) AS top_2gram_frac,
             round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c), 6)
               AS dup_2gram_frac
      FROM gc GROUP BY doc_id
    )"""


@q(
    "iceberg_time_travel_index",
    """
    SELECT o_custkey, round(sum(o_totalprice), 2) AS sum_total, count(*) AS cnt
    FROM orders
    WHERE o_custkey BETWEEN 400 AND 500
    GROUP BY o_custkey
    """,
)
def iceberg_time_travel_index(spark, sf_dir):
    """Snapshot-pinned Iceberg query, index-accelerated — the Iceberg
    twin of delta_time_travel_index (shared closest-version machinery,
    distinct snapshot/signature plumbing through the open table spec).
    s0 of the staged table is exactly the full orders table = oracle."""
    from pyspark.sql import functions as F

    from hyperspace_spark.sources.iceberg import IcebergTable, read_iceberg

    ws = workspace(spark, sf_dir)
    s0 = IcebergTable(ws.iceberg_orders).snapshot_ids()[0]
    df = (
        read_iceberg(spark, ws.iceberg_orders, snapshot_id=s0)
        .filter("o_custkey BETWEEN 400 AND 500")
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
            F.count("*").alias("cnt"),
        )
    )
    return ws.hs.apply(df)


@q(
    "dataskipping_bloom",
    """
    SELECT l_orderkey, count(*) AS cnt, round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem WHERE l_orderkey IN (257, 1022, 4242, 9999)
    GROUP BY l_orderkey
    """,
)
def dataskipping_bloom(spark, sf_dir):
    """Bloom-sketch file pruning (P8): an IN probe on l_orderkey against
    li_byship, whose layout key is l_shipdate — per-file min/max on the
    ORDER key has no pruning power (keys scatter uniformly across the
    date-ranged files), so any file elimination is the Bloom sketch's
    (indexes/sketches.py BloomFilterSketch.probe_values -> dataskipping
    prune_file_ids driver probe).  Reference analog:
    BloomFilterSketchTest.scala / DataSkippingIndexIntegrationTest.scala.
    A pruned-file-count assertion lives in tests/test_workload_extras.py."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    df = (
        _p(spark, ws.li_byship)
        .filter(F.col("l_orderkey").isin(257, 1022, 4242, 9999))
        .groupBy("l_orderkey")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )
    return ws.hs.apply(df)


@q(
    "nested_filter_index",
    """
    SELECT o_orderkey, o_totalprice AS totalprice
    FROM orders WHERE o_custkey BETWEEN 300 AND 350
    """,
)
def nested_filter_index(spark, sf_dir):
    """Covering-index filter keyed on a NESTED struct field (P1/C1): the
    staged orders_nested copy packs (custkey, totalprice) into a struct,
    w_nested_cov indexes info.custkey with flattened __hs_nested columns,
    and the rewrite rebuilds the partial struct at query time (reference
    ResolverUtils.scala:44-98).  The oracle re-derives the same result
    from the flat orders table the nested copy was built from — the same
    reconstruction pattern the delta/iceberg oracles use."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    df = (
        _p(spark, ws.orders_nested)
        .filter("info.custkey BETWEEN 300 AND 350")
        .select("o_orderkey", F.col("info.totalprice").alias("totalprice"))
    )
    return ws.hs.apply(df)


@q(
    "asof_join_events",
    """
    WITH marks AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT c.user_id, count(*) AS n_clicks,
           round(sum(m.value), 2) AS sum_prior_purchase
    FROM clicks c ASOF JOIN marks m
      ON c.user_id = m.user_id AND c.ts >= m.ts
    GROUP BY c.user_id
    """,
)
def asof_join_events(spark, sf_dir):
    """Temporal as-of join (relational.asof_join): every click matched to
    the user's most recent at-or-before purchase.  Spark has no ASOF
    JOIN; the union-and-window realization pays ONE shuffle on user_id
    and zero pair explosion.  Oracle: DuckDB's native ASOF JOIN —
    independent semantics, same answer."""
    from pyspark.sql import functions as F

    from hyperspace_spark.relational import asof_join

    _conf(spark)
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter("event_type = 'click'").select("user_id", "ts")
    marks = ev.filter("event_type = 'purchase'").select("user_id", "ts", "value")
    j = asof_join(clicks, marks, on="ts", by=["user_id"], value_cols=["value"], how="inner")
    return j.groupBy("user_id").agg(
        F.count("*").alias("n_clicks"),
        F.round(F.sum("value_right"), 2).alias("sum_prior_purchase"),
    )


@q(
    "range_join_buckets",
    """
    SELECT band, count(*) AS cnt, round(sum(value), 2) AS sum_value
    FROM events e
    JOIN (VALUES ('low', 0.0, 5.0), ('mid', 5.0, 20.0),
                 ('high', 20.0, 100.0), ('xl', 100.0, 500.0)) b(band, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY band
    """,
)
def range_join_buckets(spark, sf_dir):
    """Point-in-interval join (relational.range_join): events bucketed
    into value bands WITHOUT the nested-loop join Spark would plan for
    the raw non-equi condition — intervals explode to fixed-width
    buckets, points equi-join their single bucket, exact range re-checked
    post-join.  The tiny band table broadcasts (AQE); a large interval
    table would hash-shuffle on the bucket id instead — same code path."""
    from pyspark.sql import functions as F

    from hyperspace_spark.relational import range_join

    _conf(spark)
    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    bands = spark.createDataFrame(
        [("low", 0.0, 5.0), ("mid", 5.0, 20.0), ("high", 20.0, 100.0), ("xl", 100.0, 500.0)],
        "band string, lo double, hi double",
    )
    j = range_join(ev, bands, "value", "lo", "hi", bucket_width=5.0, closed="left")
    return j.groupBy("band").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@q(
    "distinct_count_sketch",
    """
    SELECT l_returnflag,
           CAST(round(count(DISTINCT l_orderkey) * 64.0) AS BIGINT) AS approx_distinct
    FROM lineitem
    WHERE substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 2) < '04'
    GROUP BY l_returnflag
    """,
)
def distinct_count_sketch_query(spark, sf_dir):
    """Deterministic distinct-count estimation
    (relational.distinct_count_sketch, distinct sampling à la Gibbons
    VLDB'01): a value survives iff its md5 prefix is below a threshold
    (p = 4/256 = 1/64 of DISTINCT values, multiplicity-independent);
    count_distinct(survivors)/p estimates the cardinality.  Unlike HLL
    the estimate is a pure function of the value set — DuckDB reproduces
    it bit-for-bit, which is exactly why it is the contract entry.  The
    filter runs BEFORE the distinct shuffle: the exchange carries ~1/64
    of the keys."""
    from hyperspace_spark.relational import distinct_count_sketch

    _conf(spark)
    li = _t(spark, sf_dir, "lineitem")
    return distinct_count_sketch(
        li, "l_orderkey", group_cols=["l_returnflag"], prefix_len=2, keep_below="04"
    )


@q(
    "dedup_paragraph",
    """
    WITH p AS (
      SELECT doc_id, parts[i] AS para, i AS pos
      FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents) d,
           LATERAL (SELECT unnest(generate_series(1, len(d.parts))) AS i) g
    ), kept AS (
      SELECT doc_id, para, pos,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
      FROM p WHERE para <> ''
    )
    SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE coalesce(string_agg(k.para, ' ' ORDER BY k.pos), '')
           END AS text
    FROM documents d LEFT JOIN (SELECT * FROM kept WHERE rn = 1) k USING (doc_id)
    GROUP BY d.doc_id, d.text
    """,
)
def dedup_paragraph_query(spark, sf_dir):
    """Paragraph-level exact dedup (llm/dedup.py paragraph_dedup): keep
    the globally first occurrence of every distinct paragraph, reassemble
    docs from survivors.  The synthetic documents have no real paragraph
    breaks, so the contract run uses the DEGENERATE single-space
    separator (every word a 'paragraph') — maximal explode fan-out and
    window pressure, verified value-for-value; real pipelines pass
    sep='\\n\\n' (pytest covers that shape)."""
    from hyperspace_spark.llm.dedup import paragraph_dedup

    _conf(spark)
    return paragraph_dedup(_t(spark, sf_dir, "documents"), sep=" ")


@q(
    "sequence_packing",
    """
    WITH c AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard,
             CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
      FROM documents
    ), o AS (
      SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS off
      FROM c
    )
    SELECT doc_id, shard, n_tokens,
           CAST(off // 512 AS BIGINT) AS pack_id,
           CAST(off % 512 AS BIGINT) AS pack_offset
    FROM o
    """,
)
def sequence_packing_query(spark, sf_dir):
    """Concat-and-chunk sequence packing (llm/packing.py): deterministic
    md5 shard, within-shard doc-id order, token stream cut every 512
    tokens.  The oracle replays the identical layout with SQL window
    functions — placement is fully engine-portable (no RNG, no
    partitioning dependence), which is the property that makes packed
    pretraining data reproducible."""
    from hyperspace_spark.llm.packing import pack_sequences

    _conf(spark)
    return pack_sequences(
        _t(spark, sf_dir, "documents"), budget_tokens=512, shards=8
    )


def _repetition_oracle() -> str:
    return f"""
    WITH {_duck_repetition_ctes()}
    SELECT d.doc_id,
      CASE WHEN d.text IS NULL THEN NULL
           ELSE CAST(coalesce(ls.n_lines, 0) AS BIGINT) END AS n_lines,
      CASE WHEN d.text IS NULL THEN NULL
           ELSE coalesce(ls.dup_line_frac, 0.0) END AS dup_line_frac,
      CASE WHEN d.text IS NULL THEN NULL
           ELSE coalesce(gs.top_2gram_frac, 0.0) END AS top_2gram_frac,
      CASE WHEN d.text IS NULL THEN NULL
           ELSE coalesce(gs.dup_2gram_frac, 0.0) END AS dup_2gram_frac
    FROM documents d
    LEFT JOIN ls USING (doc_id)
    LEFT JOIN gs USING (doc_id)
    """


@q("repetition_stats", _repetition_oracle())
def repetition_stats_query(spark, sf_dir):
    """Gopher-style intra-document repetition metrics
    (llm/repetition.py): duplicate-line fraction and 2-gram repetition,
    one zero-shuffle Arrow kernel pass; the oracle replays line/2-gram
    tokenization with SQL unnest + group-bys."""
    from hyperspace_spark.llm.repetition import repetition_stats

    _conf(spark)
    return repetition_stats(_t(spark, sf_dir, "documents"))


def _text_stats_oracle() -> str:
    e = _duck_text_exprs()
    return f"""
    SELECT doc_id,
           {e["nchars"]} AS n_chars_text,
           {e["ntok"]} AS n_tokens,
           round({e["punct"]}, 4) AS punct_ratio,
           round({e["swr"]}, 4) AS stopword_ratio,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """


@q("text_stats", _text_stats_oracle())
def text_stats_query(spark, sf_dir):
    """Two-step select: materialize trim(text) and the token array ONCE
    in an inner projection, derive every stat from those.  The one-level
    spelling embedded trim/lower/split up to 4x in a single expression
    tree and Catalyst's subexpression elimination only recovered part of
    it — measured 0.451 -> 0.374 s at sf0.1 on identical outputs (the r5
    +22% drift flag; see SCALE.md)."""
    from pyspark.sql import functions as F

    from hyperspace_spark.llm import text

    t = F.col("text")
    base = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.trim(t).alias("_t"),
        text.tokens(t).alias("_toks"),
        t.alias("text"),
    )
    sw = F.array(*[F.lit(w) for w in text.STOPWORDS["en"]])
    n = F.length(F.col("_t"))
    toks = F.col("_toks")
    n_punct = n - F.length(F.regexp_replace(F.col("_t"), r"[.,;:!?'\"()\[\]{}-]", ""))
    hits = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    return base.select(
        "doc_id",
        n.alias("n_chars_text"),
        F.when(n == 0, F.lit(0))
        .otherwise(F.size(F.split(F.col("_t"), r"\s+")))
        .alias("n_tokens"),
        F.round(F.when(n == 0, F.lit(0.0)).otherwise(n_punct / n), 4).alias("punct_ratio"),
        F.round(
            F.when(F.size(toks) <= 0, F.lit(0.0)).otherwise(hits / F.size(toks)), 4
        ).alias("stopword_ratio"),
        text.fingerprint(F.col("text")).alias("fingerprint"),
    )


def _lang_quality_oracle() -> str:
    """Everything in lang_quality is deterministic SQL: stopword-hit argmax
    with fixed tie-break (en > es > fr > de, min score 1), the banded
    quality heuristic, and min-md5-over-5-shingles fingerprinting."""
    from hyperspace_spark.llm.text import STOPWORDS

    e = _duck_text_exprs()
    hits = {lang: _duck_sw_hits(sw) for lang, sw in STOPWORDS.items()}
    lang = (
        "CASE "
        f"WHEN en_h >= es_h AND en_h >= fr_h AND en_h >= de_h AND en_h >= 1 THEN 'en' "
        f"WHEN es_h >= fr_h AND es_h >= de_h AND es_h >= 1 THEN 'es' "
        f"WHEN fr_h >= de_h AND fr_h >= 1 THEN 'fr' "
        f"WHEN de_h >= 1 THEN 'de' ELSE 'und' END"
    )
    shingle_fp = (
        f"CASE WHEN len({_DUCK_TOKENS}) < 5 THEN md5(array_to_string({_DUCK_TOKENS}, ' ')) "
        f"ELSE list_aggregate(list_transform(range(1, greatest(len({_DUCK_TOKENS})-3, 2)), "
        f"i -> md5(array_to_string(({_DUCK_TOKENS})[i:i+4], ' '))), 'min') END"
    )
    return f"""
    WITH base AS (
      SELECT doc_id, text,
             {e["nchars"]} AS n_chars, {e["ntok"]} AS n_tokens,
             {e["punct"]} AS pr, {e["swr"]} AS swr,
             {hits['en']} AS en_h, {hits['es']} AS es_h,
             {hits['fr']} AS fr_h, {hits['de']} AS de_h
      FROM documents
    )
    SELECT doc_id, {lang} AS lang_pred, {_DUCK_QUALITY} AS quality_score,
           {shingle_fp} AS shingle_fp
    FROM base
    """


@q(
    "udtf_chunk_text",
    r"""
    WITH d AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS words
      FROM documents WHERE doc_id < 200 AND text IS NOT NULL
    ), s AS (
      SELECT doc_id, words,
             unnest(range(0, CAST(greatest(len(words), 1) AS BIGINT), 48)) AS start,
             generate_subscripts(range(0, CAST(greatest(len(words), 1) AS BIGINT), 48), 1) AS ord
      FROM d
    )
    SELECT doc_id,
           CAST(ord - 1 AS INT) AS chunk_idx,
           CAST(len(words[start+1:start+64]) AS INT) AS n_words,
           array_to_string(words[start+1:start+64], ' ') AS chunk
    FROM s
    WHERE len(words[start+1:start+64]) > 0
      AND (start = 0 OR start + len(words[start+1:start+64]) > start + 16)
    """,
)
def udtf_chunk_text(spark, sf_dir):
    """Python UDTF surface (§2.B): context-window chunking (64-word
    windows, 16-word overlap) as a registered table function invoked
    through SQL with a TABLE() argument, verified row-exact against a
    pure-SQL replica.  doc_id < 200 bounds the slow-path Python cost."""
    from hyperspace_spark.llm.text import chunk_text_udtf

    _conf(spark)
    spark.udtf.register("w_chunk_text", chunk_text_udtf(64, 16))
    _t(spark, sf_dir, "documents").filter("doc_id < 200").createOrReplaceTempView(
        "w_docs_chunk"
    )
    return spark.sql("SELECT * FROM w_chunk_text(TABLE(w_docs_chunk))")


def _duck_clean_tagged_ctes() -> str:
    """The repetition CTEs + base + first-hit-wins tagged CASE shared by
    the clean_corpus_census and pipeline_end_to_end oracles — ONE copy of
    the thresholds, so the two can never drift apart."""
    e = _duck_text_exprs()
    return f"""{_duck_repetition_ctes()}, base AS (
      SELECT doc_id, text, {e["nchars"]} AS n_chars, {e["ntok"]} AS n_tokens,
             {e["punct"]} AS pr, {e["swr"]} AS swr
      FROM documents
    ), tagged AS (
      SELECT b.doc_id,
        CASE WHEN b.text IS NULL THEN 'null_text'
             WHEN b.n_chars < 100 THEN 'too_short'
             WHEN b.n_chars > 20000 THEN 'too_long'
             WHEN coalesce(ls.dup_line_frac, 0) > 0.3
                  OR coalesce(gs.top_2gram_frac, 0) > 0.2 THEN 'repetitive'
             WHEN {_DUCK_QUALITY} < 0.5 THEN 'low_quality'
             ELSE 'kept' END AS reason
      FROM base b LEFT JOIN ls USING (doc_id) LEFT JOIN gs USING (doc_id)
    )"""


def _clean_corpus_oracle() -> str:
    """clean_corpus composes already-oracled pieces: the shared
    repetition CTEs + shared quality expressions + the length rules,
    folded into one first-hit-wins CASE."""
    return f"""
    WITH {_duck_clean_tagged_ctes()}
    SELECT reason, count(*) AS n_docs FROM tagged GROUP BY reason
    """


def _pipeline_e2e_oracle() -> str:
    """End-to-end pipeline = the composition of three already-oracled
    stages: the clean_corpus CASE chain (shared CTE builder — one copy
    of the thresholds) -> exact dedup (row_number over the
    normalized-text fingerprint) -> repeated-span removal over the
    SURVIVING corpus, censused per source."""
    fp = "md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))"
    return f"""
    WITH {_duck_clean_tagged_ctes()}, kept AS (
      SELECT d.doc_id, d.text, d.source FROM documents d
      JOIN tagged USING (doc_id) WHERE reason = 'kept'
    ), deduped AS (
      SELECT doc_id, text, source FROM (
        SELECT *, row_number() OVER (PARTITION BY {fp} ORDER BY doc_id) AS rn
        FROM kept
      ) WHERE rn = 1
    ), toks AS (
      SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
      FROM deduped
    ), occ AS (
      SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS g,
             doc_id*1000000 + i AS okey
      FROM toks, unnest(range(1, len(t) - 6)) AS u(i)
      WHERE len(t) >= 8
    ), hot AS (SELECT g, min(okey) AS fk FROM occ GROUP BY g HAVING count(*) >= 2),
    rem AS (SELECT occ.doc_id, pos FROM occ JOIN hot USING (g) WHERE okey <> fk),
    cov AS (SELECT DISTINCT doc_id, pos + dd.d AS tp FROM rem, unnest(range(0, 8)) AS dd(d)),
    per_doc AS (
      SELECT toks.doc_id, toks.source, len(t) AS n_tokens,
             coalesce(c.n_cov, 0) AS n_removed
      FROM toks LEFT JOIN (
        SELECT doc_id, count(*) AS n_cov FROM cov GROUP BY doc_id
      ) c USING (doc_id)
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_removed) AS BIGINT) AS removed_tokens
    FROM per_doc GROUP BY source
    """


@q("pipeline_end_to_end", _pipeline_e2e_oracle())
def pipeline_end_to_end(spark, sf_dir):
    """The FLAGSHIP composition: the actual training-data pipeline run as
    one chained job — C4/Gopher cleaning (llm/pipeline.py clean_corpus)
    -> exact dedup (llm/dedup.py) -> repeated-span removal (Lee et al.
    ExactSubstr) — censused per source.  Every stage is an independently
    oracled operator; this query proves the COMPOSITION matches the same
    chain replayed in SQL, the property a user migrating a real pipeline
    cares about."""
    from pyspark.sql import functions as F

    from hyperspace_spark.llm import dedup
    from hyperspace_spark.llm.pipeline import clean_corpus

    _conf(spark)
    docs = _t(spark, sf_dir, "documents")
    kept = (
        clean_corpus(docs)
        .filter(F.col("drop_reason").isNull())
        .select("doc_id", "text", "source")
    )
    # Persist the survivors: BOTH the span stage and the census join fan
    # out from here — without it the repetition kernel + dedup window
    # execute twice per run (r8 review finding).
    #
    # MEASURED AND KEPT AS-IS (r15, VERDICT r14 #5): an eager
    # localCheckpoint would truncate the 38-Exchange static plan to one
    # materialized scan, but the interleaved A/B (scripts/r15_ab.py @
    # f9ec1a6) measured it 1.9x SLOWER (1.54 -> 2.88 s at sf0.1): the persist
    # path materializes lazily into a columnar in-memory cache during
    # the first branch, while localCheckpoint pays an eager extra
    # materialization pass into row-format RDD blocks and both branches
    # then scan the slower row format.  The static-plan lineage repeat
    # stays (cache-served at runtime) — plan aesthetics do not justify a
    # measured 1.9x wall regression (guide §1).
    deduped = dedup._persist(dedup.exact_dedup(kept))
    spans = dedup.remove_repeated_spans(deduped, n=8)
    return (
        spans.join(deduped.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_removed").alias("removed_tokens"),
        )
    )


@q("clean_corpus_census", _clean_corpus_oracle())
def clean_corpus_census(spark, sf_dir):
    """C4/Gopher-style corpus-cleaning filter chain (llm/pipeline.py):
    every document tagged with its first failing rule, censused by
    reason — the artifact a data team reviews before committing a
    corpus.  JVM expressions + one Arrow kernel + one doc_id join."""
    from pyspark.sql import functions as F

    from hyperspace_spark.llm.pipeline import clean_corpus

    _conf(spark)
    tagged = clean_corpus(_t(spark, sf_dir, "documents"))
    return tagged.groupBy(
        F.coalesce(F.col("drop_reason"), F.lit("kept")).alias("reason")
    ).agg(F.count("*").alias("n_docs"))


@q(
    "unigram_logprob",
    """
    WITH tk AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
      FROM documents WHERE text IS NOT NULL
    ), f AS (
      SELECT tok, count(*) AS c FROM tk GROUP BY tok
    ), t AS (
      SELECT sum(c) AS tot FROM f
    )
    SELECT doc_id, count(*) AS n_tokens,
           round(avg(-ln(c * 1.0 / tot)), 4) AS mean_neg_logprob
    FROM tk JOIN f USING (tok) CROSS JOIN t
    GROUP BY doc_id
    """,
)
def unigram_logprob_query(spark, sf_dir):
    """CCNet/KenLM-style LM quality proxy (llm/text.py unigram_logprob):
    per-document mean -ln p(token) under the corpus's own unigram
    distribution.  Model build = one token-keyed groupBy; scoring joins
    the exploded tokens against it — the oracle replays the identical
    arithmetic (ln is IEEE-double in both engines; avg+round(4) absorbs
    summation-order ulps)."""
    from hyperspace_spark.llm.text import unigram_logprob

    _conf(spark)
    return unigram_logprob(_t(spark, sf_dir, "documents"))


@q(
    "boilerplate_line_removal",
    """
    WITH l AS (
      SELECT doc_id, i AS pos, parts[i] AS line
      FROM (SELECT doc_id, string_split(text, ' ') AS parts
            FROM documents WHERE text IS NOT NULL) d,
           LATERAL (SELECT unnest(generate_series(1, len(d.parts))) AS i) g
    ), n AS (
      SELECT doc_id, pos, line,
             lower(trim(regexp_replace(line, '\\s+', ' ', 'g'))) AS norm
      FROM l
    ), hot AS (
      SELECT md5(norm) AS k FROM n WHERE len(norm) >= 1
      GROUP BY 1 HAVING count(DISTINCT doc_id) >= 200
    ), kept AS (
      SELECT doc_id, pos, line FROM n
      WHERE md5(norm) NOT IN (SELECT k FROM hot)
    )
    SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE coalesce(string_agg(k.line, ' ' ORDER BY k.pos), '')
           END AS text
    FROM documents d LEFT JOIN kept k USING (doc_id)
    GROUP BY d.doc_id, d.text
    """,
)
def boilerplate_line_removal_query(spark, sf_dir):
    """CCNet/RefinedWeb-style corpus-frequency boilerplate removal
    (llm/boilerplate.py): a line occurring in >= 200 DISTINCT documents
    is chrome (cookie banners, nav, license footers) and is stripped
    from EVERY document — the cross-document complement of the
    per-document repetition filter.  The synthetic documents have no
    real newlines, so the contract uses the degenerate single-space
    separator (words as lines — same stress as dedup_paragraph);
    removal then behaves like corpus-frequency stopword stripping,
    non-trivial at sf0.01's 500 docs.  Scale shape: explode +
    distinct-(doc,key) + key-keyed count, hot set enters a broadcast
    ANTI join (dropped, never pair-joined — no quadratic risk), one
    doc-keyed reassembly shuffle."""
    from hyperspace_spark.llm.boilerplate import remove_boilerplate_lines

    _conf(spark)
    return remove_boilerplate_lines(
        _t(spark, sf_dir, "documents"), min_doc_freq=200, sep=" "
    )


@q(
    "dsir_importance_en",
    """
    WITH tk AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
      FROM documents WHERE text IS NOT NULL
    ), cr AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
    ct AS (
      SELECT tok, count(*) AS c FROM tk
      JOIN (SELECT doc_id FROM documents WHERE lang = 'en') e USING (doc_id)
      GROUP BY tok
    ), j AS (
      SELECT cr.tok, cr.c AS craw, coalesce(ct.c, 0) AS ctgt
      FROM cr LEFT JOIN ct USING (tok)
    ), t AS (
      SELECT sum(craw) AS nr, sum(ctgt) AS nt, count(*) AS v FROM j
    ), lr AS (
      SELECT tok,
             ln((ctgt + 0.5) / (nt + 0.5 * v))
             - ln((craw + 0.5) / (nr + 0.5 * v)) AS logratio
      FROM j CROSS JOIN t
    )
    SELECT doc_id, count(*) AS n_tokens,
           round(sum(logratio), 4) + 0.0 AS importance,
           round(avg(logratio), 4) + 0.0 AS importance_per_token
    FROM tk JOIN lr USING (tok) GROUP BY doc_id
    """,
)
def dsir_importance_query(spark, sf_dir):
    """DSIR data selection (llm/selection.py, Xie et al. NeurIPS'23):
    score every document by sum log(p_target/p_raw) under add-0.5
    unigram models over the joint vocabulary; target = the corpus's
    English slice, so English-like documents score high and the oracle
    replays the arithmetic exactly (ln over exact integer counts;
    round(4) absorbs summation-order ulps — the unigram_logprob
    convention).  Scale shape: two token-keyed counts, vocab-sized
    log-ratio table broadcast by AQE, one explode + join + doc-keyed
    sum; totals ride as a 1-row broadcast, no driver collect."""
    from pyspark.sql import functions as F

    from hyperspace_spark.llm.selection import dsir_importance

    _conf(spark)
    docs = _t(spark, sf_dir, "documents")
    return dsir_importance(docs, docs.where(F.col("lang") == "en"))


@q("lang_quality", _lang_quality_oracle())
def lang_quality(spark, sf_dir):
    from pyspark.sql import functions as F

    from hyperspace_spark.llm import text
    from hyperspace_spark.scale import ensure_min_parallelism

    t = F.col("text")
    return ensure_min_parallelism(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        text.language_id(t).alias("lang_pred"),
        text.quality_score(t).alias("quality_score"),
        text.shingle_fingerprint(t).alias("shingle_fp"),
    )


@q(
    "dedup_exact",
    """
    SELECT doc_id FROM (
      SELECT doc_id, text, row_number() OVER (
        PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
        ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE text IS NULL OR rn = 1
    """,
)
def dedup_exact_query(spark, sf_dir):
    from hyperspace_spark.llm import dedup

    return dedup.exact_dedup(_t(spark, sf_dir, "documents")).select("doc_id")


_INCR_FP = "md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))"


@q(
    "dedup_incremental",
    f"""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 < 4),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 200000, text FROM documents WHERE doc_id % 25 = 4
    ),
    b AS (
      SELECT doc_id, text, {_INCR_FP} AS fp,
             row_number() OVER (PARTITION BY {_INCR_FP} ORDER BY doc_id) AS rn
      FROM batch
    )
    SELECT doc_id FROM b
    WHERE text IS NULL OR (rn = 1 AND fp NOT IN (
      SELECT {_INCR_FP} FROM corpus WHERE text IS NOT NULL))
    """,
)
def dedup_incremental_query(spark, sf_dir):
    """Daily-crawl-vs-corpus dedup (llm/dedup.py incremental_dedup): the
    batch is the %5=4 slice plus synthetic re-crawls — copies of corpus
    docs under new ids (must be rejected by the fingerprint ledger) and
    copies of batch docs (must lose the within-batch dedup).  Only
    fingerprints ever shuffle; the ledger is corpus_fingerprints()."""
    from pyspark.sql import functions as F

    from hyperspace_spark.llm import dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = (
        docs.filter("doc_id % 5 = 4")
        .unionByName(
            docs.filter("doc_id % 10 = 0").select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.filter("doc_id % 25 = 4").select(
                (F.col("doc_id") + 200000).alias("doc_id"), "text"
            )
        )
    )
    ledger = dedup.corpus_fingerprints(docs.filter("doc_id % 5 < 4"))
    return dedup.incremental_dedup(batch, ledger).select("doc_id")


@q(
    "dedup_repeated_spans",
    r"""
    WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
                  FROM documents WHERE text IS NOT NULL),
    occ AS (
      SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS g,
             doc_id*1000000 + i AS okey
      FROM toks, unnest(range(1, len(t) - 6)) AS u(i)
      WHERE len(t) >= 8
    ),
    hot AS (SELECT g, min(okey) AS fk FROM occ GROUP BY g HAVING count(*) >= 2),
    rem AS (SELECT occ.doc_id, pos FROM occ JOIN hot USING (g) WHERE okey <> fk),
    cov AS (SELECT DISTINCT doc_id, pos + d AS tp FROM rem, unnest(range(0, 8)) AS dd(d)),
    tok AS (SELECT doc_id, t[i] AS tok, i AS ord
            FROM toks, unnest(range(1, len(t)+1)) AS u(i)),
    kept AS (
      SELECT tk.doc_id, tk.tok, tk.ord FROM tok tk
      LEFT JOIN cov c ON c.doc_id = tk.doc_id AND c.tp = tk.ord
      WHERE c.doc_id IS NULL
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_kept, string_agg(tok, ' ' ORDER BY ord) AS cleaned_text
      FROM kept GROUP BY doc_id
    )
    SELECT toks.doc_id, len(t) AS n_tokens,
           len(t) - coalesce(n_kept, 0) AS n_removed,
           coalesce(cleaned_text, '') AS cleaned_text
    FROM toks LEFT JOIN agg USING (doc_id)
    """,
)
def dedup_repeated_spans_query(spark, sf_dir):
    """Exact repeated-substring removal at 8-token spans (llm/dedup.py
    remove_repeated_spans — the Lee et al. 2022 ExactSubstr discipline,
    relationally: duplicated spans cut everywhere but their global first
    occurrence).  The one corpus-sized stage is a partial-aggregated
    n-gram groupBy; removals regroup per doc and apply in-row."""
    from hyperspace_spark.llm import dedup

    return dedup.remove_repeated_spans(_t(spark, sf_dir, "documents"), n=8)


_NGRAM_PAIRS_SQL = """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
        CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
             ELSE array_to_string(t[i:i+2], ' ') END AS shingle
      FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t)-1, 2))) AS i FROM toks)
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.5
    """


@q("dedup_ngram_jaccard", _NGRAM_PAIRS_SQL)
def dedup_ngram_jaccard_query(spark, sf_dir):
    """Reads the workspace-materialized pair graph (Workspace.
    _ensure_ngram_pairs builds it once via dedup.ngram_jaccard_pairs with
    the hot-shingle cap engaged; at the synthetic corpus's df ceiling the
    cap drops nothing, so the exact oracle still matches — cap behavior
    under injected boilerplate is covered in tests/test_llm_ops.py)."""
    ws = workspace(spark, sf_dir)
    return _p(spark, ws.ngram_pairs).select("id_a", "id_b", "jaccard")


@q(
    "dedup_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_NGRAM_PAIRS_SQL}),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    closure(a, b) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT closure.a, s.dst FROM closure JOIN sym s ON closure.b = s.src
    )
    SELECT a AS node, least(a, min(b)) AS cluster
    FROM closure GROUP BY a
    """,
)
def dedup_clusters_query(spark, sf_dir):
    """Near-dup clustering: connected components over the exact Jaccard
    pair graph (iterative min-label propagation Spark-side; transitive
    closure via recursive CTE in the oracle).  The pair graph is the
    workspace-materialized artifact — shared with dedup_ngram_jaccard,
    computed once."""
    from hyperspace_spark.llm import dedup

    ws = workspace(spark, sf_dir)
    return dedup.connected_components(_p(spark, ws.ngram_pairs))


@q(
    "dedup_keep_canonical",
    f"""
    WITH RECURSIVE pairs AS ({_NGRAM_PAIRS_SQL}),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    closure(a, b) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT closure.a, s.dst FROM closure JOIN sym s ON closure.b = s.src
    ),
    clusters AS (
      SELECT a AS node, least(a, min(b)) AS cluster FROM closure GROUP BY a
    )
    SELECT doc_id, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT node FROM clusters WHERE node != cluster)
    """,
)
def dedup_keep_canonical_query(spark, sf_dir):
    """End-to-end dedup: one document per near-dup cluster (minimum id),
    untouched documents kept — connected components over the materialized
    pair graph, then an anti-join against the corpus.  Oracle: recursive
    transitive closure + NOT IN."""
    from hyperspace_spark.llm import dedup

    ws = workspace(spark, sf_dir)
    return dedup.keep_canonical(
        _t(spark, sf_dir, "documents"), _p(spark, ws.ngram_pairs)
    ).select("doc_id", "source", "n_chars")


@q(
    "contamination_check",
    """
    WITH shingled AS (
      SELECT doc_id, source,
        CASE WHEN len(t) < 8 THEN array_to_string(t, ' ')
             ELSE array_to_string(t[i:i+7], ' ') END AS shingle
      FROM (
        SELECT doc_id, source, t, unnest(range(1, greatest(len(t)-6, 2))) AS i
        FROM (SELECT doc_id, source,
                     regexp_split_to_array(trim(lower(text)), '\\s+') AS t
              FROM documents)
      )
      GROUP BY ALL
    ),
    tr AS (SELECT doc_id AS train_id, shingle FROM shingled WHERE source NOT IN ('src0', 'src1')),
    ev AS (SELECT doc_id AS eval_id, shingle FROM shingled WHERE source IN ('src0', 'src1'))
    SELECT train_id, eval_id, count(*) AS shared
    FROM tr JOIN ev USING (shingle)
    GROUP BY 1, 2
    HAVING count(*) >= 1
    """,
)
def contamination_check_query(spark, sf_dir):
    """Benchmark contamination: src0/src1 documents stand in for an eval
    set; flag overlapping 8-gram shingles from the remaining corpus."""
    from pyspark.sql import functions as F

    from hyperspace_spark.llm import dedup

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(~F.col("source").isin("src0", "src1"))
    ev = docs.filter(F.col("source").isin("src0", "src1"))
    return dedup.contamination_check(train, ev, n=8, min_shared=1)


def _minhash_lsh_oracle(num_hashes: int = 64, bands: int = 16, threshold: float = 0.5) -> str:
    """Exact DuckDB replica of the MinHash+LSH pipeline.  The pipeline is
    approximate as a SIMILARITY JOIN but fully deterministic as a
    FUNCTION (md5 shingle hashes, fixed permutation constants, md5 band
    buckets), so the oracle reproduces it bit-for-bit: same signatures,
    same candidate buckets, same exact-Jaccard verification."""
    from hyperspace_spark.llm.dedup import _MERSENNE, _perm_params

    rows = num_hashes // bands
    perms = _perm_params(num_hashes)
    mh = ", ".join(
        f"min((h * {a} + {b}) % {_MERSENNE}) AS mh_{i}" for i, (a, b) in enumerate(perms)
    )
    band_cases = " ".join(
        "WHEN {b} THEN md5(concat_ws('_', {cols}))".format(
            b=b,
            cols=", ".join(f"mh_{b * rows + r}::VARCHAR" for r in range(rows)),
        )
        for b in range(bands)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
        CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
             ELSE array_to_string(t[i:i+2], ' ') END AS shingle
      FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t)-1, 2))) AS i FROM toks)
    ), hashed AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {_MERSENNE} AS h
      FROM sh
    ), sig AS (
      SELECT doc_id, {mh} FROM hashed GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, band, CASE band {band_cases} END AS bsig
      FROM sig CROSS JOIN (SELECT unnest(range({bands})) AS band)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT id_a, id_b, count(*) AS i
      FROM cand JOIN sh sa ON sa.doc_id = id_a
                JOIN sh sb ON sb.doc_id = id_b AND sa.shingle = sb.shingle
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(i / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
               JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(i / (sa.sz + sb.sz - i), 6) >= {threshold}
    """


@q("dedup_minhash_lsh", _minhash_lsh_oracle())
def dedup_minhash_lsh_query(spark, sf_dir):
    # No release_caches() here: repeated executions legitimately reuse
    # the persisted shingle/signature frames (Spark's CacheManager
    # matches them by canonicalized plan).  The NEXT pipeline query and
    # bench.timed() release them, so nothing accumulates.
    from hyperspace_spark.llm import dedup

    return dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n=3, num_hashes=64, bands=16, verify_threshold=0.5
    )


def _simhash_oracle(bits: int = 60) -> str:
    h = "('0x' || substr(md5(tok), 1, 15))::BIGINT"
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}" for b in range(bits)
    )
    assemble = " + ".join(f"(CASE WHEN b{b} > 0 THEN 1::BIGINT << {b} ELSE 0 END)" for b in range(bits))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
      FROM documents
    ), hashed AS (
      SELECT doc_id, {h} AS h FROM tok
    ), per_bit AS (
      SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, {assemble} AS simhash FROM per_bit
    """


@q("dedup_simhash", _simhash_oracle())
def dedup_simhash_query(spark, sf_dir):
    from hyperspace_spark.llm import dedup

    dedup.release_caches()
    return dedup.simhash(_t(spark, sf_dir, "documents"))


@q(
    "dedup_embedding_cosine",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                           CAST(embedding AS DOUBLE[])))) AS u
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.u, b.u), 6) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.u, b.u), 6) >= 0.5
    """,
)
def dedup_embedding_cosine_query(spark, sf_dir):
    from hyperspace_spark.llm import dedup

    return dedup.embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.5)


@q(
    "ann_cosine_topk",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    qv AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id IN (0, 1, 2, 3, 4)),
    scored AS (
      SELECT qid, vec_id AS nid,
             round(list_dot_product(qe, e) /
                   (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))), 6) AS cosine
      FROM v CROSS JOIN qv WHERE vec_id != qid
    )
    SELECT qid AS query_id, nid AS neighbor_id, cosine, rank FROM (
      SELECT qid, nid, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def ann_cosine_topk_query(spark, sf_dir):
    from hyperspace_spark.llm import similarity

    return similarity.cosine_topk(_t(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=10)


def _ann_lsh_oracle(
    threshold: float = 0.4,
    nbits: int = 4,
    bands: int = 8,
    max_bucket: int = 4096,
    dim: int = 64,
) -> str:
    """Exact DuckDB replica of the multi-band hyperplane LSH: the seeded
    hyperplanes are rendered as literal DOUBLE arrays, so bucket
    signatures (and therefore candidates) are identical; verification is
    the same double-precision cosine rounded to 6 digits."""
    from hyperspace_spark.llm.similarity import _hyperplanes

    sig_cases = []
    for b in range(bands):
        planes = _hyperplanes(dim, nbits, seed=f"hs-lsh-band{b}")
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, {[float(x) for x in plane]}) > 0"
            f" THEN {1 << j} ELSE 0 END)"
            for j, plane in enumerate(planes)
        )
        sig_cases.append(f"WHEN {b} THEN ({bits})")
    cos = (
        "round(list_dot_product(va.v, vb.v) / "
        "(sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))), 6)"
    )
    return f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), keyed AS (
      SELECT vec_id, band, CASE band {' '.join(sig_cases)} END AS sig
      FROM v CROSS JOIN (SELECT unnest(range({bands})) AS band)
    ), kept AS (
      SELECT band, sig FROM keyed GROUP BY 1, 2 HAVING count(*) <= {max_bucket}
    ), k2 AS (
      SELECT keyed.* FROM keyed JOIN kept USING (band, sig)
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM k2 a JOIN k2 b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, {cos} AS cosine
    FROM cand JOIN v va ON va.vec_id = id_a JOIN v vb ON vb.vec_id = id_b
    WHERE {cos} >= {threshold}
    """


@q(
    "semantic_dedup",
    f"""
    WITH RECURSIVE pairs AS ({_ann_lsh_oracle()}),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    closure(a, b) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT closure.a, s.dst FROM closure JOIN sym s ON closure.b = s.src
    ),
    clusters AS (
      SELECT a AS node, least(a, min(b)) AS cluster FROM closure GROUP BY a
    )
    SELECT e.vec_id, e.label
    FROM embeddings e LEFT JOIN clusters c ON e.vec_id = c.node
    WHERE c.node IS NULL OR c.node = c.cluster
    """,
)
def semantic_dedup_query(spark, sf_dir):
    """SemDeDup-style semantic dedup (llm/dedup.py semantic_dedup):
    LSH-bucketed embedding near-dup pairs -> connected components ->
    minimum-id survivor per semantic cluster.  The oracle chains the
    two already-proven replicas — the seeded-hyperplane LSH pair SQL
    (ann_lsh_bucketed) and the recursive-CTE transitive closure
    (dedup_clusters) — then anti-joins non-representatives away.
    Output projects (vec_id, label): the survivor SET is deterministic,
    the embedding arrays ride along unprojected.  threshold=0.4 is the
    SYNTHETIC-data tuning (max pairwise cosine ~0.51 — the library
    default 0.95 would verify nothing); real corpora use the
    near-identical default."""
    from hyperspace_spark.llm.dedup import semantic_dedup

    _conf(spark)
    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    ).select("vec_id", "label")


@q("ann_lsh_bucketed", _ann_lsh_oracle())
def ann_lsh_bucketed_query(spark, sf_dir):
    """Multi-band LSH near-dup pairs.  Tuned to the synthetic embeddings:
    max pairwise cosine ≈ 0.51 at sf0.01, so threshold 0.4 yields a
    NON-EMPTY result (≈60 exact pairs; expected recall ≈0.75 with
    4 bits × 8 bands) — a 0-row result verifies nothing.
    Recall + subset-of-exact are pytest-asserted (tests/test_llm_ops.py)."""
    from hyperspace_spark.llm import similarity

    return similarity.lsh_bucketed_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, nbits=4, bands=8
    )


@q(
    "ann_ivf_topk",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                           CAST(embedding AS DOUBLE[])))) AS u
      FROM embeddings
    ), qv AS (SELECT vec_id AS qid, u AS qu FROM v WHERE vec_id IN (0, 1, 2)),
    scored AS (
      SELECT qid, vec_id AS nid, round(list_dot_product(qu, u), 6) AS cosine
      FROM v CROSS JOIN qv WHERE vec_id != qid
    )
    SELECT qid AS query_id, nid AS neighbor_id, cosine, rank FROM (
      SELECT qid, nid, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def ann_ivf_topk_query(spark, sf_dir):
    """Probes the PERSISTED IVF index (w_ann_ivf): KMeans ran once at
    build; the query picks centroids driver-side and scans cluster
    partitions.  Contract entry probes ALL clusters (n_probe = n_clusters
    = 8), where IVF is EXACT — equal to brute-force top-k, which DuckDB
    verifies bit-for-bit (vectors are unit-normalized at build, so cosine
    = dot of normalized vectors).  Partial-probe recall is pytest-asserted
    (tests/test_ann_index.py)."""
    ws = workspace(spark, sf_dir)
    return ws.hs.ann_search("w_ann_ivf", query_ids=[0, 1, 2], k=5, n_probe=8)


@q(
    "ann_knn_join",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                           CAST(embedding AS DOUBLE[])))) AS u
      FROM embeddings
    ), qv AS (SELECT vec_id AS qid, u AS qu FROM v WHERE vec_id % 50 = 0),
    scored AS (
      SELECT qid, v.vec_id AS nid, round(list_dot_product(qu, v.u), 6) AS cosine
      FROM v CROSS JOIN qv WHERE v.vec_id != qid
    )
    SELECT qid AS query_id, nid AS neighbor_id, cosine, rank FROM (
      SELECT qid, nid, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def ann_knn_join(spark, sf_dir):
    """Distributed k-NN JOIN (indexes/ann.py ann_join): top-3 neighbors
    for EVERY 50th embedding in one shot — the query side stays a
    DataFrame end-to-end (probe assignment is an Arrow matmul over the
    query partitions; nothing query-scale touches the driver, unlike
    the point-lookup ann_search API).  All-probe here, so the result is
    the exact kNN join and DuckDB's brute-force oracle applies."""
    from pyspark.sql import functions as F

    ws = workspace(spark, sf_dir)
    queries = (
        _t(spark, sf_dir, "embeddings")
        .filter("vec_id % 50 = 0")
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    )
    return ws.hs.ann_join(
        "w_ann_ivf", queries, k=3, n_probe=8, exclude_self=True
    )


@q(
    "ann_knn_join_brute",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                           CAST(embedding AS DOUBLE[])))) AS u
      FROM embeddings
    ), qv AS (SELECT vec_id AS qid, u AS qu FROM v WHERE vec_id % 50 = 0),
    scored AS (
      SELECT qid, v.vec_id AS nid, round(list_dot_product(qu, v.u), 6) AS cosine
      FROM v CROSS JOIN qv WHERE v.vec_id != qid
    )
    SELECT qid AS query_id, nid AS neighbor_id, cosine, rank FROM (
      SELECT qid, nid, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def ann_knn_join_brute(spark, sf_dir):
    """Brute-force k-NN join baseline: the SAME result set as
    ann_knn_join (identical oracle — the indexed join is exact at
    all-probe) computed with NO index, as a plain broadcast crossJoin
    of the query rows against the full corpus + a rank window.  Exists
    so the bench can track an API-paired speedup for ann_join every
    round (BENCH `speedup_api_paired`): the ann_join path has no
    planner kill-switch baseline, and without a tracked pair a kernel
    regression would be invisible.  At sf0.1 (2k vectors) both sides
    are overhead-bound; the scale evidence is the 2M-vector probe
    (scripts/scale_probe.py --vectors, 925 s -> 10.1 s)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from hyperspace_spark.llm.similarity import cosine_kernel

    _conf(spark)
    v = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").cast("array<double>").alias("nv"),
    )
    qv = v.filter("nid % 50 = 0").select(
        F.col("nid").alias("qid"), F.col("nv").alias("qv")
    )
    scored = (
        v.crossJoin(F.broadcast(qv))
        .filter(F.col("nid") != F.col("qid"))
        .withColumn("cosine", F.round(cosine_kernel()(F.col("qv"), F.col("nv")), 6))
    )
    w = W.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )


@q(
    "ann_filtered_topk",
    """
    WITH v AS (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                           CAST(embedding AS DOUBLE[])))) AS u
      FROM embeddings
    ), qv AS (SELECT vec_id AS qid, u AS qu FROM v WHERE vec_id IN (0, 1, 2)),
    scored AS (
      SELECT qid, v2.vec_id AS nid, round(list_dot_product(qu, v2.u), 6) AS cosine
      FROM (SELECT * FROM v WHERE label = 1) v2 CROSS JOIN qv
      WHERE v2.vec_id != qid
    )
    SELECT qid AS query_id, nid AS neighbor_id, cosine, rank FROM (
      SELECT qid, nid, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def ann_filtered_topk(spark, sf_dir):
    """FILTERED vector search (the Milvus/pgvector production shape):
    top-5 cosine neighbors among rows whose label = 1, from the
    persisted flat IVF index — the allowed id set joins candidates by
    id BEFORE ranking (pre-filter semantics), so the result is the
    exact top-k over the filtered corpus at all-probe.  The oracle
    brute-forces cosine over the label-1 subset."""
    ws = workspace(spark, sf_dir)
    return ws.hs.ann_search(
        "w_ann_ivf", query_ids=[0, 1, 2], k=5, n_probe=8, where="label = 1"
    )


@q(
    "ann_pq_topk",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                           CAST(embedding AS DOUBLE[])))) AS u
      FROM embeddings
    ), qv AS (SELECT vec_id AS qid, u AS qu FROM v WHERE vec_id IN (0, 1, 2)),
    scored AS (
      SELECT qid, vec_id AS nid, round(list_dot_product(qu, u), 6) AS cosine
      FROM v CROSS JOIN qv WHERE vec_id != qid
    )
    SELECT qid AS query_id, nid AS neighbor_id, cosine, rank FROM (
      SELECT qid, nid, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def ann_pq_topk_query(spark, sf_dir):
    """Probes the PERSISTED IVF-PQ index (w_ann_pq, 8-byte codes): ADC
    scores the codes, then the pool re-ranks EXACTLY against the source
    vectors.  Contract entry probes ALL clusters with a pool sized to
    COVER the corpus (refine_factor scales with the vector count — a
    fixed 1000 would silently stop covering past 5k vectors and the
    brute-force oracle would mismatch), where PQ+refine degenerates to
    exact brute force — so DuckDB verifies the full encode -> ADC ->
    pool -> refine plumbing bit-for-bit.  Realistic small-pool recall
    (0.9+ at pool=4k on the synthetic embeddings) and the >5x size cut
    are pytest-asserted (tests/test_ann_index.py)."""
    ws = workspace(spark, sf_dir)
    n = _EMB_COUNT_CACHE.get(sf_dir)
    if n is None:
        n = _t(spark, sf_dir, "embeddings").count()  # parquet-metadata count
        _EMB_COUNT_CACHE[sf_dir] = n
    return ws.hs.ann_search(
        "w_ann_pq",
        query_ids=[0, 1, 2],
        k=5,
        n_probe=8,
        refine_factor=max(1000, -(-int(n) // 5)),
    )


_EMB_COUNT_CACHE: dict = {}


@q(
    "multimodal_meta",
    """
    SELECT i AS media_id,
           CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(32 * (4 + i % 5) AS BIGINT) AS n_bytes,
           CASE WHEN i % 3 = 1 THEN NULL ELSE CAST(64 + (i % 8) * 16 AS INT) END AS width,
           CASE WHEN i % 3 = 1 THEN NULL ELSE CAST(48 + (i % 8) * 12 AS INT) END AS height
    FROM range(48) t(i)
    """,
)
def multimodal_meta_query(spark, sf_dir):
    """The deterministic half of the multimodal pipeline, oracle-checked:
    media_id/kind/width/height metadata plus n_bytes measured FROM THE
    ACTUAL BINARY PAYLOAD inside the Arrow-batched mapInPandas decode —
    so the oracle verifies the real binary-column plumbing (synthetic
    payload is sha256-seeded: 32 bytes × (4 + i%5) repeats).  Only the
    decoded feature VALUES stay rows-only (multimodal_features)."""
    from hyperspace_spark.llm import multimodal

    media = multimodal.synthetic_media_df(spark, n=48)
    return multimodal.decode_features(media).select(
        "media_id", "kind", "n_bytes", "width", "height"
    )


@q(
    "multimodal_resize",
    """
    SELECT i AS media_id,
           CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CASE WHEN i % 3 = 0 THEN 96
                WHEN i % 3 = 1 THEN NULL
                ELSE CAST(64 + (i % 8) * 16 AS INT) END AS width,
           CASE WHEN i % 3 = 0 THEN 64
                WHEN i % 3 = 1 THEN NULL
                ELSE CAST(48 + (i % 8) * 12 AS INT) END AS height,
           CASE WHEN i % 3 = 0 THEN CAST(96 AS BIGINT)
                ELSE CAST(32 * (4 + i % 5) AS BIGINT) END AS n_bytes
    FROM range(48) t(i)
    """,
)
def multimodal_resize_query(spark, sf_dir):
    """Thumbnail pipeline, oracle-checked on every deterministic column:
    images are resized to 96x64 (stub resampler emits exactly
    width*height/64 = 96 bytes), non-image rows pass through with their
    original payload and metadata dimensions.  n_bytes is measured from
    the ACTUAL post-resize binary column, so the oracle pins the
    mapInPandas in-place binary replacement, the pass-through branch, and
    the metadata rebuild — only pixel values are faked."""
    from pyspark.sql import functions as F

    from hyperspace_spark.llm import multimodal

    media = multimodal.synthetic_media_df(spark, n=48)
    return multimodal.resize_images(media, width=96, height=64).select(
        "media_id",
        "kind",
        "width",
        "height",
        F.length("data").cast("long").alias("n_bytes"),
    )


@q(
    "multimodal_features",
    """
    WITH d AS (
      SELECT i AS media_id,
             CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             CAST(32 * (4 + i % 5) AS BIGINT) AS n_bytes,
             repeat(sha256('hs-media-' || i), CAST(4 + i % 5 AS INT)) AS hx
      FROM range(48) t(i)
    ), raw AS (
      SELECT media_id, kind, n_bytes, CAST(j AS INT) AS dim_idx,
             ('0x' || substr(md5(hx || '-' || j), 1, 8))::BIGINT / 4294967296.0 - 0.5 AS f
      FROM d, range(16) r(j)
    ), normed AS (
      SELECT media_id, kind, n_bytes, dim_idx,
             f / sqrt(sum(f * f) OVER (PARTITION BY media_id)) AS u
      FROM raw
    )
    SELECT media_id, kind, n_bytes, dim_idx,
           round(CAST(CAST(u AS REAL) AS DOUBLE), 5) AS feature
    FROM normed
    """,
)
def multimodal_features_query(spark, sf_dir):
    """Feature vectors exploded to (media_id, dim_idx, feature) scalars —
    arrays are unhashable by the driver's canonicalizer (r1 harness error).

    Fully oracle-checked since r5: _fake_features hashes the payload's
    lowercase-hex text (md5 of "<hex>-<j>", float64 math, unit-norm,
    float32 storage), every step of which DuckDB reproduces — the hex of
    the synthetic payload is repeat(sha256_hex, 4+i%5), and the stored
    float32 value is pinned on both sides by casting through REAL before
    the 5-decimal round (the cast absorbs sub-ulp float64 summation-order
    differences in the norm)."""
    from pyspark.sql import functions as F

    from hyperspace_spark.llm import multimodal

    media = multimodal.synthetic_media_df(spark, n=48)
    feats = multimodal.decode_features(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.posexplode("features").alias("dim_idx", "feature"),
    ).withColumn("feature", F.round(F.col("feature").cast("double"), 5))


@q(
    "multimodal_decode_real",
    """
    WITH v AS (
      SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS idx
      FROM embeddings
    ), px AS (
      SELECT vec_id, idx, floor(least(abs(CAST(x AS DOUBLE)), 1.0) * 255) AS p
      FROM v WHERE idx <= 48
    ), bmp AS (
      SELECT vec_id,
             count(*) // 3 AS n_px,
             avg(CASE WHEN (idx - 1) % 3 = 0 THEN p END) AS c0,
             avg(CASE WHEN (idx - 1) % 3 = 1 THEN p END) AS c1,
             avg(CASE WHEN (idx - 1) % 3 = 2 THEN p END) AS c2
      FROM px GROUP BY vec_id
    ), wav AS (
      SELECT vec_id, count(*) AS n, avg(floor(CAST(x AS DOUBLE) * 10000)) AS c0
      FROM v GROUP BY vec_id
    )
    SELECT vec_id AS media_id, 'bmp' AS format, 4 AS width, 4 AS height,
           CAST(NULL AS INT) AS sample_rate, CAST(n_px AS BIGINT) AS n_samples,
           round(c0, 6) AS c0_mean, round(c1, 6) AS c1_mean, round(c2, 6) AS c2_mean
    FROM bmp
    UNION ALL
    SELECT vec_id, 'png', 4, 4, NULL, CAST(n_px AS BIGINT),
           round(c0, 6), round(c1, 6), round(c2, 6)
    FROM bmp
    UNION ALL
    SELECT vec_id, 'wav', NULL, NULL, 16000, CAST(n AS BIGINT),
           round(c0, 6), NULL, NULL
    FROM wav
    """,
)
def multimodal_decode_real_query(spark, sf_dir):
    """REAL (pure-numpy) media decode, end-to-end verified (r10): each
    embeddings row is rendered into a 4x4 24-bit BMP (pixels = the first
    48 dims quantized floor(|v|*255)) and a PCM16 WAV (samples =
    floor(v*10000)), DECODED back with llm.multimodal's header-parsing
    codecs, and reduced to dims + per-channel means.  The oracle computes
    the same stats straight from the embedding values — any decoder bug
    (pixel offset, BGR/RGB order, bottom-up rows, row padding, chunk walk,
    sample width) shifts a mean and hash-mismatches.  video stays
    env-blocked (codec libraries absent); BMP/PPM/PNG/WAV need none and
    baseline JPEG decodes via the pure-numpy T.81 codec (llm/jpeg.py,
    pytest-verified — its lossy output has no SQL oracle)."""
    from pyspark.sql import functions as F

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    schema = (
        "media_id long, format string, width int, height int, sample_rate int, "
        "n_samples long, c0_mean double, c1_mean double, c2_mean double"
    )

    def _roundtrip(batches):
        import numpy as np
        import pandas as pd

        from hyperspace_spark.llm import multimodal as mm

        for pdf in batches:
            rows = []
            for mid, vec in zip(pdf["vec_id"], pdf["embedding"]):
                v = np.asarray(vec, dtype=np.float64)
                pix = (
                    np.floor(np.minimum(np.abs(v[:48]), 1.0) * 255)
                    .astype(np.uint8)
                    .reshape(4, 4, 3)
                )
                st = mm.real_media_stats(mm.encode_bmp(pix), "bmp")
                rows.append(
                    (int(mid), "bmp", st["width"], st["height"], None,
                     st["n_samples"], *st["channel_means"])
                )
                # same pixels through a Paeth-filtered PNG: zlib inflate
                # + unfiltering must reproduce them byte-exactly or the
                # means shift and the hash mismatches
                st = mm.real_media_stats(mm.encode_png(pix, filter_type=4), "png")
                rows.append(
                    (int(mid), "png", st["width"], st["height"], None,
                     st["n_samples"], *st["channel_means"])
                )
                samples = np.floor(v * 10000).astype(np.int16)
                st = mm.real_media_stats(mm.encode_wav(samples, 16000), "wav")
                rows.append(
                    (int(mid), "wav", None, None, st["sample_rate"],
                     st["n_samples"], st["channel_means"][0], None, None)
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "format", "width", "height", "sample_rate",
                         "n_samples", "c0_mean", "c1_mean", "c2_mean"],
            )

    out = emb.mapInPandas(_roundtrip, schema)
    # Round JVM-side (Spark HALF_UP == DuckDB round), never in Python
    # (banker's rounding would diverge on exact half-ulp boundaries).
    return out.select(
        "media_id", "format", "width", "height", "sample_rate", "n_samples",
        *[F.round(F.col(c), 6).alias(c) for c in ("c0_mean", "c1_mean", "c2_mean")],
    )


@q(
    "avro_roundtrip",
    """
    SELECT o_orderkey, o_custkey, o_orderpriority,
           round(CAST(o_totalprice AS DOUBLE), 2) AS total
    FROM orders
    """,
)
def avro_roundtrip_query(spark, sf_dir):
    """Pure-Python avro container coding, end-to-end verified (r10,
    sources/avro_io.py — ingestion parity for the reference's avro
    format without the spark-avro module): every Arrow batch of orders
    rows is ENCODED into a deflate avro object container (zigzag
    varints, block framing, sync markers) and DECODED back inside the
    same mapInPandas; the oracle just selects the source values, so any
    varint/union/codec bug breaks the hash.  The distributed file path
    (binaryFile fan-out) is pytest-driven
    (test_pure_python_avro_read_write_roundtrip)."""
    from pyspark.sql import functions as F

    from hyperspace_spark.sources.avro_io import (
        read_container_to_pandas,
        write_container_from_pandas,
    )

    src = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("total"),
    )
    avro_schema = {
        "type": "record",
        "name": "orders",
        "fields": [
            {"name": "o_orderkey", "type": "long"},
            {"name": "o_custkey", "type": "long"},
            {"name": "o_orderpriority", "type": ["null", "string"]},
            {"name": "total", "type": "double"},
        ],
    }
    names = [f["name"] for f in avro_schema["fields"]]

    def _rt(batches):
        # r14: columnar twins of the row loops — byte-identical container,
        # identical decoded frame (tests/test_codec_properties.py::
        # test_avro_columnar_twins_byte_identical); encode 2.8x / decode
        # 1.6x on this 4-column shape.  Column order back to the declared
        # names is the only reshaping.
        for pdf in batches:
            blob = write_container_from_pandas(pdf[names], avro_schema, codec="deflate")
            _, back = read_container_to_pandas(blob)
            yield back[names]

    out = src.mapInPandas(
        _rt, "o_orderkey long, o_custkey long, o_orderpriority string, total double"
    )
    return out.withColumn("total", F.round("total", 2))


# --- PII detection / redaction (llm.pii) -----------------------------------
_PII_SEED_SQL = (
    "text"
    " || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309' ELSE '' END"
    " || CASE WHEN doc_id % 13 = 0 THEN ' id 123-45-6789' ELSE '' END"
    " || CASE WHEN doc_id % 17 = 0 THEN ' card 4111-1111-1111-1111' ELSE '' END"
    " || CASE WHEN doc_id % 19 = 0 THEN ' host 10.0.0.1' ELSE '' END"
)


def _pii_oracle() -> str:
    """DuckDB replica of pii_detect: the same RE2∩Java-regex patterns run
    over the same deterministically seeded corpus (the synthetic text has
    no natural PII, so rows are seeded in-query — a pure function of
    doc_id, reproducible in any engine)."""
    from hyperspace_spark.llm.pii import PATTERNS

    counts = ",\n             ".join(
        "CAST(len(regexp_extract_all(t, '" + pat + "')) AS INT) AS n_" + kind
        for kind, pat in PATTERNS.items()
    )
    red = "t"
    for kind, pat in PATTERNS.items():
        red = "regexp_replace(" + red + ", '" + pat + "', '[" + kind.upper() + "]', 'g')"
    total = " + ".join("n_" + k for k in PATTERNS)
    return (
        "WITH seeded AS (\n"
        "  SELECT doc_id, " + _PII_SEED_SQL + " AS t FROM documents\n"
        "), counted AS (\n"
        "  SELECT doc_id,\n             " + counts + ",\n"
        "         " + red + " AS redacted\n"
        "  FROM seeded\n"
        ")\n"
        "SELECT doc_id, n_email, n_credit_card, n_ssn, n_phone, n_ipv4, redacted\n"
        "FROM counted WHERE " + total + " > 0\n"
    )


@q("pii_detect", _pii_oracle())
def pii_detect(spark, sf_dir):
    """PII detection + redaction census over a deterministically seeded
    corpus: per-kind match counts (JVM regexp_count, whole-stage codegen)
    and the idempotent [KIND]-token redaction, filtered to affected
    documents.  Patterns are the RE2∩Java common subset (llm/pii.py), so
    the DuckDB oracle is exact."""
    from pyspark.sql import functions as F

    from hyperspace_spark.llm import pii

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(did % 11 == 0, F.lit(" call 555-867-5309")).otherwise(F.lit("")),
            F.when(did % 13 == 0, F.lit(" id 123-45-6789")).otherwise(F.lit("")),
            F.when(did % 17 == 0, F.lit(" card 4111-1111-1111-1111")).otherwise(F.lit("")),
            F.when(did % 19 == 0, F.lit(" host 10.0.0.1")).otherwise(F.lit("")),
        ).alias("text"),
    )
    counted = pii.pii_counts(seeded)
    redacted = pii.redact(counted, out_col="redacted")
    return redacted.filter(F.col("has_pii")).select(
        "doc_id", "n_email", "n_credit_card", "n_ssn", "n_phone", "n_ipv4", "redacted"
    )


# --- deterministic sampling / mixture / split (llm.sampling) ---------------
_MIXTURE_RATES = {"en": 1.0, "de": 0.5, "es": 0.5, "fr": 0.25, "zh": 0.1}
# Shared with llm.sampling: oracle thresholds derive from the SAME
# constants the Spark queries use, so changing rates/fractions/buckets
# in one place can never silently desynchronize query and oracle.
from hyperspace_spark.llm.sampling import NUM_BUCKETS as _NUM_BUCKETS  # noqa: E402

_SPLIT_VAL_FRACTION = 0.1
_SPLIT_TEST_FRACTION = 0.1
_SPLIT_VAL_HI = int(round(_SPLIT_VAL_FRACTION * _NUM_BUCKETS))
_SPLIT_TEST_HI = _SPLIT_VAL_HI + int(round(_SPLIT_TEST_FRACTION * _NUM_BUCKETS))


def _bucket_oracle(key_sql: str = "doc_id") -> str:
    # ONE rendering of the bucket hash (sampling.duckdb_bucket_sql is
    # the engine-blessed oracle form) — a drifting local copy would
    # silently diverge from the Spark-side hash_bucket it mirrors.
    from hyperspace_spark.llm.sampling import duckdb_bucket_sql

    return duckdb_bucket_sql(key_sql)


@q(
    "sample_hash_deterministic",
    f"""
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE {_bucket_oracle()} < 100000
    """,
)
def sample_hash_deterministic(spark, sf_dir):
    """10% deterministic hash-bucket sample: reproducible across runs,
    engines, and partitionings (unlike df.sample), and a narrow filter
    over the scan — no shuffle at any scale."""
    from hyperspace_spark.llm import sampling

    return sampling.deterministic_sample(
        _t(spark, sf_dir, "documents"), "doc_id", 0.10
    ).select("doc_id", "source", "n_chars")


@q(
    "mixture_stratified_sample",
    f"""
    WITH kept AS (
      SELECT lang, n_chars FROM documents
      WHERE {_bucket_oracle()} <
            CASE lang {' '.join(f"WHEN '{lang}' THEN {int(round(rate * _NUM_BUCKETS))}" for lang, rate in _MIXTURE_RATES.items())} ELSE 0 END
    )
    SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM kept GROUP BY lang
    """,
)
def mixture_stratified_sample(spark, sf_dir):
    """Training-mixture construction: per-language keep rates applied as
    deterministic hash sampling, then the mixture census."""
    from pyspark.sql import functions as F

    from hyperspace_spark.llm import sampling

    kept = sampling.stratified_sample(
        _t(spark, sf_dir, "documents"), "doc_id", "lang", _MIXTURE_RATES
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


@q(
    "quality_weighted_sample",
    f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {_bucket_oracle()} <
          CAST(floor(least(greatest(n_chars / 200.0, 0.0), 1.0)
                     * 0.5 * {_NUM_BUCKETS}) AS BIGINT)
    """,
)
def quality_weighted_sample(spark, sf_dir):
    """Quality-weighted deterministic sampling (llm/sampling.py
    weighted_sample): keep probability = 0.5 x a length-based quality
    weight (clamped n_chars/200 — long-enough docs keep at the full
    rate, fragments proportionally less).  Pure Filter over the scan,
    reproducible across engines; the DuckDB oracle replays the same
    md5-bucket threshold bit-for-bit."""
    from pyspark.sql import functions as F

    from hyperspace_spark.llm import sampling

    docs = _t(spark, sf_dir, "documents").withColumn(
        "_w", F.col("n_chars") / F.lit(200.0)
    )
    return sampling.weighted_sample(docs, "doc_id", "_w", 0.5).select(
        "doc_id", "lang", "source", "n_chars"
    )


@q(
    "quantile_estimate_prices",
    """
    WITH s AS (
      SELECT o_totalprice AS v FROM orders
      WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '10'
        AND o_totalprice IS NOT NULL
    ),
    r AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS rn,
                 count(*) OVER () AS n
          FROM s)
    SELECT p AS prob, v AS value
    FROM (VALUES (0.25), (0.5), (0.9), (0.99)) probs(p)
    JOIN r ON rn = CAST(floor(p * (n - 1)) AS BIGINT)
    """,
)
def quantile_estimate_prices(spark, sf_dir):
    """Deterministic sampled quantiles (relational.py quantile_estimate):
    order-price p25/p50/p90/p99 from an md5-threshold row sample
    (p = 1/16) — the cross-engine-reproducible percentile_approx
    (Spark's own sketch state no other engine replays; this sample is a
    pure function of the rows, so DuckDB derives the identical
    estimate).  The hash filter runs at the scan; only the sample
    sorts."""
    from hyperspace_spark.relational import quantile_estimate

    return quantile_estimate(
        _t(spark, sf_dir, "orders"),
        "o_totalprice",
        [0.25, 0.5, 0.9, 0.99],
        key_cols=["o_orderkey"],
    )


@q(
    "corpus_shard_assign",
    """
    WITH ranked AS (
      SELECT n_chars,
             CAST((row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1)
                  % 16 AS BIGINT) AS shard
      FROM documents
    )
    SELECT shard, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM ranked GROUP BY shard
    """,
)
def corpus_shard_assign(spark, sf_dir):
    """Deterministic training-shard assignment (llm/sampling.py
    shard_assign): rows rank by md5(doc_id) — a reproducible global
    shuffle — and stripe round-robin over 16 shards, so shard sizes
    balance to ±1 row.  The global rank is computed WITHOUT a
    single-partition window: range-repartition on the hash, per-
    partition counts (tiny agg), cumulative offsets added in one
    Arrow-batched mapInPandas — every stage corpus-parallel at 100 TB.
    The oracle replays the same rank with one window function (fine at
    oracle scale; the operator exists because that window doesn't
    distribute)."""
    from pyspark.sql import functions as F

    from hyperspace_spark.llm import sampling

    sharded = sampling.shard_assign(
        _t(spark, sf_dir, "documents"), "doc_id", num_shards=16
    )
    return sharded.groupBy(F.col("shard").cast("long").alias("shard")).agg(
        F.count("*").alias("docs"), F.sum("n_chars").alias("chars")
    )


@q(
    "ngram_topk_by_lang",
    r"""
    WITH t AS (
      SELECT lang, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents WHERE text IS NOT NULL
    ),
    g AS (
      SELECT lang,
             unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i+1])) AS gram
      FROM t WHERE len(w) >= 2
    ),
    c AS (
      SELECT lang, gram, count(*) AS cnt,
             row_number() OVER (PARTITION BY lang
                                ORDER BY count(*) DESC, gram) AS rn
      FROM g GROUP BY lang, gram
    )
    SELECT lang, gram, cnt, rn FROM c WHERE rn <= 5
    """,
)
def ngram_topk_by_lang(spark, sf_dir):
    """Top-5 bigrams per language (llm/text.py top_ngrams): the corpus
    diagnostic run before boilerplate stripping — a gram topping every
    language is template text.  One map-side-combined groupBy over the
    exploded grams; the top-k window sees per-group aggregates only."""
    from hyperspace_spark.llm import text as t

    return t.top_ngrams(_t(spark, sf_dir, "documents"), n=2, k=5, by="lang")


@q(
    "cross_source_overlap",
    r"""
    WITH shingled AS (
      SELECT source,
        CASE WHEN len(t) < 8 THEN array_to_string(t, ' ')
             ELSE array_to_string(t[i:i+7], ' ') END AS shingle
      FROM (
        SELECT source, t, unnest(range(1, greatest(len(t)-6, 2))) AS i
        FROM (SELECT source,
                     regexp_split_to_array(trim(lower(text)), '\s+') AS t
              FROM documents WHERE text IS NOT NULL)
      )
      GROUP BY ALL
    )
    SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
    FROM shingled a JOIN shingled b
      ON a.shingle = b.shingle AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def cross_source_overlap_query(spark, sf_dir):
    """Pairwise source-contamination matrix (llm/dedup.py
    cross_source_overlap): distinct 8-gram shingles shared per source
    pair.  The Spark plan expands pairs IN-ROW from a per-shingle
    source set (bounded by the source count) — the oracle's self-join
    states the same semantics the O(sources^2)-safe way DuckDB likes."""
    from hyperspace_spark.llm import dedup

    return dedup.cross_source_overlap(_t(spark, sf_dir, "documents"), n=8)


@q(
    "split_train_val_test",
    f"""
    SELECT CASE WHEN {_bucket_oracle()} < {_SPLIT_VAL_HI} THEN 'val'
                WHEN {_bucket_oracle()} < {_SPLIT_TEST_HI} THEN 'test'
                ELSE 'train' END AS split,
           count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
)
def split_train_val_test(spark, sf_dir):
    """Deterministic content-keyed train/val/test split census: a row's
    split is a pure function of its id, so it survives repartitioning and
    incremental appends (no train/val leakage)."""
    from pyspark.sql import functions as F

    from hyperspace_spark.llm import sampling

    split = sampling.train_val_test_split(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        val_fraction=_SPLIT_VAL_FRACTION,
        test_fraction=_SPLIT_TEST_FRACTION,
    )
    return split.groupBy("split").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


@q(
    "source_token_quota",
    """
    WITH c AS (
      SELECT doc_id, source, n_chars,
             CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                  AS BIGINT) AS nt,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ), o AS (
      SELECT doc_id, source, n_chars, nt,
             sum(nt) OVER (PARTITION BY source ORDER BY h, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - nt AS off
      FROM c
    )
    SELECT doc_id, source, n_chars FROM o WHERE off < 800
    """,
)
def source_token_quota_query(spark, sf_dir):
    """Token-budget mixture cap (llm/sampling.py token_quota_per_source):
    each source contributes at most 800 tokens, chosen in deterministic
    md5 order — the volume-based counterpart of per-row rate sampling.
    One window cumsum per source; the oracle replays the identical
    order + cumsum in SQL."""
    from hyperspace_spark.llm.sampling import token_quota_per_source

    _conf(spark)
    return token_quota_per_source(
        _t(spark, sf_dir, "documents"), quota_tokens=800
    ).select("doc_id", "source", "n_chars")


@q(
    "json_props_extract",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def json_props_extract_query(spark, sf_dir):
    """Semi-structured surface: extract a typed field from the events
    JSON props column (Spark get_json_object — JVM-side JsonPath, no
    UDF) and aggregate per event type; DuckDB replays with
    json_extract_string.  At scale this is a scan + partial agg — the
    JSON parse stays inside whole-stage codegen."""
    from pyspark.sql import functions as F

    _conf(spark)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.max(k).alias("max_k"),
        )
    )


@q(
    "rollup_agg",
    """
    SELECT l_returnflag, l_linestatus, round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS cnt
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_agg(spark, sf_dir):
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count("*").alias("cnt"),
        )
    )


@q(
    "exists_subquery",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
    """,
)
def exists_subquery(spark, sf_dir):
    _conf(spark)
    for t in ("orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"w_{t}")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM w_orders
        WHERE EXISTS (SELECT 1 FROM w_lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        """
    )


@q(
    "recursive_month_series",
    """
    WITH RECURSIVE months(m) AS (
      SELECT DATE '1996-01-01'
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
      WHERE m < DATE '1996-12-01'
    )
    SELECT m AS month_start,
           count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total_price
    FROM months
    LEFT JOIN orders ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
    GROUP BY m
    """,
)
def recursive_month_series(spark, sf_dir):
    """Recursive CTE surface (Spark 4 WITH RECURSIVE): generate the 1996
    month ladder recursively, then aggregate orders per month through an
    equi-join on the truncated date (broadcastable 12-row side).  DuckDB
    replays the identical recursion."""
    _conf(spark)
    _t(spark, sf_dir, "orders").createOrReplaceTempView("w_orders")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1996-01-01'
          UNION ALL
          SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
          WHERE m < DATE '1996-12-01'
        )
        SELECT m AS month_start,
               count(o_orderkey) AS n_orders,
               round(coalesce(sum(o_totalprice), 0), 2) AS total_price
        FROM months
        LEFT JOIN w_orders ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
        GROUP BY m
        """
    )


@q(
    "percentile_stats",
    """
    SELECT event_type,
           count(*) AS n_events,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99,
           round(stddev_samp(value), 4) AS sd
    FROM events GROUP BY event_type
    """,
)
def percentile_stats(spark, sf_dir):
    """EXACT interpolated percentiles per group (Spark `percentile`, the
    non-approx aggregate — both engines use linear interpolation over
    the sorted values, so results are bit-comparable after rounding).
    The 100 TB path is `approx_percentile` (t-digest, non-oracle-able by
    construction); this query verifies the exact surface."""
    from pyspark.sql import functions as F

    _conf(spark)
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
            F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
            F.round(F.stddev_samp("value"), 4).alias("sd"),
        )
    )


@q(
    "union_distinct",
    """
    SELECT DISTINCT o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      UNION ALL
      SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
    )
    """,
)
def union_distinct(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter("o_orderpriority = '1-URGENT'").select("o_custkey")
    b = o.filter("o_orderpriority = '2-HIGH'").select("o_custkey")
    return a.union(b).distinct()


@q(
    "pivot_linestatus",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_linestatus(spark, sf_dir):
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


@q(
    "window_tumbling_events",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS window_start,
           count(*) AS n, round(sum(value), 2) AS sv
    FROM events GROUP BY 1
    """,
)
def window_tumbling_events(spark, sf_dir):
    """F.window — the Structured Streaming tumbling-window operator (also
    defined on batch frames); hour windows are epoch-aligned, so the
    oracle's date_trunc is exactly equivalent."""
    from pyspark.sql import functions as F

    _conf(spark)
    ev = _t(spark, sf_dir, "events").withColumn("ts2", F.col("ts"))
    return (
        ev.groupBy(F.window("ts2", "1 hour"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:00").alias("window_start"),
            "n",
            "sv",
        )
    )


@q(
    "window_sliding_events",
    """
    SELECT strftime(ws, '%Y-%m-%d %H:00') AS window_start,
           count(*) AS n, round(sum(value), 2) AS sv
    FROM (
      SELECT date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS ws, value
      FROM events, (SELECT unnest([0, 1]) AS k)
    )
    GROUP BY 1
    """,
)
def window_sliding_events(spark, sf_dir):
    """Sliding (hopping) windows — 2-hour windows every 1 hour, so each
    event belongs to exactly two epoch-aligned windows; the oracle
    replicates membership by fanning each event to window starts
    trunc(ts) and trunc(ts)-1h.  Completes the window family next to
    tumbling (window_tumbling_events) and session (session_window_events)."""
    from pyspark.sql import functions as F

    _conf(spark)
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:00").alias("window_start"),
            "n",
            "sv",
        )
    )


_STREAM_SEQ = {"n": 0}


@q(
    "streaming_tumbling_rollup",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS window_start,
           count(*) AS n, round(sum(value), 2) AS sv
    FROM events GROUP BY 1
    """,
)
def streaming_tumbling_rollup(spark, sf_dir):
    """The same hourly rollup as window_tumbling_events, but executed as
    an actual Structured Streaming query: file-source readStream ->
    watermarked tumbling-window aggregation -> memory sink, run to
    completion with Trigger.AvailableNow.  complete output mode emits
    every window, so the result is deterministic and the batch oracle
    applies verbatim.  Exercises the real micro-batch engine + state
    store, not just the batch expression of F.window."""
    from pyspark.sql import functions as F

    _conf(spark)
    schema = _t(spark, sf_dir, "events").schema
    _STREAM_SEQ["n"] += 1
    qn = f"w_stream_rollup_{_STREAM_SEQ['n']}"
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # Watermarks require TIMESTAMP (tz-aware); the session runs in UTC so
    # the cast from TIMESTAMP_NTZ preserves wall-clock values.
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:00").alias("window_start"),
            "n",
            "sv",
        )
    )
    # State layout derived from input bytes (streaming/state.py): AQE
    # can't coalesce stateful exchanges, so without this the window agg
    # would commit one near-empty state store per session shuffle
    # partition per micro-batch (r14, guide §2 scale-adaptive rule).
    from hyperspace_spark.streaming.state import scaled_state_partitions

    with scaled_state_partitions(spark, f"{sf_dir}/events.parquet"):
        q_handle = (
            agg.writeStream.format("memory")
            .queryName(qn)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q_handle.awaitTermination()
    return spark.table(qn)


@q(
    "resample_gapfill_daily",
    """
    WITH b AS (
      SELECT user_id, date_trunc('day', ts) AS bucket,
             sum(value) AS v, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    rng AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS bucket
      FROM rng
    ),
    j AS (
      SELECT g.user_id, g.bucket, b.v, coalesce(b.n, 0) AS n
      FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket
    )
    SELECT user_id, strftime(bucket, '%Y-%m-%d') AS day, n,
           round(last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS v_filled
    FROM j
    """,
)
def resample_gapfill_daily(spark, sf_dir):
    """Per-user daily time series with gap filling (relational.py
    resample_gapfill): every day from a user's first to last event,
    empty days carry count 0 and the last observed daily value forward
    (locf — the TimescaleDB time_bucket_gapfill shape Spark lacks).
    The grid explodes from sequence() executor-side; every
    post-aggregate stage is grid-scale, not event-scale."""
    from pyspark.sql import functions as F

    from hyperspace_spark.relational import resample_gapfill

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = resample_gapfill(
        ev, key_col="user_id", ts_col="ts", interval="1 day", agg_col="value",
        how="locf",
    )
    return out.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "n",
        F.round("value", 2).alias("v_filled"),
    )


@q(
    "streaming_interval_join",
    """
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 4 HOUR
    """,
)
def streaming_interval_join(spark, sf_dir):
    """STREAM-STREAM interval join on the real micro-batch engine
    (streaming/join.py interval_join_streams): view events joined to
    purchase events of the same user landing within 4 hours after
    the view, both sides watermarked (the watermark bounds join state;
    with availableNow everything arrives in one batch, so the emitted
    pair set equals the batch interval join — the oracle).  Append-mode
    memory sink: an inner stream-stream join emits pairs as both sides
    arrive, deterministically as a SET."""
    from pyspark.sql import functions as F

    from hyperspace_spark.streaming.join import interval_join_streams

    _conf(spark)
    schema = _t(spark, sf_dir, "events").schema
    _STREAM_SEQ["n"] += 1
    qn = f"w_stream_ivjoin_{_STREAM_SEQ['n']}"
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    views = stream.filter("event_type = 'view'").select("event_id", "ts", "user_id")
    buys = stream.filter("event_type = 'purchase'").select("event_id", "ts", "user_id")
    joined = interval_join_streams(
        views, buys, key="user_id", window="4 hours", watermark="8 hours"
    )
    out = joined.select(
        F.col("l_event_id").alias("view_id"),
        F.col("r_event_id").alias("purchase_id"),
        F.col("l_user_id").alias("user_id"),
    )
    # scale-adaptive state layout — see streaming_tumbling_rollup; the
    # interval join keeps FOUR state stores per partition, so a tiny
    # stream over the session's batch-sized partition count is pure
    # store-commit overhead.
    from hyperspace_spark.streaming.state import scaled_state_partitions

    with scaled_state_partitions(spark, f"{sf_dir}/events.parquet"):
        handle = (
            out.writeStream.format("memory")
            .queryName(qn)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        handle.awaitTermination()
    return spark.table(qn)


@q(
    "streaming_ingest_dedup",
    """
    SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
    FROM documents WHERE text IS NOT NULL
    """,
)
def streaming_ingest_dedup(spark, sf_dir):
    """Content-keyed ingest dedup run on the REAL micro-batch engine
    (streaming/dedup.py dedup_stream_by_content): file-source readStream
    over the docs_stream fixture — the corpus PLUS a replayed ~5% subset
    (re-crawl/retry shape), so the gate collapses real duplicates at
    every sf — -> whole-document fingerprint ->
    dropDuplicatesWithinWatermark -> append-mode memory sink (dedup
    emits first arrivals immediately; the watermark only bounds state).
    The output projects ONLY the fingerprint: which copy of a duplicate
    survives is engine order and not deterministic, but the surviving
    fingerprint SET is — the replayed subset collapses back out, leaving
    exactly SELECT DISTINCT over documents, which is the oracle."""
    from pyspark.sql import functions as F

    from hyperspace_spark.llm.text import fingerprint
    from hyperspace_spark.streaming.dedup import dedup_stream_by_content

    _conf(spark)
    ws = workspace(spark, sf_dir)
    schema = _t(spark, sf_dir, "documents").schema
    _STREAM_SEQ["n"] += 1
    qn = f"w_stream_ingest_dedup_{_STREAM_SEQ['n']}"
    stream = (
        spark.readStream.schema(schema)
        .parquet(ws.docs_stream)
        .withColumn("event_ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    )
    survivors = dedup_stream_by_content(
        stream, text_col="text", ts_col="event_ts", delay="10 minutes"
    )
    out = survivors.filter(F.col("text").isNotNull()).select(
        fingerprint(F.col("text")).alias("fp")
    )
    # scale-adaptive state layout — see streaming_tumbling_rollup.
    from hyperspace_spark.streaming.state import scaled_state_partitions

    with scaled_state_partitions(spark, ws.docs_stream):
        handle = (
            out.writeStream.format("memory")
            .queryName(qn)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        handle.awaitTermination()
    return spark.table(qn)


@q(
    "streaming_ledger_dedup",
    """
    SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
    FROM documents
    WHERE text IS NOT NULL
      AND md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) NOT IN (
        SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
        FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL)
    """,
)
def streaming_ledger_dedup(spark, sf_dir):
    """Ingest dedup with UNBOUNDED history on the real micro-batch engine
    (streaming/dedup.py dedup_stream_against_ledger): a fingerprint
    ledger primed with the even-doc_id half of the corpus, then the
    docs_stream fixture (corpus + ~5% replay) streamed against it — the
    even half and the replays are rejected by the LEDGER (zero streaming
    state for them), leaving exactly the odd half's distinct
    fingerprints, which is the oracle."""
    import tempfile

    from pyspark.sql import functions as F

    from hyperspace_spark.llm import dedup
    from hyperspace_spark.llm.text import fingerprint
    from hyperspace_spark.streaming.dedup import dedup_stream_against_ledger

    _conf(spark)
    ws = workspace(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="hs_sled_")
    docs = _t(spark, sf_dir, "documents")
    ledger_tbl = dedup.write_fingerprint_ledger(
        spark,
        dedup.corpus_fingerprints(docs.filter("doc_id % 2 = 0")),
        f"{work}/ledger",
        8,
    )
    schema = docs.schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(ws.docs_stream)
        .withColumn("event_ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    )
    # scale-adaptive state layout — see streaming_tumbling_rollup; the
    # foreachBatch ledger anti-join also plans under the derived count.
    from hyperspace_spark.streaming.state import scaled_state_partitions

    with scaled_state_partitions(spark, ws.docs_stream):
        handle = dedup_stream_against_ledger(
            stream, f"{work}/ledger", f"{work}/out", f"{work}/ckpt", num_buckets=8
        )
        handle.awaitTermination()
    # Materialize the (small) fingerprint set and remove the run dir —
    # bench times this query repeatedly, and leaked per-run copies of
    # half the corpus would both fill /tmp and skew warm-run timings.
    rows = (
        spark.read.parquet(f"{work}/out")
        .filter(F.col("text").isNotNull())
        .select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .collect()
    )
    import shutil

    # Drop the catalog entry BEFORE deleting its location — bench times
    # this query repeatedly and dead external tables over vanished paths
    # poison later catalog-wide operations.
    spark.sql(f"DROP TABLE IF EXISTS {ledger_tbl}")
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, "fp string")


@q(
    "streaming_stateful_sessionize",
    """
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts2, value FROM events
    ), m AS (
      SELECT user_id, ts2, value,
             CASE WHEN epoch(ts2) - epoch(lag(ts2) OVER (PARTITION BY user_id ORDER BY ts2))
                       <= 1800 THEN 0 ELSE 1 END AS brk
      FROM e
    ), s AS (
      SELECT user_id, ts2, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts2
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    ), g AS (
      SELECT user_id, sid, min(ts2) AS st, max(ts2) AS en,
             CAST(count(*) AS INT) AS n_events,
             round(sum(value), 2) AS total_value
      FROM s GROUP BY 1, 2
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY sid DESC) AS rn,
             (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) AS mx
      FROM g
    )
    SELECT user_id,
           strftime(st, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(en, '%Y-%m-%d %H:%M:%S') AS session_end,
           n_events, total_value
    FROM r
    WHERE rn > 1 OR epoch(en) + 1800 < epoch(mx) - 3600
    """,
)
def streaming_stateful_sessionize(spark, sf_dir):
    """The CUSTOM stateful streaming operator on the real micro-batch
    engine (streaming/sessionize.py — applyInPandasWithState with
    event-time timeouts), oracle-checked: gap-based sessions per user
    over a file-source stream of the events table.

    The emission set under Trigger.AvailableNow is fully deterministic
    and SQL-replayable: the single batch closes every session a later
    event superseded (gaps-and-islands, break when the gap EXCEEDS
    1800 s — `_advance`'s `<=` keeps the boundary event), and the
    trailing timeout batch closes each user's final session iff its end
    + gap is STRICTLY below the watermark (max event time − 2·gap) —
    Spark's event-time timeout eviction uses `timeoutTimestamp <
    watermark` (FlatMapGroupsWithStateExec), so the oracle's cutoff is
    `<`, not `<=`.  The oracle replays exactly that: all non-final
    islands, plus finals past the cutoff.  Session timestamps render in
    the UTC session zone; value sums round(2) to absorb accumulation-
    order ulps.  Verified against the engine at sf0.001 (944 sessions =
    931 superseded + 13 timeout-closed) before the oracle was
    written."""
    from pyspark.sql import functions as F

    from hyperspace_spark.streaming.sessionize import sessionize

    _conf(spark)
    schema = _t(spark, sf_dir, "events").schema
    _STREAM_SEQ["n"] += 1
    qn = f"w_stream_sessionize_{_STREAM_SEQ['n']}"
    # same single-file stream-read pattern as streaming_tumbling_rollup:
    # pathGlobFilter turns the sf_dir into a directory source containing
    # exactly events.parquet — no staging copy needed
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select(
            "user_id",
            F.col("ts").cast("timestamp").alias("event_ts"),
            "value",
        )
    )
    # NOT wrapped in scaled_state_partitions (r14): unlike the JVM
    # stateful operators, applyInPandasWithState's per-key work runs in
    # PYTHON, and the state partition count is also its parallelism —
    # sizing by input bytes serialized the whole session kernel into one
    # task (measured 4.5 s -> 15.2 s at 1 partition).  A Python-stateful
    # operator is compute-bound, not store-commit-bound: keep the
    # session's full shuffle parallelism.
    handle = (
        sessionize(stream, gap_seconds=1800)
        .writeStream.format("memory")
        .queryName(qn)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    handle.awaitTermination()
    return spark.table(qn).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        F.round("total_value", 2).alias("total_value"),
    )


@q(
    "session_window_events",
    """
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts2, value FROM events
    ), marked AS (
      SELECT user_id, ts2, value,
             CASE WHEN ts2 - lag(ts2) OVER (PARTITION BY user_id ORDER BY ts2)
                       < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_sess
      FROM e
    ), sess AS (
      SELECT user_id, ts2, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts2
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           strftime(min(ts2), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
)
def session_window_events(spark, sf_dir):
    """F.session_window: gap-based sessions per user (the batch face of
    the streaming session operator; the stateful custom variant lives in
    hyperspace_spark.streaming.sessionize).

    Oracle: classic gaps-and-islands — a session break is a STRICT ≥gap
    jump (Spark's session window is [start, last+gap), so an event at
    exactly prev+gap opens a new session); cumulative sum of breaks
    numbers the islands."""
    from pyspark.sql import functions as F

    _conf(spark)
    ev = _t(spark, sf_dir, "events").withColumn("ts2", F.col("ts"))
    return (
        ev.groupBy(F.session_window("ts2", "30 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("user_id"),
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Contract ordering: the driver's correctness run verifies the FIRST ~50
# queries() entries, so registration order is verification priority.
# Rotation policy (per round): (1) entries whose last green row is OLDEST
# lead, (2) new/changed entries next, (3) the always-on core (index
# acceleration + LLM pipeline — the headline claims), (4) entries verified
# LAST round ride that one-round-old evidence past the cap.  Every entry
# also has a live local gate (tests/test_entry_contract.py runs ALL of
# them every session).
# ---------------------------------------------------------------------------
_VERIFY_PRIORITY = [
    # --- r15 window (driver verifies the FIRST 50): (1) the two r14
    # behavior changes that missed the r14 oracle window
    # (streaming_stateful_sessionize, avro_roundtrip — VERDICT r14 #1/#2)
    # plus the queries whose PLANS or kernels THIS round changes
    # (ann_lsh_bucketed/semantic_dedup: broadcast-gate + hot-bucket-cap
    # rework; dedup_minhash_lsh: distinct-after-verify; pipeline_end_to_end:
    # localCheckpoint lineage cut); (2) the 42 entries whose last green
    # row is r12 — at the two-round evidence ceiling once CORRECTNESS_r15
    # lands (tests/test_evidence_rotation.py gates this); (3) 2 fills from
    # the r13-aged accelerated core.  r13/r14 greens ride outside the
    # window within the latest-2 ceiling.  Every entry is ALSO re-verified
    # each session by the local contract pytest (same DuckDB compare). ---
    "streaming_stateful_sessionize",
    "avro_roundtrip",
    "ann_lsh_bucketed",
    "semantic_dedup",
    "dedup_minhash_lsh",
    "pipeline_end_to_end",
    "anti_join_customers",
    "asof_join_events",
    "clean_corpus_census",
    "dedup_clusters",
    "dedup_embedding_cosine",
    "dedup_keep_canonical",
    "dedup_ngram_jaccard",
    "dedup_paragraph",
    "delta_time_travel_index",
    "distinct_count_sketch",
    "hybrid_join_append",
    "hybrid_scan_append",
    "iceberg_time_travel_index",
    "json_props_extract",
    "lang_quality",
    "multimodal_features",
    "percentile_stats",
    "q10_returned_revenue",
    "q13_customer_distribution",
    "q14_promo_effect",
    "q15_top_supplier",
    "q16_supplier_cnt",
    "q17_small_quantity_revenue",
    "q19_discounted_revenue",
    "q21_waiting_supplier",
    "q22_dormant_customers",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_region_revenue",
    "q6_revenue_change",
    "q7_nation_volume",
    "q8_market_share",
    "q9_product_profit",
    "recursive_month_series",
    "repetition_stats",
    "salted_join_orders",
    "scalar_functions",
    "sequence_packing",
    "source_token_quota",
    "udtf_chunk_text",
    "unigram_logprob",
    "window_lag_lead",
    "covering_filter_point",
    "join_cobucketed",
    # --- past the cap (r13 evidence — at the ceiling, rotate r16) ---
    "dataskipping_valuelist",
    "dataskipping_minmax",
    "dataskipping_inset",
    "opaque_union_accel",
    "boilerplate_line_removal",
    "multimodal_decode_real",
    "covering_filter_or",
    "covering_filter_partial",
    "corpus_shard_assign",
    "resample_gapfill_daily",
    "text_search_boolean",
    "quantile_estimate_prices",
    "text_search_inverted",
    "metadata_only_agg",
    "metadata_group_agg",
    "metadata_count_distinct",
    "metadata_filtered_agg",
    "dedup_incremental",
    "dsir_importance_en",
    "window_latest_lineitem",
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q12_priority_shipping",
    "q20_excess_stock",
    "session_window_events",
    "exists_or_channels",
    "selfjoin_moving_window",
    "window_tumbling_events",
    "window_sliding_events",
    "window_top_orders",
    "pivot_linestatus",
    "unpivot_measures",
    "rollup_agg",
    "cube_returnflag_status",
    "grouping_sets_agg",
    "exists_subquery",
    "union_distinct",
    "setop_intersect",
    "setop_except_all",
    "salted_skew_agg",
    # --- r14 evidence (one round old) ---
    "events_hourly_rollup",
    "mixture_stratified_sample",
    "split_train_val_test",
    "sample_hash_deterministic",
    "contamination_check",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "pii_detect",
    "multimodal_meta",
    "multimodal_resize",
    "dataskipping_bloom",
    "nested_filter_index",
    "ann_knn_join_brute",
    "tpcds_q48_or_shape",
    "rollup_join_cobucketed",
    "selfjoin_agg_cobucketed",
    "text_search_ranked",
    "text_search_phrase",
    "quality_weighted_sample",
    "ngram_topk_by_lang",
    "cross_source_overlap",
    "ann_pq_topk",
    "funnel_view_click_purchase",
    "retention_weekly_cohorts",
    "zorder_filter_2d",
    "dedup_repeated_spans",
    "range_join_buckets",
    "zorder_range_agg",
    "streaming_ingest_dedup",
    "text_stats",
    "covering_filter_agg",
    "delta_filter_index",
    "iceberg_filter_index",
    "ann_filtered_topk",
    "ann_knn_join",
    "streaming_tumbling_rollup",
    "streaming_interval_join",
    "streaming_ledger_dedup",
    "q1_pricing_summary",
    "q18_large_volume_customer",
    "exists_band_semijoin",
    "not_exists_band_antijoin",
    "exists_sibling_order_semijoin",
    "exists_distinct_order_semijoin",
    "dedup_exact",
]


def _apply_verify_priority() -> None:
    ordered = {n: QUERIES[n] for n in _VERIFY_PRIORITY if n in QUERIES}
    ordered.update({n: f for n, f in QUERIES.items() if n not in ordered})
    QUERIES.clear()
    QUERIES.update(ordered)
    o_ordered = {n: ORACLES[n] for n in QUERIES if n in ORACLES}
    ORACLES.clear()
    ORACLES.update(o_ordered)


_apply_verify_priority()
