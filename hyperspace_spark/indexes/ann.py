"""IVF (inverted-file) ANN index as a PERSISTED derived dataset.

Extension beyond the reference (which has no vector type): the same
metadata-log lifecycle as every other index — create / refresh / delete /
restore / vacuum, optimistic concurrency, signature-based staleness —
applied to an approximate-nearest-neighbor structure:

- build: KMeans coarse quantizer over the (unit-normalized) embedding
  column; rows are written PARTITIONED BY cluster id, so a probe reads
  only `n_probe` directories — classic IVF, expressed as Spark partition
  pruning.  Centroids live in the log entry (metadata-scale: k × dim).
- query: `Hyperspace.ann_search(name, query_ids, k, n_probe)` picks each
  query's nearest centroids DRIVER-side from the logged centroids (k×dim
  numpy — microseconds), then scans only those cluster partitions and
  scores with the JVM-side dot product.

At 100 TB: the scan cost per query batch is `n_probe/k` of the corpus,
the shuffle is one top-k window over the probed slice, and maintenance
follows the standard IVF split (FAISS/Milvus practice): APPEND-ONLY
deltas refresh incrementally by assigning new vectors to the FROZEN
centroids and writing only their rows (existing cluster files hardlink
into the new version — zero rewrite of indexed data), while deletes or
appends beyond `spark.hyperspace.index.ann.maxAssignOnlyRatio` of the
corpus force a full refit — assignment against a badly drifted
quantizer degrades recall silently, which is worse than paying for the
rebuild.  The round-1 `ivf_topk` recomputed KMeans per query, which is
exactly what a persisted index exists to avoid.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from hyperspace_spark.indexes.base import read_index

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


@dataclass
class IvfIndexConfig:
    """``pq_m`` > 0 switches the index to IVF-PQ: rows store an m-byte
    product-quantization code instead of the full vector (dim must be
    divisible by m), cutting index bytes ~dim*4/m — the standard
    billion-vector layout (FAISS IVF,PQm).  Search scores codes with
    asymmetric distance (per-query lookup tables) and re-ranks the
    candidate pool EXACTLY against the source vectors, so the quality
    knobs stay (n_probe, refine pool size).  pq_m=None (default) keeps
    the exact IVF-Flat layout."""

    name: str
    vec_col: str = "embedding"
    id_col: str = "vec_id"
    n_clusters: int = 16
    pq_m: int | None = None
    kind: str = field(default="ANN", init=False)

    def referenced_columns(self) -> list[str]:
        return [self.id_col, self.vec_col]


PQ_K = 256  # codebook size per subspace: one uint8 code byte
_PQ_TRAIN_SAMPLE = 100_000  # codebooks train on a driver-side sample (FAISS practice)
# PQ refine: candidate ids push down as an IN literal only while the pool
# is small (IN reaches parquet row-group pruning); past this many DISTINCT
# ids the literal list is a plan-size/analysis hazard (10^4-query batches
# would inline k*refine*queries ids), so the refine switches to a
# broadcast LEFT SEMI join on vec_id — bounded plan, one broadcast of the
# id set, at the cost of losing row-group pushdown on the source scan.
REFINE_IN_MAX = 1024


def _train_codebooks(mat, m: int, seed: int = 42, iters: int = 20):
    """Per-subspace Lloyd k-means on a sample matrix (n, dim) -> list of
    m codebooks, each (k, dim/m).  Driver-side numpy: codebooks are
    metadata (m x 256 x dsub floats), training input is a bounded
    sample, and one vectorized Lloyd loop beats m Spark KMeans jobs at
    any scale."""
    import numpy as np

    n, dim = mat.shape
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        k = min(PQ_K, n)
        cents = sub[rng.choice(n, size=k, replace=False)].copy()
        for _ in range(iters):
            # (n, k) distances via ||x||^2 - 2x.c + ||c||^2; argmin rows
            d = (
                (sub * sub).sum(1)[:, None]
                - 2.0 * sub @ cents.T
                + (cents * cents).sum(1)[None, :]
            )
            assign = d.argmin(1)
            for c in range(k):
                pts = sub[assign == c]
                if len(pts):
                    cents[c] = pts.mean(0)
        if k < PQ_K:  # pad so codes are always one full byte of range
            cents = np.vstack([cents, np.repeat(cents[:1], PQ_K - k, axis=0)])
        books.append(cents)
    return books


def _encode_udf(codebooks):
    """unit_vec -> m uint8 codes (stored as array<int> for parquet
    friendliness).  Arrow-batched; one (batch x k) matmul per subspace."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    dsub = books[0].shape[1]

    @F.pandas_udf("array<int>", F.PandasUDFType.SCALAR)
    def _encode(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        codes = np.empty((mat.shape[0], m), dtype=np.int64)
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            cb = books[j]
            d = (
                (sub * sub).sum(1)[:, None]
                - 2.0 * sub @ cb.T
                + (cb * cb).sum(1)[None, :]
            )
            codes[:, j] = d.argmin(1)
        return pd.Series(list(codes.astype("int32")))

    return _encode


def create_index_data(
    spark: "SparkSession",
    df: "DataFrame",
    config: IvfIndexConfig,
    conf,
    files,
    tracker,
    data_dir: str,
    name: str,
    version: int,
) -> dict:
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from hyperspace_spark.config import DATA_FILE_ID_COLUMN
    from hyperspace_spark.llm.similarity import unit_expr

    # Lineage (source-file id per row) is what lets DELETES drop rows
    # from specific index files with the quantizer FROZEN — the same
    # discipline as covering/skipping deletes (DataSkippingIndex.scala:
    # 90-103); without it a delete forces a full KMeans refit.
    lineage = bool(getattr(conf, "lineage_enabled", True))
    carry = [F.col(DATA_FILE_ID_COLUMN)] if lineage else []
    src = df
    if lineage:
        from hyperspace_spark.indexes.covering import with_lineage

        src = with_lineage(df, spark, files, tracker)
    feat = src.select(
        F.col(config.id_col).alias("vec_id"),
        unit_expr(F.col(config.vec_col).cast("array<double>")).alias("unit_vec"),
        *carry,
    ).withColumn("features", array_to_vector(F.col("unit_vec")))
    km = KMeans(k=config.n_clusters, seed=42, maxIter=20).fit(feat)
    assigned = km.transform(feat).select(
        "vec_id", "unit_vec", *carry, F.col("prediction").alias("cluster")
    )
    props = {
        "vecCol": config.vec_col,
        "idCol": config.id_col,
        "nClusters": config.n_clusters,
        "lineage": lineage,
        "centroids": [list(map(float, c)) for c in km.clusterCenters()],
    }
    if config.pq_m:
        import numpy as np

        m = int(config.pq_m)
        sample = [
            r[0]
            for r in assigned.select("unit_vec").limit(_PQ_TRAIN_SAMPLE).collect()
        ]
        if not sample:
            raise ValueError("cannot train PQ codebooks on an empty input")
        dim = len(sample[0])
        if dim % m != 0:
            raise ValueError(f"pq_m={m} must divide the vector dim {dim}")
        books = _train_codebooks(np.stack(sample), m)
        assigned = assigned.select(
            "vec_id",
            _encode_udf(books)(F.col("unit_vec")).alias("codes"),
            *carry,
            "cluster",
        )
        props["pqM"] = m
        props["codebooks"] = [
            [[float(x) for x in row] for row in b] for b in books
        ]
    # One directory per centroid: a probe's IO is its clusters only.
    assigned.write.partitionBy("cluster").mode("overwrite").parquet(data_dir)
    props["schemaJson"] = assigned.schema.json()
    return props


def assign_to_centroids(
    df: "DataFrame", centroids: list[list[float]], id_col: str, vec_col: str
) -> "DataFrame":
    """(vec_id, unit_vec, cluster) for new rows against FROZEN centroids —
    the assign-only half of IVF incremental refresh.  One Arrow-batched
    numpy matmul per batch (k x dim is metadata-scale, shipped as a
    closure constant, no broadcast variable churn); nearest centroid by
    dot product over unit vectors = same objective KMeans assigned with
    at build time (its centers are refit means, so argmin euclidean —
    ties broken identically via argmax of the dot on unit vectors)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from hyperspace_spark.llm.similarity import unit_expr

    cents = np.asarray(centroids, dtype=np.float64)  # (k, dim)

    @F.pandas_udf("int", F.PandasUDFType.SCALAR)
    def _nearest(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])  # (n, dim)
        # unit vectors: argmin ||v - c||^2 == argmax(v.c - ||c||^2/2)
        scores = m @ cents.T - 0.5 * (cents * cents).sum(axis=1)
        return pd.Series(np.argmax(scores, axis=1).astype(np.int32))

    from hyperspace_spark.config import DATA_FILE_ID_COLUMN

    # Lineage rides along when the caller attached it (with_lineage on
    # the appended files) so delete-refresh keeps working after appends.
    carry = [F.col(DATA_FILE_ID_COLUMN)] if DATA_FILE_ID_COLUMN in df.columns else []
    feat = df.select(
        F.col(id_col).alias("vec_id"),
        unit_expr(F.col(vec_col).cast("array<double>")).alias("unit_vec"),
        *carry,
    )
    return feat.withColumn("cluster", _nearest(F.col("unit_vec")))


def partial_recluster(
    spark: "SparkSession",
    entry,
    new_df: "DataFrame",
    data_dir: str,
    oversize_factor: float = 2.0,
) -> tuple[list[list[float]], list[int]]:
    """Split-only partial re-clustering of a drifted IVF quantizer — the
    per-bucket OPTIMIZE discipline (reference OptimizeAction.scala:96-114,
    which rewrites only the buckets holding small files) applied to
    centroid maintenance: only clusters whose row count (existing + newly
    assigned) exceeds ``oversize_factor`` x the per-cluster average are
    re-KMeans'd, and ONLY their rows are rewritten; every other cluster's
    rows are written/hardlinked unchanged, so rewrite bytes are bounded
    by the drifted fraction of the corpus, not its size.

    Cluster-id discipline: a split cluster keeps its id for sub-cluster 0
    and appends fresh ids for the rest, so untouched ``cluster=N``
    directories keep their meaning (they are hardlinked by path).  The
    quantizer only ever REFINES under this path — k grows, cells shrink —
    and a later full refresh re-balances k back to nClusters.

    Returns ``(new_centroids, split_cluster_ids)``.  Writes the NEW and
    re-clustered rows under ``data_dir``; the caller hardlinks the
    untouched clusters' old files in and updates the log entry.
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    props = entry.derived_properties
    centroids = [list(map(float, c)) for c in props["centroids"]]
    old = read_index(spark, entry)
    assigned_new = assign_to_centroids(
        new_df, centroids, props["idCol"], props["vecCol"]
    ).persist()

    old_counts = {
        r["cluster"]: r["cnt"]
        for r in old.groupBy("cluster").agg(F.count("*").alias("cnt")).collect()
    }
    new_counts = {
        r["cluster"]: r["cnt"]
        for r in assigned_new.groupBy("cluster").agg(F.count("*").alias("cnt")).collect()
    }
    k = len(centroids)
    total = sum(old_counts.values()) + sum(new_counts.values())
    target = max(1.0, total / max(1, k))
    combined = {
        c: old_counts.get(c, 0) + new_counts.get(c, 0)
        for c in set(old_counts) | set(new_counts)
    }
    split_ids = sorted(c for c, n in combined.items() if n > oversize_factor * target)

    # Rows of untouched clusters: only the NEW arrivals write (old files
    # hardlink through by the caller).
    (
        assigned_new.filter(~F.col("cluster").isin(split_ids))
        .write.partitionBy("cluster")
        .mode("overwrite")
        .parquet(data_dir)
    )

    from hyperspace_spark.config import DATA_FILE_ID_COLUMN

    lin = [DATA_FILE_ID_COLUMN] if DATA_FILE_ID_COLUMN in old.columns else []
    next_id = k
    for c in split_ids:
        rows = (
            old.filter(F.col("cluster") == c)
            .select("vec_id", "unit_vec", *lin)
            .unionByName(
                assigned_new.filter(F.col("cluster") == c).select(
                    "vec_id", "unit_vec", *lin
                )
            )
        )
        # Split back toward the per-cluster average; never below 2,
        # never above the cluster's own row count (tiny-cluster guard).
        n_sub = max(2, min(int(round(combined[c] / target)), combined[c]))
        feat = rows.withColumn("features", array_to_vector(F.col("unit_vec"))).persist()
        km = KMeans(k=n_sub, seed=42 + c, maxIter=20).fit(feat)
        ids = [c] + list(range(next_id, next_id + n_sub - 1))
        next_id += n_sub - 1
        id_map = F.array(*[F.lit(int(i)) for i in ids])
        (
            km.transform(feat)
            .select(
                "vec_id",
                "unit_vec",
                *lin,
                F.element_at(id_map, F.col("prediction") + 1).alias("cluster"),
            )
            .write.partitionBy("cluster")
            .mode("append")
            .parquet(data_dir)
        )
        feat.unpersist()
        centers = km.clusterCenters()
        centers = [
            np.asarray(cc, dtype=np.float64) for cc in centers
        ]
        centroids[c] = [float(x) for x in centers[0]]
        for cc in centers[1:]:
            centroids.append([float(x) for x in cc])
    assigned_new.unpersist()
    return centroids, split_ids


def drop_deleted_rows(
    spark: "SparkSession", entry, deleted_ids: list[int], data_dir: str
) -> list[str]:
    """Delete-refresh WITHOUT touching the quantizer: rewrite only the
    index files that contain rows of deleted source files, dropping
    those rows via the lineage anti-filter — centroids (and PQ
    codebooks) are frozen, so probe selection and scoring for every
    surviving vector are bit-identical to the pre-delete index; recall
    is untouched by construction.  The covering/skipping delete
    discipline (DataSkippingIndex.scala:90-103) applied to IVF.

    Affected-file detection and the URI->path normalization are the
    shared covering.py helpers (lineage_affected_files/uri_to_path).
    Surviving rows of ONLY those files are rewritten under ``data_dir``;
    returns the affected files' OLD paths so the caller's hardlink carry
    skips them — rewrite bytes are bounded by the files the deleted rows
    actually live in, not the index size.
    """
    from pyspark.sql import functions as F

    from hyperspace_spark.config import DATA_FILE_ID_COLUMN
    from hyperspace_spark.indexes.covering import lineage_affected_files

    ids = [int(i) for i in deleted_ids if i is not None]
    paths = lineage_affected_files(read_index(spark, entry), ids)
    if not paths:
        return []
    surviving = read_index(spark, entry, paths).filter(~F.col(DATA_FILE_ID_COLUMN).isin(ids))
    surviving.write.partitionBy("cluster").mode("append").parquet(data_dir)
    return paths


def encoded_rows(df: "DataFrame", props: dict) -> "DataFrame":
    """New vectors as the index stores them: assigned to the FROZEN
    centroids and, for PQ, encoded with the frozen codebooks, so old and
    new rows score identically at query time.  A lineage column on
    ``df`` rides along."""
    from pyspark.sql import functions as F

    from hyperspace_spark.config import DATA_FILE_ID_COLUMN

    rows = assign_to_centroids(df, props["centroids"], props["idCol"], props["vecCol"])
    if not props.get("pqM"):
        return rows
    lineage = [DATA_FILE_ID_COLUMN] if DATA_FILE_ID_COLUMN in rows.columns else []
    return rows.select(
        "vec_id",
        _encode_udf(props["codebooks"])(F.col("unit_vec")).alias("codes"),
        *lineage,
        "cluster",
    )


def refresh_incremental(
    spark: "SparkSession",
    entry,
    conf,
    live,
    appended,
    deleted_ids: list[int],
    data_dir: str,
    version: int,
    fs,
) -> dict:
    """Write the next IVF index version under ``data_dir``; returns the
    new derived properties.

    Assign-only increment (standard FAISS/Milvus append path): new
    vectors join the FROZEN quantizer's clusters, only their rows are
    written, existing cluster files hardlink through.  Drift escalation:
    appends beyond maxAssignOnlyRatio of the corpus PARTIALLY re-cluster
    — only clusters grown past reclusterOversizeFactor x the average are
    re-KMeans'd (split), the rest still hardlink (bounded rewrite bytes,
    OptimizeAction.scala's per-bucket discipline).  Appends beyond
    maxReclusterRatio force a full refit — a badly drifted quantizer
    degrades recall silently, which is worse than the rebuild.  Deletes
    never touch the quantizer: lineage-built indexes drop the deleted
    files' rows from exactly the index files holding them
    (drop_deleted_rows); only lineage-free (legacy) indexes, or a delete
    landing together with recluster-scale appends, pay the refit."""
    from hyperspace_spark.indexes.base import FallBackToFull, carry_index_files, growth_ratio

    props = entry.derived_properties
    app_ratio = growth_ratio(live, appended)
    if deleted_ids and not props.get("lineage"):
        raise FallBackToFull()
    if app_ratio > conf.ann_max_recluster_ratio:
        raise FallBackToFull()
    if deleted_ids and app_ratio > conf.ann_max_assign_only_ratio:
        # Splitting clusters while also dropping rows makes the
        # rewrite-bytes bound meaningless — full refit.
        raise FallBackToFull()
    if props.get("pqM") and app_ratio > conf.ann_max_assign_only_ratio:
        # PQ rows carry codes, not vectors: partial re-clustering would
        # need the originals back from the source (a corpus-scale read)
        # — the full refit is the honest cost at that drift level.
        raise FallBackToFull()
    skip_files: list[str] = []
    if deleted_ids:
        skip_files = drop_deleted_rows(spark, entry, deleted_ids, data_dir)
    if not appended:
        carry_index_files(fs, entry, data_dir, skip_files=skip_files)
        return props
    new_df = entry.relations[0].read(spark, appended)
    if props.get("lineage"):
        from hyperspace_spark.indexes.covering import with_lineage

        new_df = with_lineage(new_df, spark, appended, entry.file_id_tracker)
    if app_ratio > conf.ann_max_assign_only_ratio:
        new_centroids, split_ids = partial_recluster(
            spark, entry, new_df, data_dir, oversize_factor=conf.ann_recluster_oversize_factor
        )
        # nClusters stays the CONFIGURED target (actual k =
        # len(centroids)): a later full refresh re-balances the grown
        # quantizer back to the configured k.
        props["centroids"] = new_centroids
        # Split clusters were rewritten by partial_recluster.
        carry_index_files(
            fs, entry, data_dir, skip_subdirs=[f"cluster={c}" for c in split_ids]
        )
        return props
    # append: a delete-rewrite may already have written surviving rows
    # under this version dir.
    encoded_rows(new_df, props).write.partitionBy("cluster").mode("append").parquet(data_dir)
    carry_index_files(fs, entry, data_dir, skip_files=skip_files)
    return props


def _adc_udf(codebooks):
    """(query_vec, codes) -> approximate dot product via asymmetric
    distance computation: score = sum_j q_sub_j . codebook_j[code_j].
    Fully vectorized per Arrow batch (one gather + one elementwise
    product), no per-query lookup-table state."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    books = np.stack([np.asarray(b, dtype=np.float64) for b in codebooks])
    m, _k, dsub = books.shape

    @F.pandas_udf("double", F.PandasUDFType.SCALAR)
    def _adc(qvs, codes):
        if len(qvs) == 0:
            return pd.Series([], dtype="float64")
        q = np.stack([np.asarray(v, dtype=np.float64) for v in qvs])
        c = np.stack([np.asarray(v, dtype=np.int64) for v in codes])
        n = q.shape[0]
        gathered = np.stack(
            [books[j][c[:, j]] for j in range(m)], axis=1
        )  # (n, m, dsub)
        return pd.Series((q.reshape(n, m, dsub) * gathered).sum(axis=(1, 2)))

    return _adc


def ann_search(
    spark: "SparkSession",
    entry,
    query_vectors: dict[int, list[float]],
    exclude_self: bool = False,
    k: int = 10,
    n_probe: int = 4,
    source_df: "DataFrame | None" = None,
    refine_factor: int = 4,
    appended=None,
    deleted=None,
    allowed_df: "DataFrame | None" = None,
) -> "DataFrame":
    """(query_id, neighbor_id, cosine, rank) over the persisted IVF index.

    Vectors were unit-normalized at build, so cosine = dot product.

    IVF-PQ entries (``pqM`` in the log) score their m-byte codes with
    asymmetric distance, keep a pool of ``k x refine_factor`` candidates
    per query, and re-rank the pool EXACTLY against the source vectors
    (``source_df``) — the candidate ids are collected (tiny) and pushed
    down as an IN filter, so the refine read is row-group-pruned, never
    a corpus scan.  Without ``source_df`` the ADC score itself is
    returned (column still named cosine; it approximates the dot).

    HYBRID-exact on a stale index (r10, mirroring TXT's discipline):
    ``deleted`` source files' rows leave via the lineage anti-filter
    (quantizer frozen, surviving scores untouched); ``appended`` files'
    vectors assign to the FROZEN centroids (and encode with the frozen
    codebooks for PQ) on the fly — exactly what incremental refresh
    would persist — then flow through the same probe/score path, so the
    results equal a refreshed index's bit-for-bit.
    """
    import numpy as np
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from hyperspace_spark.config import DATA_FILE_ID_COLUMN
    from hyperspace_spark.llm.similarity import dot_expr, dot_kernel, unit_expr

    props = entry.derived_properties
    cents = np.array(props["centroids"], dtype=np.float64)
    cents = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    rows = []
    probe_clusters: set[int] = set()
    for qid, vec in query_vectors.items():
        v = np.asarray(vec, dtype=np.float64)
        v = v / max(float(np.linalg.norm(v)), 1e-12)
        order = np.argsort(-(cents @ v))[:n_probe]
        probe_clusters.update(int(c) for c in order)
        rows.append((int(qid), [float(x) for x in v], [int(c) for c in order]))
    qdf = spark.createDataFrame(rows, "qid long, qv array<double>, probes array<int>")

    idx = read_index(spark, entry)
    if deleted:
        if not props.get("lineage"):
            # Legacy lineage-free entry: exact delete compensation is
            # impossible, but hard-failing would break every search that
            # worked before r10 (including external query_vectors calls
            # that never cared about the deleted rows).  Serve the STALE
            # index — the pre-r10 behavior — and leave a breadcrumb; a
            # refresh (incremental falls back to full for these) cleans
            # it up properly.
            from hyperspace_spark.telemetry import HyperspaceEvent, emit

            emit(
                HyperspaceEvent(
                    kind="ann_stale_deletes",
                    index_name=entry.name,
                    detail=(
                        f"{len(deleted)} deleted source file(s) cannot be "
                        f"compensated (pre-lineage index); results may "
                        f"include their vectors until refresh"
                    ),
                )
            )
        else:
            tracker = entry.file_id_tracker
            ids = [tracker.get(f) for f in deleted]
            idx = idx.filter(
                ~F.col(DATA_FILE_ID_COLUMN).isin(
                    [i for i in ids if i is not None]
                )
            )
    payload = "codes" if props.get("pqM") else "unit_vec"
    idx = idx.select("vec_id", payload, "cluster")
    if appended:
        ap = encoded_rows(entry.relations[0].read(spark, appended), props).select(
            "vec_id", payload, "cluster"
        )
        # Checkpoint the on-the-fly assignment: the probe join references
        # `cluster` inside its condition, where a pandas-UDF-derived
        # column cannot be evaluated (Spark collapses the projection into
        # the join otherwise -> INTERNAL_ERROR "Cannot evaluate
        # expression: _nearest(...)").  The appended side is small by the
        # refresh-ratio discipline, and this also evaluates the UDFs once
        # instead of per downstream consumer.
        ap = ap.localCheckpoint(eager=False)
        idx = idx.unionByName(ap)
    # Partition pruning: only the probed cluster directories are read
    # (the appended on-the-fly rows filter to the same probe set).
    idx = idx.filter(F.col("cluster").isin(sorted(probe_clusters)))
    scored = idx.join(
        F.broadcast(qdf), F.array_contains(F.col("probes"), F.col("cluster"))
    )
    if exclude_self:
        # Only for query_ids lookups, where qid IS a corpus vec_id.  For
        # EXTERNAL query_vectors the caller's ids are an unrelated
        # namespace — filtering would silently drop the corpus vector
        # that happens to share the number (possibly the true nearest
        # neighbor).
        scored = scored.filter(F.col("vec_id") != F.col("qid"))
    if allowed_df is not None:
        # FILTERED ANN (r10, the Milvus/pgvector filtered-search shape):
        # restrict candidates to the allowed id set BEFORE ranking —
        # pre-filter semantics, so the result is the exact top-k among
        # allowed rows within the probed clusters (PQ pools and refine
        # also operate post-filter).  A selective filter thins each
        # probed cluster; raise n_probe to hold recall — at
        # n_probe = n_clusters the result is exact over the allowed set.
        allowed = allowed_df.select(
            F.col(allowed_df.columns[0]).alias("vec_id")
        )
        scored = scored.join(allowed, "vec_id", "left_semi")
    w = W.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))

    pq_m = props.get("pqM")
    if pq_m:
        adc = _adc_udf(props["codebooks"])
        pool_n = max(int(k) * max(int(refine_factor), 1), int(k))
        wa = W.partitionBy("qid").orderBy(F.col("_adc").desc(), F.col("vec_id"))
        pool = (
            scored.withColumn("_adc", adc(F.col("qv"), F.col("codes")))
            .withColumn("_r", F.row_number().over(wa))
            .filter(F.col("_r") <= pool_n)
            .select("qid", "qv", "vec_id", "_adc")
        )
        if source_df is None:
            approx = pool.withColumn("cosine", F.round(F.col("_adc"), 6))
            return (
                approx.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select(
                    F.col("qid").alias("query_id"),
                    F.col("vec_id").alias("neighbor_id"),
                    "cosine",
                    "rank",
                )
            )
        pool = pool.persist()
        ids = None
        try:
            from hyperspace_spark.telemetry import HyperspaceEvent, emit

            ids = pool.select("vec_id").distinct().persist()
            # ONE job decides the path AND doubles as the collected id
            # list when small (a separate count() would add a full job
            # to the dominant point-lookup shape); n_pool in the event
            # is exact when small, cap+1 (= "exceeded") when large.
            head = ids.take(REFINE_IN_MAX + 1)
            small = len(head) <= REFINE_IN_MAX
            emit(
                HyperspaceEvent(
                    kind="ann_refine",
                    index_name=entry.name,
                    detail=f"path={'in' if small else 'semi'} n_pool={len(head)}",
                )
            )
            if small:
                # Small pool (the point-lookup API shape): IN literal
                # pushes into parquet row-group pruning on the source.
                pool_ids = [r.vec_id for r in head]
                src = source_df.filter(F.col(props["idCol"]).isin(pool_ids))
            else:
                # Large query batch: bounded plan via broadcast semi-join
                # on the (persisted, counted) id frame — inlining 10^4+
                # literals explodes analysis time and plan size; the ids
                # never roundtrip through the driver on this path.
                src = source_df.join(
                    F.broadcast(ids.withColumnRenamed("vec_id", props["idCol"])),
                    props["idCol"],
                    "left_semi",
                )
            src = src.select(
                F.col(props["idCol"]).alias("vec_id"),
                unit_expr(F.col(props["vecCol"]).cast("array<double>")).alias(
                    "unit_vec"
                ),
            )
            # dot_expr (HOF), not dot_kernel: the refine pool is bounded
            # at k x refine_factor rows by construction, and a pandas_udf
            # stage costs a fixed Python round trip that only amortizes
            # on scan-proportional row counts (r14: kernel here measured
            # +0.3-0.8 s per query at sf0.1 for zero scale benefit).
            refined = (
                pool.join(src, "vec_id")
                .withColumn(
                    "cosine", F.round(dot_expr(F.col("qv"), F.col("unit_vec")), 6)
                )
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select(
                    F.col("qid").alias("query_id"),
                    F.col("vec_id").alias("neighbor_id"),
                    "cosine",
                    "rank",
                )
            )
            # Materialize before unpersisting the pool the plan hangs off.
            out = refined.localCheckpoint(eager=True)
        finally:
            pool.unpersist()
            if ids is not None:
                ids.unpersist()
        return out

    # Arrow-batched dot (r14): bit-identical to the dot_expr HOF form but
    # one vectorized kernel instead of per-element interpreted lambdas —
    # this is the hot projection of every cluster scan.
    scored = scored.withColumn(
        "cosine", F.round(dot_kernel()(F.col("qv"), F.col("unit_vec")), 6)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )


def ann_join(
    spark: "SparkSession",
    entry,
    queries_df: "DataFrame",
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "qid",
    vec_col: str = "qvec",
    exclude_self: bool = False,
    appended=None,
    deleted=None,
    allowed_df: "DataFrame | None" = None,
    source_df: "DataFrame | None" = None,
    refine_factor: int = 4,
) -> "DataFrame":
    """Distributed k-NN JOIN against the persisted IVF index: top-k
    cosine neighbors for EVERY row of ``queries_df`` — the bulk-retrieval
    shape (embed a corpus, retrieve for all of it at once).

    Unlike ``ann_search`` (a point-lookup API whose query dict lives on
    the driver), the query side stays a DataFrame end-to-end, and the
    scoring is the FAISS sharded-search shape: queries and index rows
    COGROUP by cluster id (no row-level query x vector join — the
    candidate blow-up that makes lambda-scored joins quadratic in
    practice), each cluster scores as ONE numpy matmul (queries-probing
    x cluster-vectors), and only per-cluster partial top-k rows leave
    the group — n_q x n_probe x k rows total, then a global window.
    Measured at 2M vectors the cogrouped matmul replaced a 500M-row
    lambda-dot join (scripts/scale_probe.py --vectors).

    Ranking follows the oracle convention: cosine ROUNDED to 6 digits,
    ties by neighbor id — near-tie float noise (summation order differs
    between BLAS and per-row lambdas) then cannot flip ranks.

    At all-probe the result is the exact kNN join; smaller probes trade
    recall exactly like ann_search.

    IVF-PQ entries (r10b): the cogroup kernel scores 8-byte codes with
    per-query ADC lookup tables (one einsum builds each query's (m,256)
    LUT, scoring a cluster is a gather+sum), partials pool to
    k x refine_factor candidates per query, and the pool re-ranks
    EXACTLY against the source vectors (``source_df``) via a broadcast
    semi-join — the bounded batch shape, never an id roundtrip through
    the driver.  Without ``source_df`` the ADC score returns as-is
    (approximate, column still named cosine).
    Returns (query_id, neighbor_id, cosine, rank).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from hyperspace_spark.config import DATA_FILE_ID_COLUMN

    props = entry.derived_properties
    pq_m = props.get("pqM")
    cents = np.asarray(props["centroids"], dtype=np.float64)
    cents = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    n_probe = max(1, min(int(n_probe), len(cents)))

    @F.pandas_udf("array<int>", F.PandasUDFType.SCALAR)
    def _probes(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        norms = np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        scores = (m / norms) @ cents.T
        order = np.argsort(-scores, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    q = queries_df.select(
        F.col(id_col).alias("_qid"),
        F.col(vec_col).cast("array<double>").alias("_qraw"),
    ).withColumn("_probe", F.explode(_probes(F.col("_qraw"))))
    qid_type = dict(q.dtypes)["_qid"]

    idx = read_index(spark, entry)
    if deleted:
        if not props.get("lineage"):
            raise ValueError("cannot compensate deletes on a lineage-free entry")
        tracker = entry.file_id_tracker
        dead = [tracker.get(f) for f in deleted]
        idx = idx.filter(
            ~F.col(DATA_FILE_ID_COLUMN).isin([i for i in dead if i is not None])
        )
    payload = "codes" if pq_m else "unit_vec"
    idx = idx.select("vec_id", payload, "cluster")
    if appended:
        # Hybrid-exact, mirroring ann_search: appended files' vectors
        # assign to the FROZEN centroids on the fly (what incremental
        # refresh would persist) and join the same probe path (encoding
        # with the frozen codebooks for PQ).
        ap = encoded_rows(entry.relations[0].read(spark, appended), props).select(
            "vec_id", payload, "cluster"
        )
        ap = ap.localCheckpoint(eager=False)
        idx = idx.unionByName(ap)
    if allowed_df is not None:
        # filtered k-NN join (pre-filter semantics, like ann_search):
        # MUST restrict before the per-cluster partial top-k, or a
        # disallowed row could push an allowed one out of the partials.
        allowed = allowed_df.select(F.col(allowed_df.columns[0]).alias("vec_id"))
        idx = idx.join(allowed, "vec_id", "left_semi")
    vid_type = dict(idx.dtypes)["vec_id"]

    # +1 headroom: self-exclusion removes at most one partial row per
    # query (the self vector lives in exactly one cluster).  PQ partials
    # carry the refine pool per cluster (any global pool member is
    # within its own cluster's top pool_n).
    pool_n = int(k) * max(int(refine_factor), 1) if pq_m else int(k)
    k_local = pool_n + (1 if exclude_self else 0)
    books = (
        np.stack([np.asarray(b, dtype=np.float64) for b in props["codebooks"]])
        if pq_m
        else None
    )

    def score(key, l_pdf, r_pdf):
        if len(l_pdf) == 0 or len(r_pdf) == 0:
            return pd.DataFrame({"_qid": [], "vec_id": [], "_dot": []})
        qm = np.stack([np.asarray(v, dtype=np.float64) for v in r_pdf["_qraw"]])
        qm = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
        if books is not None:
            # ADC: per-query LUT (m, 256) from the query's subvectors,
            # then scoring the cluster is one gather + sum per query.
            mm, _kk, dsub = books.shape
            codes = np.stack(
                [np.asarray(c, dtype=np.int64) for c in l_pdf["codes"]]
            )  # (n, m)
            qs = qm.reshape(qm.shape[0], mm, dsub)  # (q, m, dsub)
            luts = np.einsum("qmd,mkd->qmk", qs, books)  # (q, m, 256)
            jj = np.arange(mm)[:, None]  # (m, 1) to pair with codes.T (m, n)
            sc = np.stack(
                [luts[i][jj, codes.T].sum(axis=0) for i in range(qm.shape[0])]
            )  # (q, n)
        else:
            m = np.stack([np.asarray(v, dtype=np.float64) for v in l_pdf["unit_vec"]])
            sc = qm @ m.T  # (n_queries, n_cluster_vecs)
        vec_ids = l_pdf["vec_id"].to_numpy()
        # The partial cut follows the GLOBAL ranking convention exactly:
        # round(score, 6) desc, ties by neighbor id asc.  Cutting on the
        # raw score instead can drop a 6th-decimal-tied candidate that
        # the final window (and the DuckDB oracle) would keep — caught
        # by test_ann_join_overlap_on_near_duplicate_clouds.  Typical
        # path stays O(n): an argpartition threshold preselects, and
        # only the >=threshold candidates (k_local + ties) pay the sort.
        out_q, out_v, out_d = [], [], []
        has_dups = len(vec_ids) > len(np.unique(vec_ids))
        for i in range(sc.shape[0]):
            row = sc[i]
            rr = np.round(row, 6)
            if has_dups:
                # duplicate ids (re-appended copies awaiting refresh)
                # share the slot budget: keep the best copy per id so a
                # copy pair can never crowd out a distinct true neighbor
                order = np.lexsort((vec_ids, -rr))
                seen, picked = set(), []
                for j in order:
                    v = vec_ids[j]
                    if v in seen:
                        continue
                    seen.add(v)
                    picked.append(j)
                    if len(picked) >= k_local:
                        break
                sel = np.asarray(picked, dtype=np.int64)
            else:
                if k_local < len(rr):
                    # O(n) exact cut: everything strictly above the
                    # k_local-th rounded score survives; the remaining
                    # slots go to the LOWEST neighbor ids within the
                    # tied-at-threshold group (argpartition, not a sort
                    # — on tie-dense corpora the tied group can be a
                    # large fraction of the cluster, and a lexsort over
                    # it tripled the 2M-vector join's wall time).  Only
                    # the emitted SET matters: the global window
                    # re-ranks on the same (rounded, id) order.
                    part = np.argpartition(-rr, k_local - 1)[:k_local]
                    thresh = rr[part].min()
                    above = np.flatnonzero(rr > thresh)
                    tied = np.flatnonzero(rr == thresh)
                    need = k_local - len(above)
                    if 0 < need < len(tied):
                        tied = tied[np.argpartition(vec_ids[tied], need - 1)[:need]]
                    elif need <= 0:
                        tied = tied[:0]
                    sel = np.concatenate([above, tied])
                else:
                    sel = np.arange(len(rr))
            out_q.extend([r_pdf["_qid"].iloc[i]] * len(sel))
            out_v.extend(vec_ids[sel])
            out_d.extend(row[sel])
        return pd.DataFrame({"_qid": out_q, "vec_id": out_v, "_dot": out_d})

    partials = (
        idx.groupBy("cluster")
        .cogroup(q.groupBy("_probe"))
        .applyInPandas(score, schema=f"_qid {qid_type}, vec_id {vid_type}, _dot double")
    )
    best = partials.groupBy("_qid", "vec_id").agg(F.max("_dot").alias("_dot"))
    if exclude_self:
        best = best.filter(F.col("vec_id") != F.col("_qid"))
    if pq_m and source_df is not None:
        from hyperspace_spark.llm.similarity import dot_expr, unit_expr

        wp = W.partitionBy("_qid").orderBy(F.col("_dot").desc(), F.col("vec_id"))
        pool = (
            best.withColumn("_r", F.row_number().over(wp))
            .filter(F.col("_r") <= pool_n)
            .select("_qid", "vec_id")
            .persist()
        )
        ids = pool.select("vec_id").distinct()
        src = source_df.join(
            F.broadcast(ids.withColumnRenamed("vec_id", props["idCol"])),
            props["idCol"],
            "left_semi",
        ).select(
            F.col(props["idCol"]).alias("vec_id"),
            unit_expr(F.col(props["vecCol"]).cast("array<double>")).alias("_sv"),
        )
        qmap = queries_df.select(
            F.col(id_col).alias("_qid"),
            unit_expr(F.col(vec_col).cast("array<double>")).alias("_uq"),
        )
        best = (
            pool.join(src, "vec_id")
            .join(qmap, "_qid")
            # HOF dot: pool-sized frame (k x refine_factor rows) — see
            # the ann_search refine note on why a kernel loses here.
            .select(
                "_qid",
                "vec_id",
                dot_expr(F.col("_uq"), F.col("_sv")).alias("_dot"),
            )
        )
    scored = best.withColumn("cosine", F.round(F.col("_dot"), 6))
    w = W.partitionBy("_qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            F.col("_qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )
