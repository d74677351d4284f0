"""Persisted IVF ANN index: lifecycle + search quality.

Extension beyond the reference (no vector type there) — the same
metadata-log lifecycle applied to an IVF structure; see indexes/ann.py.
"""

import pytest
from pyspark.sql import functions as F

from hyperspace_spark import Hyperspace, IvfIndexConfig
from hyperspace_spark.llm import similarity

from tests.conftest import SF_DIR, table


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def hs(spark, emb, tmp_path_factory):
    hs = Hyperspace(spark, system_path=str(tmp_path_factory.mktemp("hsidx_ann")))
    hs.create_index(emb, IvfIndexConfig("ann_ivf", n_clusters=8))
    return hs


def test_build_persists_centroids_and_partitions(spark, hs):
    entry = next(e for e in hs._active_entries(hs.conf()) if e.name == "ann_ivf")
    props = entry.derived_properties
    assert len(props["centroids"]) == 8
    assert any("cluster=" in f.path for f in entry.content_files), "not partitioned by cluster"


def test_search_recall_vs_brute(spark, hs, emb):
    got = hs.ann_search("ann_ivf", query_ids=[0, 1, 2], k=5, n_probe=3).collect()
    brute = similarity.cosine_topk(emb, [0, 1, 2], k=5).collect()
    g = {(r.query_id, r.neighbor_id) for r in got}
    b = {(r.query_id, r.neighbor_id) for r in brute}
    assert len(got) == 15
    assert len(g & b) / len(b) >= 0.5  # probe recall at 3/8 clusters


def test_search_exact_when_probing_all_clusters(spark, hs, emb):
    got = hs.ann_search("ann_ivf", query_ids=[0, 1], k=5, n_probe=8).collect()
    brute = similarity.cosine_topk(emb, [0, 1], k=5).collect()
    assert {(r.query_id, r.rank, r.neighbor_id) for r in got} == {
        (r.query_id, r.rank, r.neighbor_id) for r in brute
    }


def test_search_partition_pruning(spark, hs):
    """A 1-probe search must physically read one cluster directory
    (inputFiles() lists pre-pruning, so assert on the executed scan)."""
    from hyperspace_spark.indexes.base import read_index

    entry = next(e for e in hs._active_entries(hs.conf()) if e.name == "ann_ivf")
    probed = (
        read_index(spark, entry)
        .filter(F.col("cluster") == 0)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    read_files = {r.f for r in probed}
    assert read_files and all("cluster=0" in f for f in read_files)
    assert len(read_files) < len(entry.content_files)


def test_lifecycle_delete_restore_refresh(spark, hs, emb):
    hs.delete_index("ann_ivf")
    from hyperspace_spark.hyperspace import HyperspaceException

    with pytest.raises(HyperspaceException):
        hs.ann_search("ann_ivf", query_ids=[0])
    hs.restore_index("ann_ivf")
    assert hs.ann_search("ann_ivf", query_ids=[0], k=2).count() == 2
    # incremental with no source delta is a no-op refresh
    hs.refresh_index("ann_ivf", "incremental")
    assert hs.ann_search("ann_ivf", query_ids=[0], k=2).count() == 2


def test_explicit_query_vectors(spark, hs, emb):
    vec = emb.filter("vec_id = 7").select("embedding").first()[0]
    got = hs.ann_search("ann_ivf", query_vectors={999: list(vec)}, k=1, n_probe=8).collect()
    # nearest neighbor of vec_id 7's own vector is vec_id 7 itself
    assert got[0].neighbor_id == 7 and got[0].cosine == 1.0


def test_incremental_assign_only_refresh(spark, emb, tmp_path):
    """Append-only ANN incremental: new vectors assign to the FROZEN
    centroids, only their rows are written, and every pre-existing
    cluster file hardlinks into the new version (same inode, cluster=N
    subpath preserved).  Searches then find the appended vectors."""
    import os

    src = str(tmp_path / "vec_src")
    base = emb.filter("vec_id < 400")
    extra = emb.filter("vec_id >= 400 and vec_id < 430")  # <30% by bytes
    base.coalesce(1).write.parquet(src)

    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(spark.read.parquet(src), IvfIndexConfig("inc_ivf", n_clusters=6))
    e0 = next(e for e in hs._active_entries(hs.conf()) if e.name == "inc_ivf")
    cents0 = e0.derived_properties["centroids"]
    old_base = e0.index_data_dirs[-1].rstrip("/")
    inodes0 = {
        f.path[len(old_base) + 1 :]: os.stat(f.path).st_ino for f in e0.content_files
    }

    extra.coalesce(1).write.mode("append").parquet(src)
    hs.refresh_index("inc_ivf", "incremental")

    e1 = next(e for e in hs._active_entries(hs.conf()) if e.name == "inc_ivf")
    assert e1.data_version > e0.data_version
    # frozen quantizer: centroids byte-identical
    assert e1.derived_properties["centroids"] == cents0
    new_base = e1.index_data_dirs[-1].rstrip("/")
    after = {f.path[len(new_base) + 1 :]: f.path for f in e1.content_files}
    for rel_path, ino in inodes0.items():
        assert rel_path in after, f"old file {rel_path} missing from new version"
        assert os.stat(after[rel_path]).st_ino == ino, "old cluster file was rewritten"
    assert len(after) > len(inodes0), "no appended-vector files written"

    # appended vectors are searchable: probing all clusters with vec
    # 401's own embedding must return the appended vec 401 at cosine 1
    v401 = emb.filter("vec_id = 401").select("embedding").first()[0]
    got = hs.ann_search(
        "inc_ivf", query_vectors={99999: list(v401)}, k=3, n_probe=6
    ).collect()
    assert got and got[0].neighbor_id == 401 and got[0].cosine == 1.0

    # drift escalation: a >30%-of-corpus append takes the PARTIAL
    # re-cluster path (r9) — only oversized clusters split; an evenly
    # distributed append may split none, but the vectors must land and
    # stay searchable either way.
    emb.filter("vec_id < 200").selectExpr(
        "vec_id + 10000 as vec_id", "embedding"
    ).write.mode("append").parquet(src)
    hs.refresh_index("inc_ivf", "incremental")
    e2 = next(e for e in hs._active_entries(hs.conf()) if e.name == "inc_ivf")
    k2 = len(e2.derived_properties["centroids"])
    v10001 = emb.filter("vec_id = 1").select("embedding").first()[0]
    got2 = hs.ann_search(
        "inc_ivf", query_vectors={77777: list(v10001)}, k=3, n_probe=k2
    ).collect()
    assert got2 and got2[0].cosine == 1.0
    # beyond maxReclusterRatio: full refit (global KMeans, k back to 6)
    emb.selectExpr("vec_id + 20000 as vec_id", "embedding").write.mode(
        "append"
    ).parquet(src)
    emb.selectExpr("vec_id + 30000 as vec_id", "embedding").write.mode(
        "append"
    ).parquet(src)
    hs.refresh_index("inc_ivf", "incremental")
    e3 = next(e for e in hs._active_entries(hs.conf()) if e.name == "inc_ivf")
    assert e3.derived_properties["centroids"] != cents0, "drift append must refit"
    assert len(e3.derived_properties["centroids"]) == 6


def test_partial_recluster_splits_only_oversized(spark, emb, tmp_path):
    """Drifted append (30%-100% of corpus bytes, concentrated in one
    region): ONLY the oversized cluster re-KMeans into sub-clusters; every
    other cluster's files hardlink through (same inode — bounded rewrite
    bytes), k grows by the split, and search stays exact when probing all
    clusters."""
    import os

    src = str(tmp_path / "vec_src")
    base = emb.filter("vec_id < 400")
    base.coalesce(1).write.parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(spark.read.parquet(src), IvfIndexConfig("pr_ivf", n_clusters=6))
    e0 = next(e for e in hs._active_entries(hs.conf()) if e.name == "pr_ivf")
    cents0 = e0.derived_properties["centroids"]
    base0 = e0.index_data_dirs[-1].rstrip("/")
    cluster_of = lambda rel: rel.split("/", 1)[0]
    inodes0 = {
        f.path[len(base0) + 1 :]: os.stat(f.path).st_ino for f in e0.content_files
    }

    # 300 near-copies of ONE vector (tiny per-row perturbation so parquet
    # can't RLE them away — the drift ratio is measured in BYTES): all
    # assign to a single frozen cluster, pushing it past
    # oversize_factor x average.
    seed = list(emb.filter("vec_id = 7").select("embedding").first()[0])
    drift = spark.createDataFrame(
        [
            (50000 + i, [seed[0] + (i % 97) * 1e-4] + seed[1:])
            for i in range(300)
        ],
        "vec_id long, embedding array<float>",
    )
    drift.coalesce(1).write.mode("append").parquet(src)
    # Pin the escalation ladder so the test exercises the PARTIAL path
    # regardless of parquet compression ratios.
    spark.conf.set("spark.hyperspace.index.ann.maxAssignOnlyRatio", "0.01")
    spark.conf.set("spark.hyperspace.index.ann.maxReclusterRatio", "10")
    try:
        hs.refresh_index("pr_ivf", "incremental")
    finally:
        spark.conf.unset("spark.hyperspace.index.ann.maxAssignOnlyRatio")
        spark.conf.unset("spark.hyperspace.index.ann.maxReclusterRatio")

    e1 = next(e for e in hs._active_entries(hs.conf()) if e.name == "pr_ivf")
    cents1 = e1.derived_properties["centroids"]
    assert len(cents1) > len(cents0), "oversized cluster must split (k grows)"
    # Untouched centroids are byte-identical at their original positions.
    changed = [i for i, c in enumerate(cents0) if cents1[i] != c]
    assert len(changed) <= 2, f"only the oversized cluster(s) may move: {changed}"
    # Bounded rewrite: every old file OUTSIDE the split cluster(s)
    # hardlinks through with the same inode.
    split_dirs = {f"cluster={i}" for i in changed}
    base1 = e1.index_data_dirs[-1].rstrip("/")
    after = {f.path[len(base1) + 1 :]: f.path for f in e1.content_files}
    carried = rewritten = 0
    for rel, ino in inodes0.items():
        if cluster_of(rel) in split_dirs:
            continue  # split cluster: rows rewritten under new ids
        assert rel in after and os.stat(after[rel]).st_ino == ino, rel
        carried += 1
    assert carried > 0, "no hardlinked survivors — rewrite was not bounded"

    # Search exactness on the grown quantizer: probing all clusters
    # reproduces brute-force top-k for an OLD vector and finds the
    # drifted copies at cosine 1.0.
    k1 = len(cents1)
    got = hs.ann_search("pr_ivf", query_ids=[11], k=5, n_probe=k1).collect()
    brute = similarity.cosine_topk(
        spark.read.parquet(src), query_ids=[11], k=5
    ).collect()
    assert [r.neighbor_id for r in got] == [r.neighbor_id for r in brute]
    gd = hs.ann_search(
        "pr_ivf", query_vectors={9: list(seed)}, k=3, n_probe=k1
    ).collect()
    assert gd and gd[0].cosine == 1.0


def test_optimize_per_cluster_compaction(spark, emb, tmp_path):
    """ANN quick optimize = per-CLUSTER compaction: after an assign-only
    incremental refresh leaves >1 small file in the touched clusters,
    quick rewrites ONLY those clusters; single-file clusters hardlink
    through untouched, and searches stay exact."""
    import os
    from collections import Counter

    src = str(tmp_path / "vec_src")
    emb.filter("vec_id < 400").coalesce(1).write.parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(spark.read.parquet(src), IvfIndexConfig("opt_ivf", n_clusters=6))
    emb.filter("vec_id >= 400 and vec_id < 430").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    hs.refresh_index("opt_ivf", "incremental")

    e1 = next(e for e in hs._active_entries(hs.conf()) if e.name == "opt_ivf")
    base1 = e1.index_data_dirs[-1].rstrip("/")
    cluster_of = lambda p, b: p[len(b) + 1 :].split("/", 1)[0]
    counts1 = Counter(cluster_of(f.path, base1) for f in e1.content_files)
    multi = {c for c, n in counts1.items() if n > 1}
    single = {c for c, n in counts1.items() if n == 1}
    assert multi, "incremental refresh should have left multi-file clusters"
    inodes1 = {
        f.path[len(base1) + 1 :]: os.stat(f.path).st_ino
        for f in e1.content_files
        if cluster_of(f.path, base1) in single
    }

    hs.optimize_index("opt_ivf", "quick")
    e2 = next(e for e in hs._active_entries(hs.conf()) if e.name == "opt_ivf")
    base2 = e2.index_data_dirs[-1].rstrip("/")
    counts2 = Counter(cluster_of(f.path, base2) for f in e2.content_files)
    assert all(n == 1 for n in counts2.values()), counts2
    # untouched clusters carried by hardlink
    after = {f.path[len(base2) + 1 :]: f.path for f in e2.content_files}
    for rel_path, ino in inodes1.items():
        assert rel_path in after and os.stat(after[rel_path]).st_ino == ino

    v = emb.filter("vec_id = 405").select("embedding").first()[0]
    got = hs.ann_search("opt_ivf", query_vectors={1: list(v)}, k=1, n_probe=6).collect()
    assert got[0].neighbor_id == 405 and got[0].cosine == 1.0

    # idempotent: a second quick optimize is a no-op (no new version)
    hs.optimize_index("opt_ivf", "quick")
    e3 = next(e for e in hs._active_entries(hs.conf()) if e.name == "opt_ivf")
    assert e3.data_version == e2.data_version


def test_pq_index_compresses_and_refines_exact(spark, emb, tmp_path):
    """IVF-PQ (pq_m=8 over dim-64): the index stores 8-byte codes, not
    vectors — measured >5x smaller than the flat layout here — and a
    search with all clusters probed + a corpus-covering refine pool is
    EXACTLY brute force (the refine re-ranks against source vectors).
    A realistic small pool keeps recall@10 >= 0.9."""
    src = str(tmp_path / "vec_src")
    emb.coalesce(1).write.parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    from hyperspace_spark import IvfIndexConfig as Cfg

    hs.create_index(spark.read.parquet(src), Cfg("pq_i", n_clusters=8, pq_m=8))
    hs.create_index(spark.read.parquet(src), Cfg("flat_i", n_clusters=8))

    def nbytes(name):
        e = hs._log_mgr(name, hs.conf()).get_latest_stable_log()
        return sum(f.size for f in e.content_files)

    assert nbytes("pq_i") * 5 < nbytes("flat_i"), (nbytes("pq_i"), nbytes("flat_i"))

    got = hs.ann_search("pq_i", query_ids=[0, 1, 2], k=5, n_probe=8,
                        refine_factor=1000).collect()
    brute = similarity.cosine_topk(
        spark.read.parquet(src), query_ids=[0, 1, 2], k=5
    ).collect()
    assert sorted((r.query_id, r.neighbor_id, r.cosine, r.rank) for r in got) == sorted(
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in brute
    )

    got10 = hs.ann_search("pq_i", query_ids=[0, 1, 2], k=10, n_probe=8,
                          refine_factor=4).collect()
    brute10 = similarity.cosine_topk(
        spark.read.parquet(src), query_ids=[0, 1, 2], k=10
    ).collect()
    from collections import defaultdict

    g, b = defaultdict(set), defaultdict(set)
    for r in got10:
        g[r.query_id].add(r.neighbor_id)
    for r in brute10:
        b[r.query_id].add(r.neighbor_id)
    recall = sum(len(g[q] & b[q]) for q in b) / sum(len(b[q]) for q in b)
    assert recall >= 0.9, recall


def test_pq_incremental_assign_encodes_with_frozen_codebooks(spark, emb, tmp_path):
    """Assign-only refresh on a PQ index encodes appended vectors with
    the FROZEN codebooks (old cluster files hardlink through); appended
    vectors become searchable at full exactness via the refine step.
    Past the assign-only ratio, PQ escalates straight to a full refit
    (codes cannot re-cluster without a corpus-scale source read)."""
    import os

    from hyperspace_spark import IvfIndexConfig as Cfg

    src = str(tmp_path / "vec_src")
    emb.filter("vec_id < 400").coalesce(1).write.parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(spark.read.parquet(src), Cfg("pq_inc", n_clusters=6, pq_m=8))
    e0 = hs._log_mgr("pq_inc", hs.conf()).get_latest_stable_log()
    books0 = e0.derived_properties["codebooks"]
    base0 = e0.index_data_dirs[-1].rstrip("/")
    inodes0 = {
        f.path[len(base0) + 1 :]: os.stat(f.path).st_ino for f in e0.content_files
    }

    emb.filter("vec_id >= 400 and vec_id < 430").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    hs.refresh_index("pq_inc", "incremental")
    e1 = hs._log_mgr("pq_inc", hs.conf()).get_latest_stable_log()
    assert e1.derived_properties["codebooks"] == books0  # frozen
    base1 = e1.index_data_dirs[-1].rstrip("/")
    after = {f.path[len(base1) + 1 :]: f.path for f in e1.content_files}
    for rel, ino in inodes0.items():
        assert rel in after and os.stat(after[rel]).st_ino == ino
    got = hs.ann_search(
        "pq_inc", query_ids=[405], k=3, n_probe=6, refine_factor=1000
    ).collect()
    brute = similarity.cosine_topk(
        spark.read.parquet(src), query_ids=[405], k=3
    ).collect()
    assert [(r.neighbor_id, r.cosine) for r in got] == [
        (r.neighbor_id, r.cosine) for r in brute
    ]

    # drift past assign-only: full refit (codebooks retrain)
    emb.filter("vec_id < 250").selectExpr(
        "vec_id + 9000 AS vec_id", "embedding"
    ).coalesce(1).write.mode("append").parquet(src)
    hs.refresh_index("pq_inc", "incremental")
    e2 = hs._log_mgr("pq_inc", hs.conf()).get_latest_stable_log()
    assert e2.derived_properties["codebooks"] != books0
    assert len(e2.derived_properties["centroids"]) == 6


def test_delete_refresh_drops_rows_without_refit(spark, emb, tmp_path):
    """Deletes never touch the quantizer (r10): the deleted source
    file's rows leave via the lineage anti-filter, rewriting ONLY the
    index files that hold them — every other index file hardlinks
    (inode-asserted), centroids stay byte-identical, and the surviving
    corpus's search results are EXACTLY brute force when all clusters
    are probed (recall untouched by construction)."""
    import os

    src = str(tmp_path / "vec_src")
    base = emb.filter("vec_id < 400")
    base.coalesce(1).write.parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(spark.read.parquet(src), IvfIndexConfig("del_ivf", n_clusters=6))
    before_append = set(os.listdir(src))

    # Append a retractable file, assign-only refresh.
    emb.filter("vec_id >= 400 and vec_id < 430").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    hs.refresh_index("del_ivf", "incremental")
    e1 = next(e for e in hs._active_entries(hs.conf()) if e.name == "del_ivf")
    cents1 = e1.derived_properties["centroids"]
    base1 = e1.index_data_dirs[-1].rstrip("/")
    # Index files holding ONLY base rows (the build files carried into
    # v1) vs the append-job files holding the retractable rows.
    idx1 = spark.read.option("basePath", base1).parquet(base1)
    holding_deleted = {
        r[0]
        for r in idx1.filter(F.col("vec_id") >= 400)
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert holding_deleted, "appended rows not in the index"
    inodes1 = {
        f.path[len(base1) + 1 :]: os.stat(f.path).st_ino
        for f in e1.content_files
        if f.path.endswith(".parquet")
    }

    # Retract the appended source file; refresh must NOT refit.
    for fn in set(os.listdir(src)) - before_append:
        os.remove(os.path.join(src, fn))
    hs.refresh_index("del_ivf", "incremental")
    e2 = next(e for e in hs._active_entries(hs.conf()) if e.name == "del_ivf")
    assert e2.data_version > e1.data_version
    assert e2.derived_properties["centroids"] == cents1, "delete must not refit"
    base2 = e2.index_data_dirs[-1].rstrip("/")
    from urllib.parse import unquote

    affected_rel = {
        unquote(u)[len("file://") :][len(base1) + 1 :]
        for u in holding_deleted
    }
    after = {
        f.path[len(base2) + 1 :]: f.path
        for f in e2.content_files
        if f.path.endswith(".parquet")
    }
    for rel, ino in inodes1.items():
        if rel in affected_rel:
            continue  # rewritten (or dropped) by the delete path
        assert rel in after, f"untouched file {rel} missing after delete-refresh"
        assert os.stat(after[rel]).st_ino == ino, f"untouched file {rel} rewritten"

    # Recall equality: all-probe search over the survivors == brute
    # force over the surviving corpus, and no deleted id surfaces.
    k2 = len(e2.derived_properties["centroids"])
    got = hs.ann_search("del_ivf", query_ids=[0, 1, 2], k=5, n_probe=k2).collect()
    assert all(r.neighbor_id < 400 for r in got)
    brute = similarity.cosine_topk(base, [0, 1, 2], k=5).collect()
    assert {(r.query_id, r.rank, r.neighbor_id, r.cosine) for r in got} == {
        (r.query_id, r.rank, r.neighbor_id, r.cosine) for r in brute
    }

    # Delete + assign-only append in ONE refresh: still no refit, new
    # vectors land, retracted vectors stay gone.
    pre = set(os.listdir(src))
    emb.filter("vec_id >= 400 and vec_id < 410").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    appended_now = set(os.listdir(src)) - pre
    assert appended_now
    hs.refresh_index("del_ivf", "incremental")  # 400-409 joins the snapshot
    # ONE refresh that both retracts 400-409 and lands 440-449:
    emb.filter("vec_id >= 440 and vec_id < 450").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    for fn in appended_now:
        os.remove(os.path.join(src, fn))
    hs.refresh_index("del_ivf", "incremental")
    e3 = next(e for e in hs._active_entries(hs.conf()) if e.name == "del_ivf")
    assert e3.derived_properties["centroids"] == cents1, "delete+append must not refit"
    v440 = emb.filter("vec_id = 440").select("embedding").first()[0]
    got3 = hs.ann_search(
        "del_ivf", query_vectors={90001: list(v440)}, k=1, n_probe=len(cents1)
    ).collect()
    assert got3 and got3[0].neighbor_id == 440 and got3[0].cosine == 1.0
    all3 = hs.ann_search(
        "del_ivf", query_ids=[0, 1, 2], k=5, n_probe=len(cents1)
    ).collect()
    assert all(not (400 <= r.neighbor_id < 410) for r in all3)


def test_pq_refine_semi_join_for_large_batches(spark, emb, tmp_path):
    """10^4-query PQ batch (r10): past REFINE_IN_MAX distinct pool ids
    the exact-refine read switches from an IN-literal pushdown to a
    broadcast LEFT SEMI join — bounded plan, no 10^4-element IN literal
    (telemetry records the chosen path) — with top-k results identical
    to the IN path."""
    from hyperspace_spark import IvfIndexConfig as Cfg
    from hyperspace_spark.indexes import ann as ann_mod
    from hyperspace_spark import telemetry

    src = str(tmp_path / "vec_src")
    emb.coalesce(1).write.parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(spark.read.parquet(src), Cfg("pq_big", n_clusters=8, pq_m=8))

    vecs = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.select("vec_id", "embedding").collect()
    }
    queries = {i: vecs[i % 500] for i in range(10_000)}

    events = []
    telemetry.on_event(events.append)
    try:
        old = ann_mod.REFINE_IN_MAX
        ann_mod.REFINE_IN_MAX = 64
        try:
            big = hs.ann_search(
                "pq_big", query_vectors=queries, k=3, n_probe=2, refine_factor=2
            )
            big_rows = {
                (r.query_id, r.rank): (r.neighbor_id, r.cosine)
                for r in big.collect()
            }
        finally:
            ann_mod.REFINE_IN_MAX = old
        refine_evts = [e for e in events if e.kind == "ann_refine"]
        assert refine_evts and "path=semi" in refine_evts[-1].detail
        n_pool = int(refine_evts[-1].detail.split("n_pool=")[1])
        assert n_pool > 64

        # Unchanged top-k: the same queries through the IN path (small
        # chunk, default threshold) must agree exactly.
        sample = {i: queries[i] for i in range(25)}
        small = hs.ann_search(
            "pq_big", query_vectors=sample, k=3, n_probe=2, refine_factor=2
        )
        small_rows = {
            (r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in small.collect()
        }
        in_evts = [e for e in events if e.kind == "ann_refine"]
        assert "path=in" in in_evts[-1].detail
        for key, val in small_rows.items():
            assert big_rows[key] == val, key
    finally:
        telemetry.off_event(events.append)


def test_hybrid_search_stale_index_exact(spark, emb, tmp_path):
    """r10: searches between refreshes are HYBRID-exact — appended files'
    vectors assign/encode on the fly against the frozen quantizer and
    deleted files' rows anti-filter by lineage, so a stale-index search
    equals (a) brute force over the live corpus when all clusters are
    probed and (b) the post-incremental-refresh search bit-for-bit at
    any probe count.  query_ids resolve against the LIVE corpus."""
    import os

    src = str(tmp_path / "vec_src")
    emb.filter("vec_id < 200").coalesce(1).write.parquet(src)
    keep_a = set(os.listdir(src))
    emb.filter("vec_id >= 200 and vec_id < 400").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    victim = set(os.listdir(src)) - keep_a
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(spark.read.parquet(src), IvfIndexConfig("hyb_ivf", n_clusters=6))

    # mutate the source WITHOUT refreshing: drop 200-399, add 400-430
    for fn in victim:
        os.remove(os.path.join(src, fn))
    emb.filter("vec_id >= 400 and vec_id < 430").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    live = emb.filter("vec_id < 200 or (vec_id >= 400 and vec_id < 430)")
    stale_all = hs.ann_search("hyb_ivf", query_ids=[0, 1, 405], k=5, n_probe=6).collect()
    brute = similarity.cosine_topk(live, [0, 1, 405], k=5).collect()
    key = lambda rows: sorted((r.query_id, r.rank, r.neighbor_id, r.cosine) for r in rows)
    assert key(stale_all) == key(brute)
    # appended vector searchable at its own embedding; deleted ids gone
    assert all(not (200 <= r.neighbor_id < 400) for r in stale_all)
    with pytest.raises(Exception, match="not in index"):
        hs.ann_search("hyb_ivf", query_ids=[250], k=2, n_probe=6)

    # partial-probe parity with the refreshed index (frozen quantizer ->
    # identical probe selection and scores)
    stale_p2 = hs.ann_search("hyb_ivf", query_ids=[0, 1, 405], k=5, n_probe=2).collect()
    hs.refresh_index("hyb_ivf", "incremental")
    fresh_p2 = hs.ann_search("hyb_ivf", query_ids=[0, 1, 405], k=5, n_probe=2).collect()
    assert key(stale_p2) == key(fresh_p2)


def test_hybrid_search_stale_pq_exact(spark, emb, tmp_path):
    """Same discipline for IVF-PQ: appended vectors encode with the
    FROZEN codebooks on the fly, so the stale search equals the
    post-refresh search exactly, and all-probe + corpus-covering refine
    equals brute force over the live corpus."""
    import os

    from hyperspace_spark import IvfIndexConfig as Cfg

    src = str(tmp_path / "vec_src")
    emb.filter("vec_id < 300").coalesce(1).write.parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(spark.read.parquet(src), Cfg("hyb_pq", n_clusters=6, pq_m=8))
    emb.filter("vec_id >= 300 and vec_id < 360").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    live = spark.read.parquet(src)
    got = hs.ann_search(
        "hyb_pq", query_ids=[0, 310], k=5, n_probe=6, refine_factor=1000
    ).collect()
    brute = similarity.cosine_topk(live, [0, 310], k=5).collect()
    key = lambda rows: sorted((r.query_id, r.rank, r.neighbor_id, r.cosine) for r in rows)
    assert key(got) == key(brute)

    stale_p2 = hs.ann_search("hyb_pq", query_ids=[0, 310], k=5, n_probe=2).collect()
    hs.refresh_index("hyb_pq", "quick")  # metadata-only; data still stale
    quick_p2 = hs.ann_search("hyb_pq", query_ids=[0, 310], k=5, n_probe=2).collect()
    assert key(stale_p2) == key(quick_p2)
    hs.refresh_index("hyb_pq", "incremental")
    fresh_p2 = hs.ann_search("hyb_pq", query_ids=[0, 310], k=5, n_probe=2).collect()
    assert key(stale_p2) == key(fresh_p2)


def test_hybrid_search_keeps_partition_pruning(spark, emb, tmp_path):
    """The probe filter must push THROUGH the hybrid union to the parquet
    scan: a 1-probe stale search reads exactly one cluster directory
    (PartitionFilters on the executed plan), not the whole index."""
    import re

    src = str(tmp_path / "vec_src")
    emb.filter("vec_id < 400").coalesce(1).write.parquet(src)
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs.create_index(spark.read.parquet(src), IvfIndexConfig("pr_ivf", n_clusters=8))
    emb.filter("vec_id >= 400").coalesce(1).write.mode("append").parquet(src)

    df = hs.ann_search("pr_ivf", query_ids=[0], k=3, n_probe=1)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    filters = re.findall(r"PartitionFilters: \[[^\]]*cluster[^\]]*\]", plan)
    assert filters, plan[:500]
    assert all(re.search(r"cluster#\d+ = \d+\)", f) for f in filters), filters


def test_legacy_lineage_free_index_serves_stale_on_delete(spark, emb, tmp_path):
    """r10 review fix: a pre-lineage ANN index (lineage.enabled=false)
    must NOT hard-fail when source files are deleted — it serves the
    stale index (the pre-r10 behavior, ghosts included) and emits an
    ann_stale_deletes breadcrumb; incremental refresh still falls back
    to a full refit for these entries."""
    import os

    from hyperspace_spark import telemetry

    src = str(tmp_path / "vec_src")
    emb.filter("vec_id < 300").coalesce(1).write.parquet(src)
    before = set(os.listdir(src))
    emb.filter("vec_id >= 300 and vec_id < 400").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    victim = set(os.listdir(src)) - before
    hs = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    spark.conf.set("spark.hyperspace.index.lineage.enabled", "false")
    try:
        hs.create_index(
            spark.read.parquet(src), IvfIndexConfig("leg_ivf", n_clusters=6)
        )
    finally:
        spark.conf.unset("spark.hyperspace.index.lineage.enabled")
    e0 = next(e for e in hs._active_entries(hs.conf()) if e.name == "leg_ivf")
    assert not e0.derived_properties.get("lineage")

    for fn in victim:
        os.remove(os.path.join(src, fn))
    events = []
    telemetry.on_event(events.append)
    try:
        got = hs.ann_search("leg_ivf", query_ids=[0, 1], k=3, n_probe=6).collect()
    finally:
        telemetry.off_event(events.append)
    assert len(got) == 6  # served (stale), not raised
    assert any(e.kind == "ann_stale_deletes" for e in events)
    # refresh repairs it properly (full refit for lineage-free + deletes)
    hs.refresh_index("leg_ivf", "incremental")
    e1 = next(e for e in hs._active_entries(hs.conf()) if e.name == "leg_ivf")
    assert e1.derived_properties["centroids"] != e0.derived_properties["centroids"]
    got2 = hs.ann_search("leg_ivf", query_ids=[0, 1], k=3, n_probe=6).collect()
    assert all(r.neighbor_id < 300 for r in got2)


def test_filtered_search_exact_over_subset(spark, hs, emb):
    """where= runs pre-filter semantics: at all-probe the result is the
    exact top-k among rows satisfying the predicate; neighbors outside
    the subset never appear."""
    got = hs.ann_search(
        "ann_ivf", query_ids=[0, 1], k=5, n_probe=8, where="label = 1"
    ).collect()
    allowed = {r.vec_id for r in emb.filter("label = 1").select("vec_id").collect()}
    assert got and all(r.neighbor_id in allowed for r in got)
    # brute force over the subset agrees exactly
    sub = emb.filter("label = 1 OR vec_id IN (0, 1)")
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(sub, [0, 1], k=5).collect()
        if r.neighbor_id in allowed
    }
    g = {(r.query_id, r.neighbor_id) for r in got}
    # cosine_topk over the subset may rank an anchor (0/1) if it has
    # label 1 — both sides exclude self, and anchors not in the subset
    # are extra rows on the brute side only; compare on allowed pairs.
    assert g == {p for p in brute if p[1] in allowed}


def test_filtered_search_pq_path(spark, emb, tmp_path_factory):
    """The PQ pipeline (ADC pool -> exact refine) honors the filter too."""
    hs2 = Hyperspace(spark, system_path=str(tmp_path_factory.mktemp("hsidx_annf")))
    hs2.create_index(emb, IvfIndexConfig("ann_pqf", n_clusters=4, pq_m=8))
    n = emb.count()
    got = hs2.ann_search(
        "ann_pqf", query_ids=[0], k=5, n_probe=4,
        refine_factor=max(1000, -(-n // 5)), where="label = 1",
    ).collect()
    allowed = {r.vec_id for r in emb.filter("label = 1").select("vec_id").collect()}
    assert len(got) == 5 and all(r.neighbor_id in allowed for r in got)


def test_ann_join_matches_search_and_handles_hybrid(spark, hs, emb, tmp_path):
    """ann_join == per-query ann_search at the same probe count, queries
    never collect on the driver, and hybrid append compensates."""
    import shutil

    from pyspark.sql import functions as F

    from hyperspace_spark import Hyperspace, IvfIndexConfig

    qdf = emb.filter("vec_id IN (0, 1, 2)").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    joined = hs.ann_join("ann_ivf", qdf, k=5, n_probe=8, exclude_self=True)
    got = {(r.query_id, r.neighbor_id, r.rank) for r in joined.collect()}
    point = hs.ann_search("ann_ivf", query_ids=[0, 1, 2], k=5, n_probe=8)
    want = {(r.query_id, r.neighbor_id, r.rank) for r in point.collect()}
    assert got == want
    # PQ entries: ADC pool + exact refine inside the same cogrouped
    # kernel — at a corpus-covering pool the result equals the
    # point-lookup PQ path exactly
    hs2 = Hyperspace(spark, system_path=str(tmp_path / "pq"))
    hs2.create_index(emb, IvfIndexConfig("aj_pq", n_clusters=4, pq_m=8))
    n = emb.count()
    rf = max(1000, -(-n // 5))
    jpq = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in hs2.ann_join(
            "aj_pq", qdf, k=5, n_probe=4, exclude_self=True, refine_factor=rf
        ).collect()
    }
    ppq = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in hs2.ann_search(
            "aj_pq", query_ids=[0, 1, 2], k=5, n_probe=4, refine_factor=rf
        ).collect()
    }
    assert jpq == ppq
    # hybrid: appended vectors surface through the frozen-centroid assign
    src = str(tmp_path / "emb")
    emb.write.parquet(src)
    e2 = spark.read.parquet(src)
    hs3 = Hyperspace(spark, system_path=str(tmp_path / "idx3"))
    hs3.create_index(e2, IvfIndexConfig("aj_flat", n_clusters=8))
    mx = emb.agg(F.max("vec_id")).collect()[0][0]
    emb.filter("vec_id = 5").select(
        (F.col("vec_id") + mx + 1).alias("vec_id"), "embedding", "label"
    ).write.mode("append").parquet(src)
    q5 = emb.filter("vec_id = 5").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = hs3.ann_join("aj_flat", q5, k=1, n_probe=8, exclude_self=True).collect()
    # the appended clone of vector 5 (id shifted by mx+1) is its exact
    # nearest neighbor
    assert res[0].neighbor_id == 5 + mx + 1 and abs(res[0].cosine - 1.0) < 1e-6


def test_ann_join_overlap_on_near_duplicate_clouds(spark, tmp_path):
    """Regression guard for the 2M-vector probe's 0.95 join-vs-lookup
    overlap (SCALE.md r10b, adjudicated benign): both APIs rank on
    round(cosine, 6), and a clouds-shaped corpus puts many candidates
    within 1e-7 of each other, so a few pairs may straddle a 6th-decimal
    rounding boundary between the join's BLAS matmul and the lookup's
    summation order.  That explanation is only safe while the overlap
    stays HIGH — a real kernel bug (transposed matmul, probe/id
    misalignment) returns neighbors from the WRONG clouds and collapses
    the overlap toward 0.  Pin: overlap >= 0.9 on the adversarial
    fixture.  (Exact equality on spread embeddings is already pinned by
    test_ann_join_matches_search_and_handles_hybrid.)"""
    import hashlib
    import struct

    import numpy as np
    from pyspark.sql import functions as F

    from hyperspace_spark import Hyperspace, IvfIndexConfig

    def _unit(seed: str, scale: float = 1.0) -> np.ndarray:
        vals = []
        for i in range(32):
            d = hashlib.md5(f"{seed}-{i}".encode()).digest()
            (u,) = struct.unpack("<Q", d[:8])
            vals.append(u / float(1 << 64) * 2.0 - 1.0)
        return np.asarray(vals) * scale

    rows = []
    n_clouds, per = 12, 8
    for c in range(n_clouds):
        base = _unit(f"cloud-{c}")
        base = base / np.linalg.norm(base)
        for m in range(per):
            # 5e-4 perturbation => within-cloud cosines differ around the
            # 6th decimal — the exact straddle zone from the 2M probe
            v = base + _unit(f"eps-{c}-{m}", scale=5e-4)
            rows.append((c * per + m, [float(x) for x in v], c % 2))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    src = str(tmp_path / "clouds")
    df.coalesce(2).write.parquet(src)
    emb2 = spark.read.parquet(src)
    hs2 = Hyperspace(spark, system_path=str(tmp_path / "idx"))
    hs2.create_index(emb2, IvfIndexConfig("clouds_ivf", n_clusters=4))

    qids = [c * per for c in range(n_clouds)]
    qdf = emb2.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    joined = {
        (r.query_id, r.neighbor_id)
        for r in hs2.ann_join(
            "clouds_ivf", qdf, k=5, n_probe=4, exclude_self=True
        ).collect()
    }
    point = {
        (r.query_id, r.neighbor_id)
        for r in hs2.ann_search("clouds_ivf", query_ids=qids, k=5, n_probe=4).collect()
    }
    assert len(point) == n_clouds * 5
    overlap = len(joined & point) / len(point)
    assert overlap >= 0.9, f"join/lookup overlap {overlap} on clouds fixture"
    # every returned neighbor must come from the query's OWN cloud —
    # rounding can flip near-ties inside a cloud, never across clouds
    for q_, n_ in joined | point:
        assert q_ // per == n_ // per, (q_, n_)


def test_ann_join_filtered(spark, hs, emb):
    """ann_join(where=) keeps only satisfying neighbors, exact at
    all-probe over the subset."""
    from pyspark.sql import functions as F

    qdf = emb.filter("vec_id IN (0, 1)").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = hs.ann_join("ann_ivf", qdf, k=5, n_probe=8, exclude_self=True, where="label = 1")
    got = {(r.query_id, r.neighbor_id) for r in res.collect()}
    allowed = {r.vec_id for r in emb.filter("label = 1").select("vec_id").collect()}
    assert got and all(n in allowed for _, n in got)
    # agrees with filtered point-lookup search
    want = {
        (r.query_id, r.neighbor_id)
        for r in hs.ann_search(
            "ann_ivf", query_ids=[0, 1], k=5, n_probe=8, where="label = 1"
        ).collect()
    }
    assert got == want
