"""Save/load round-trip tests (reference parity: saveload.h schema/
version checks, vamana.cpp save/assemble, metamorphic save->load->search
== direct search)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from scalablevectorsearch_spark.operators.ivf import ivf_build, ivf_search
from scalablevectorsearch_spark.operators.vamana import (
    VamanaParams,
    vamana_build,
    vamana_search,
)
from scalablevectorsearch_spark.sources.index_store import (
    ManifestError,
    load_index,
    load_ivf,
    load_vamana,
    save_index,
    save_ivf,
    save_vamana,
)

ART = "/root/repo/_artifacts/test_index_store"


@pytest.fixture(scope="module", autouse=True)
def clean_artifacts():
    shutil.rmtree(ART, ignore_errors=True)
    yield
    shutil.rmtree(ART, ignore_errors=True)


@pytest.fixture(scope="module")
def base(embeddings):
    return embeddings.selectExpr("vec_id as id", "embedding as vector")


@pytest.fixture(scope="module")
def queries(base):
    return base.filter(F.col("id") < 10).selectExpr("id as qid", "vector")


def _rows(df):
    return sorted(
        (r["qid"], r["rank"], r["neighbor_id"]) for r in df.collect()
    )


def test_vamana_save_load_search_roundtrip(spark, base, queries):
    idx = vamana_build(base, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2)
    direct = _rows(vamana_search(idx, queries, k=5, search_window_size=20))
    save_vamana(idx, f"{ART}/vamana")
    loaded = load_vamana(spark, f"{ART}/vamana")
    assert loaded.params.graph_max_degree == 8
    assert loaded.n_shards == 2
    reloaded = _rows(vamana_search(loaded, queries, k=5, search_window_size=20))
    assert direct == reloaded


def test_compacted_vamana_save_load_roundtrip(spark, base, queries):
    """A COMPACTED hash-sharded index must survive save/load: dense ids
    no longer satisfy id mod n_shards, so the loaded layout must come
    from the persisted (shard_id, id) assignment, not a hash re-derive
    (which would disagree with the graphs' shard stamps and silently
    drop edges in _decode_adjacency)."""
    from scalablevectorsearch_spark.operators.dynamic import (
        compact_index,
        consolidate,
        delete_entries,
        dynamic_vamana,
    )

    idx = vamana_build(base, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2)
    deleted = base.filter((F.col("id") >= 5) & (F.col("id") < 15)).select("id")
    d = consolidate(delete_entries(dynamic_vamana(idx), deleted))
    cidx, _ = compact_index(d.index)
    direct = _rows(vamana_search(cidx, queries, k=5, search_window_size=2000))
    save_vamana(cidx, f"{ART}/vamana_compacted")
    loaded = load_vamana(spark, f"{ART}/vamana_compacted")
    reloaded = _rows(vamana_search(loaded, queries, k=5, search_window_size=2000))
    assert direct == reloaded


def test_ivf_save_load_search_roundtrip(spark, base, queries):
    idx = ivf_build(base, 8, 2)
    direct = _rows(ivf_search(idx, queries, k=5, n_probes=4))
    save_ivf(idx, f"{ART}/ivf")
    loaded = load_ivf(spark, f"{ART}/ivf")
    assert (loaded.model.centroids == idx.model.centroids).all()
    reloaded = _rows(ivf_search(loaded, queries, k=5, n_probes=4))
    assert direct == reloaded


def test_sq_save_load_roundtrip(spark, base):
    from scalablevectorsearch_spark.operators.sq import sq_decompress, sq_train
    from scalablevectorsearch_spark.sources.index_store import load_sq, save_sq

    p = sq_train(base)
    save_sq(base, p, f"{ART}/sq")
    packed, p2 = load_sq(spark, f"{ART}/sq")
    assert (p2.gmin, p2.gmax) == (p.gmin, p.gmax)
    assert dict(packed.dtypes)["qvector"] == "array<tinyint>"
    # decompress round-trips within the quantization envelope
    dec = sq_decompress(packed, p2, "qvector", "vector")
    err = (
        dec.join(base.withColumnRenamed("vector", "orig"), "id")
        .selectExpr(
            "max(aggregate(zip_with(vector, orig, (a, b) -> abs(a - cast(b as double))), "
            "0D, (acc, x) -> greatest(acc, x))) as e"
        )
        .first()["e"]
    )
    assert err <= p.scale / 2 + 1e-9


def test_clustered_layout_partition_pruning(spark, base):
    """save_clustered writes partitioned by cluster_bucket; a probed-
    cluster filter must show up as a PartitionFilter (pruning whole
    directories, the 100 TB probe path)."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from scalablevectorsearch_spark.operators.ivf import ivf_build, save_clustered

    idx = ivf_build(base, 8, 1)
    path = f"{ART}/clustered"
    save_clustered(idx, path, n_buckets=8)
    re_read = spark.read.parquet(path)
    probed = re_read.filter(F.col("cluster_bucket").isin([1, 3]))
    buf = io.StringIO()
    with redirect_stdout(buf):
        probed.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "cluster_bucket" in plan
    assert probed.count() == idx.clustered.filter(
        F.pmod(F.col("cluster_id"), F.lit(8)).isin([1, 3])
    ).count()


def test_manifest_schema_mismatch_raises(spark, base):
    save_index(f"{ART}/generic", {"data": base.limit(5)}, "flat_data")
    with pytest.raises(ManifestError, match="schema mismatch"):
        load_index(spark, f"{ART}/generic", expect_schema="vamana_index")


def test_missing_manifest_raises(spark):
    with pytest.raises(ManifestError, match="no manifest"):
        load_index(spark, f"{ART}/nonexistent")


def test_upgrade_v01_manifest_and_load(spark, base):
    """v0.1 manifests (tables as a name list) are refused by load with
    an upgrade hint; upgrade_index migrates in place with a backup and
    the index then loads (upgrader.py upgrade() parity)."""
    import json
    import os

    from scalablevectorsearch_spark.sources.index_store import (
        BACKUP_NAME,
        FORMAT_VERSION,
        MANIFEST_NAME,
        upgrade_index,
    )

    p = f"{ART}/upgr"
    save_index(p, {"data": base.limit(5)}, "flat_data")
    # rewrite the manifest as the old v0.1 layout
    mpath = os.path.join(p, MANIFEST_NAME)
    with open(mpath) as f:
        m = json.load(f)
    m["__version__"] = [0, 1, 0]
    m["tables"] = sorted(m["tables"])
    with open(mpath, "w") as f:
        json.dump(m, f)

    with pytest.raises(ManifestError, match="upgrade"):
        load_index(spark, p)

    upgraded = upgrade_index(p)
    assert upgraded["__version__"] == FORMAT_VERSION
    assert isinstance(upgraded["tables"], dict)
    assert "id" in upgraded["tables"]["data"]
    assert os.path.exists(os.path.join(p, BACKUP_NAME))

    manifest, tables = load_index(spark, p)
    assert tables["data"].count() == 5

    # idempotent: second upgrade is a no-op and does not touch the backup
    assert upgrade_index(p)["__version__"] == FORMAT_VERSION


def test_future_version_refused(spark, base):
    import json
    import os

    from scalablevectorsearch_spark.sources.index_store import MANIFEST_NAME, upgrade_index

    p = f"{ART}/future"
    save_index(p, {"data": base.limit(3)}, "flat_data")
    mpath = os.path.join(p, MANIFEST_NAME)
    with open(mpath) as f:
        m = json.load(f)
    m["__version__"] = [9, 0, 0]
    with open(mpath, "w") as f:
        json.dump(m, f)
    with pytest.raises(ManifestError, match="future"):
        load_index(spark, p)
    with pytest.raises(ManifestError, match="future"):
        upgrade_index(p)


def test_layout_drift_detected(spark, base):
    """check_layout: a table rewritten with different columns after save
    is caught at load time from the footers alone."""
    p = f"{ART}/drift"
    save_index(p, {"data": base.limit(3)}, "flat_data")
    base.limit(3).selectExpr("id as renamed", "vector").write.mode(
        "overwrite"
    ).parquet(f"{p}/data")
    with pytest.raises(ManifestError, match="drifted"):
        load_index(spark, p)


def _job_ids(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_takes_schema_from_footer_without_a_job(spark, base):
    """Spark-written tables load with the schema from their footer: no
    schema-inference job, and the schema inference would give."""
    p = f"{ART}/footer_schema"
    save_index(p, {"data": base.limit(5), "ids": base.limit(5).select("id")}, "flat_data")
    (_, tables), jobs = _job_ids(spark, "svs-test-load-index", lambda: load_index(spark, p))
    assert jobs == []
    for name, df in tables.items():
        assert df.schema == spark.read.parquet(f"{p}/{name}").schema
    assert tables["data"].count() == 5


def test_load_infers_schema_of_foreign_table(spark, base):
    """A table written without Spark's footer schema (here by pyarrow)
    still loads, through inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = f"{ART}/foreign"
    save_index(p, {"data": base.limit(3)}, "flat_data")
    rows = base.limit(3).collect()
    shutil.rmtree(f"{p}/data")
    os.makedirs(f"{p}/data")
    pq.write_table(
        pa.table({
            "id": pa.array([r["id"] for r in rows], pa.int64()),
            "vector": pa.array([list(r["vector"]) for r in rows], pa.list_(pa.float32())),
        }),
        f"{p}/data/part-0.parquet",
    )
    _, tables = load_index(spark, p, check_layout=False)
    got = sorted((r["id"], list(r["vector"])) for r in tables["data"].collect())
    assert got == sorted((r["id"], list(r["vector"])) for r in rows)


def test_vamana_save_load_dims_without_jobs(spark, base):
    """dims comes from the written data table: save runs only its write
    jobs, load runs none, and a manifest whose dims disagree with the
    data is still refused."""
    import json

    from scalablevectorsearch_spark.sources.index_store import MANIFEST_NAME

    idx = vamana_build(base, VamanaParams(graph_max_degree=8, window_size=20), n_shards=2)
    p = f"{ART}/vamana_dims"
    manifest, save_jobs = _job_ids(spark, "svs-test-save", lambda: save_vamana(idx, p))
    assert manifest["params"]["dims"] == len(base.first()["vector"])
    assert len(save_jobs) == len(manifest["tables"])  # one write job per table
    loaded, load_jobs = _job_ids(spark, "svs-test-load", lambda: load_vamana(spark, p))
    assert load_jobs == []
    loaded.layout.unpersist()

    mpath = os.path.join(p, MANIFEST_NAME)
    with open(mpath) as f:
        m = json.load(f)
    m["params"]["dims"] += 1
    with open(mpath, "w") as f:
        json.dump(m, f)
    with pytest.raises(ManifestError, match="dims mismatch"):
        load_vamana(spark, p)


def test_kmeans_sharded_vamana_roundtrip(spark, base, queries):
    """Cluster-sharded (SPANN-style) indexes must persist their shard
    centroids: a loaded index re-stamps vectors with the SAME cells the
    graphs were built under, and routed searches keep working."""
    from scalablevectorsearch_spark.operators.vamana import vamana_search

    idx = vamana_build(
        base, VamanaParams(graph_max_degree=8, window_size=20),
        n_shards=4, shard_by="kmeans",
    )
    direct = _rows(vamana_search(idx, queries, k=5, search_window_size=20))
    save_vamana(idx, f"{ART}/vamana_km")
    loaded = load_vamana(spark, f"{ART}/vamana_km")
    assert loaded.shard_model is not None
    import numpy as np

    np.testing.assert_array_equal(
        loaded.shard_model.centroids, idx.shard_model.centroids
    )
    assert direct == _rows(vamana_search(loaded, queries, k=5, search_window_size=20))
    # routed search on the loaded index
    routed = vamana_search(loaded, queries, k=5, search_window_size=20, n_probes=2)
    assert routed.count() > 0
