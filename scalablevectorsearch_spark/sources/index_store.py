"""Index persistence — Parquet table directories + a JSON manifest
carrying the reference's explicit ``__schema__``/``__version__``
discipline.

Parity: /root/reference/include/svs/lib/saveload.h (every saved object
is a table with __schema__ + __version__), include/svs/core/io/native.h:50-139
(header magic/uuid/kind validation on load), bindings/python/src/
vamana.cpp:280-286 (index.save(config, graph, data) three-directory
layout), :340-352 (assemble-from-pieces with schema dispatch).

Spark shape: ``save`` = one ``df.write.parquet`` per component table +
one manifest.json; ``load`` = manifest validation (schema name, major
version, declared tables present) + ``spark.read.parquet`` per table,
with the schema Spark wrote into the footer so no inference job runs.
An index on disk is exactly its DataFrames — readable by any Spark job,
no custom binary format (the reference's mmap'd native file is a
single-node optimization Spark's columnar scan replaces).

Format versions (mirrors the reference's global serialization version,
load.h:810-825 ``check_global_version`` + the ``svs.upgrader`` tool):
 - v0.1.0: ``tables`` is a list of table names.
 - v0.2.0 (current): ``tables`` maps each table name to its parquet
   column->type dict (read back from the written footers), so ``load``
   self-validates the on-disk layout against the manifest without a
   Spark job. ``upgrade_index`` migrates v0.1 manifests in place (with
   a ``manifest.backup.json``, like the reference's ``.backup.toml``);
   ``load_index`` refuses older formats with an upgrade hint and
   refuses files from the future, exactly as the reference does."""

from __future__ import annotations

import json
import os
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_NAME = "manifest.json"
#: parquet footer key under which Spark stores the written DataFrame schema
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"
BACKUP_NAME = "manifest.backup.json"
FORMAT_VERSION = [0, 2, 0]


class ManifestError(ValueError):
    pass


def _parts(table_dir: str) -> list[str]:
    import glob

    return sorted(glob.glob(os.path.join(table_dir, "*.parquet")))


def _table_schema(table_dir: str) -> dict[str, str]:
    """Column -> arrow type string, from the parquet footer (no Spark
    job — the upgrader and save both run driver-side only)."""
    import pyarrow.parquet as pq

    parts = _parts(table_dir)
    if not parts:
        raise ManifestError(f"no parquet files under {table_dir}")
    sch = pq.read_schema(parts[0])
    return {name: str(sch.field(name).type) for name in sch.names}


def _read_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """``spark.read.parquet`` with the schema Spark recorded in the
    footer, which skips the schema-inference job; a table without that
    key (or without part files) is read with inference as before."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    parts = _parts(table_dir)
    meta = (pq.read_schema(parts[0]).metadata or {}) if parts else {}
    row_meta = meta.get(SPARK_ROW_METADATA)
    if row_meta is None:
        return spark.read.parquet(table_dir)
    schema = StructType.fromJson(json.loads(row_meta))
    return spark.read.schema(schema).parquet(table_dir)


def _dims_on_disk(table_dir: str, vec_col: str) -> int:
    """Length of the first non-null ``vec_col`` value of a written
    table, read through pyarrow on the driver (no Spark job); 0 when
    the table holds no vector."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for part in _parts(table_dir):
        for batch in pq.ParquetFile(part).iter_batches(batch_size=1024, columns=[vec_col]):
            sizes = pc.list_value_length(batch.column(0)).drop_null()
            if len(sizes):
                return int(sizes[0].as_py())
    return 0


def _arrow_schema(df: DataFrame) -> dict[str, str]:
    """Column -> arrow type string for a (not yet written) DataFrame —
    the same vocabulary :func:`_table_schema` reads from footers, so
    the two are directly comparable."""
    from pyspark.sql.pandas.types import to_arrow_schema

    sch = to_arrow_schema(df.schema)
    return {name: str(sch.field(name).type) for name in sch.names}


def _norm_schema(schema: dict[str, str]) -> dict[str, str]:
    """Normalize arrow type spellings that differ between a live
    ``to_arrow_schema`` conversion and a Spark-written parquet footer
    (list element field naming, large vs plain offsets) — differences
    that do NOT change what a reader gets back."""
    return {
        name: t.replace("large_", "").replace("item:", "element:")
        for name, t in schema.items()
    }


def save_index(
    path: str,
    tables: dict[str, DataFrame],
    schema_name: str,
    params: dict[str, Any] | None = None,
    precomputed: set[str] | None = None,
    dims_from: tuple[str, str] | None = None,
) -> dict[str, Any]:
    """Write component tables + manifest; returns the manifest dict.

    ``dims_from``: ``(table, vector column)`` whose first written
    vector's length is recorded as ``params["dims"]`` — read back from
    the written files, so it costs no Spark job.

    ``precomputed``: table names already written under ``path`` by the
    caller (e.g. a disk-budgeted bulk build that streams the data table
    out before the graph job so the intermediate it derives from can be
    stage-deleted) — skipped here, but still validated and recorded in
    the manifest from their on-disk footers like every other table."""
    os.makedirs(path, exist_ok=True)
    skip = precomputed or set()
    for name in skip:
        if name not in tables:
            raise ManifestError(f"precomputed table {name!r} not declared")
        # must already exist on disk with readable footers AND match
        # the declared DataFrame's schema (r12, ADVICE r11): a stale or
        # wrong pre-written table would otherwise be recorded verbatim
        # into the manifest — load-time check_layout compares disk vs
        # manifest, so it would trivially pass and the failure would
        # surface as an opaque downstream job error
        found = _table_schema(os.path.join(path, name))
        declared = _arrow_schema(tables[name])
        if _norm_schema(found) != _norm_schema(declared):
            raise ManifestError(
                f"precomputed table {name!r} on-disk schema {found} does "
                f"not match the declared DataFrame schema {declared}"
            )
    for name, df in tables.items():
        if name in skip:
            continue
        df.write.mode("overwrite").parquet(os.path.join(path, name))
    params = dict(params or {})
    if dims_from is not None:
        table, vec_col = dims_from
        params["dims"] = _dims_on_disk(os.path.join(path, table), vec_col)
    manifest = {
        "__schema__": schema_name,
        "__version__": FORMAT_VERSION,
        "tables": {
            name: _table_schema(os.path.join(path, name)) for name in sorted(tables)
        },
        "params": params,
    }
    with open(os.path.join(path, MANIFEST_NAME), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest


def _read_manifest(path: str) -> dict[str, Any]:
    mpath = os.path.join(path, MANIFEST_NAME)
    if not os.path.exists(mpath):
        raise ManifestError(f"no {MANIFEST_NAME} at {path}")
    with open(mpath) as f:
        manifest = json.load(f)
    for key in ("__schema__", "__version__", "tables"):
        if key not in manifest:
            raise ManifestError(f"manifest missing {key!r}")
    return manifest


def _check_version(version: list, path: str) -> None:
    """check_global_version (load.h:810-825): refuse old formats with an
    upgrade hint, refuse formats from the future."""
    if list(version) == FORMAT_VERSION:
        return
    if list(version) < FORMAT_VERSION:
        raise ManifestError(
            f"{path} uses serialization version {version}; upgrade with "
            f"scalablevectorsearch_spark.sources.index_store.upgrade_index({path!r})"
        )
    raise ManifestError(
        f"cannot handle file from the future with serialization version {version}"
    )


def load_index(
    spark: SparkSession,
    path: str,
    expect_schema: str | None = None,
    check_layout: bool = True,
) -> tuple[dict[str, Any], dict[str, DataFrame]]:
    """Validate the manifest and load each declared table.

    ``check_layout``: verify each table's on-disk parquet schema matches
    the manifest's recorded column types (footer reads only — catches
    partial/corrupted writes before any job runs)."""
    manifest = _read_manifest(path)
    if expect_schema is not None and manifest["__schema__"] != expect_schema:
        raise ManifestError(
            f"schema mismatch: found {manifest['__schema__']!r}, expected {expect_schema!r}"
        )
    _check_version(manifest["__version__"], path)
    if check_layout:
        for name, cols in manifest["tables"].items():
            found = _table_schema(os.path.join(path, name))
            if found != cols:
                raise ManifestError(
                    f"table {name!r} layout drifted from manifest: "
                    f"found {found}, manifest {cols}"
                )
    tables = {
        name: _read_table(spark, os.path.join(path, name)) for name in manifest["tables"]
    }
    return manifest, tables


def upgrade_index(path: str, backup: bool = True) -> dict[str, Any]:
    """Upgrade a saved index's manifest to FORMAT_VERSION in place —
    the reference's ``svs.upgrader.upgrade(path, backup=True)``.

    v0.1 -> v0.2: the ``tables`` name list becomes a name -> parquet
    column/type map read from the written footers. Already-current
    manifests are left unchanged; future versions raise."""
    manifest = _read_manifest(path)
    version = list(manifest["__version__"])
    if version == FORMAT_VERSION:
        return manifest  # up to date — no-op, like the reference
    if version > FORMAT_VERSION:
        raise ManifestError(
            f"cannot handle file from the future with serialization version {version}"
        )
    if backup:
        bpath = os.path.join(path, BACKUP_NAME)
        if os.path.exists(bpath):
            raise ManifestError(f"backup {bpath} already exists; aborting")
        import shutil

        shutil.copy(os.path.join(path, MANIFEST_NAME), bpath)
    # v0.1.x -> v0.2.0
    names = (
        list(manifest["tables"])
        if isinstance(manifest["tables"], (list, dict))
        else None
    )
    if names is None:
        raise ManifestError(f"unrecognized tables entry: {manifest['tables']!r}")
    manifest["tables"] = {
        name: _table_schema(os.path.join(path, name)) for name in sorted(names)
    }
    manifest["__version__"] = FORMAT_VERSION
    with open(os.path.join(path, MANIFEST_NAME), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest


# ---------------------------------------------------------------- vamana


def save_vamana(
    index, path: str, precomputed: set[str] | None = None
) -> dict[str, Any]:
    from scalablevectorsearch_spark.operators.vamana import VamanaIndex  # noqa: F401

    data = index.base.select(
        F.col(index.id_col).cast("long").alias("id"), F.col(index.vec_col).alias("vector")
    )
    p = index.params
    tables = {"data": data, "graph": index.graph}
    params = {
        "distance": index.distance,
        "n_shards": index.n_shards,
        "shard_by": "hash" if index.shard_model is None else "kmeans",
        "alpha": p.alpha,
        "graph_max_degree": p.graph_max_degree,
        "window_size": p.window_size,
        "max_candidate_pool_size": p.max_candidate_pool_size,
        "prune_to": p.prune_to,
        "use_full_search_history": p.use_full_search_history,
        "build_dtype": p.build_dtype,
    }
    if index.sq_params is not None:
        # SQ-compressed index (extensions/vamana/scalar.h): the data
        # table already holds compressed-domain vectors; the scale/bias
        # that correct its distances are part of the index identity
        params["sq_gmin"] = index.sq_params.gmin
        params["sq_gmax"] = index.sq_params.gmax
    lvq = getattr(index, "lvq_params", None)
    if lvq is not None:
        # LVQ index (data_traits.h primary_bits/residual_bits): the
        # data table holds the primary reconstruction; the centering
        # mean + bit widths are the index identity
        params["lvq_primary_bits"] = lvq.primary_bits
        params["lvq_residual_bits"] = lvq.residual_bits
        params["lvq_mean"] = [float(x) for x in lvq.mean]
        # packed layout: the data table holds [lo, step, code bytes]
        # rows and kernels decode at entry — the decoder is rebuilt
        # from these params at load
        params["lvq_packed"] = getattr(index, "vec_decode", None) is not None
    lv = getattr(index, "leanvec_model", None)
    if lv is not None:
        # LeanVec index (data_traits.h leanvec_dims + the projection
        # pair of training.h): queries cannot be projected without the
        # matrices, so they ARE the index
        params["leanvec_mean"] = [float(x) for x in lv.mean]
        params["leanvec_data_matrix"] = [
            [float(x) for x in row] for row in lv.data_matrix
        ]
        params["leanvec_query_matrix"] = [
            [float(x) for x in row] for row in lv.query_matrix
        ]
        # re-rank metric (== distance except cosine, whose primary
        # graph runs in IP geometry over the normalized projection)
        params["leanvec_distance"] = getattr(
            index, "leanvec_distance", None
        ) or index.distance
    if index.shard_model is not None:
        # cluster-sharded (SPANN-style) layout: the centroids ARE part
        # of the index — without them a loaded index would re-stamp
        # vectors by hash and disagree with the saved per-cell graphs
        spark = index.base.sparkSession
        tables["shard_centroids"] = index.shard_model.centroids_df(spark)
        params["shard_n_iters"] = index.shard_model.n_iters
        params["shard_round_decimals"] = index.shard_model.round_decimals
        params["closure_bp"] = index.closure_bp
        # which stamp kernel assigned the shards (flat vs grouped
        # triangle-pruned — exact-identical assignments by the gated
        # invariant, but a 1e8-row re-derivation MUST take the grouped
        # path: the flat O(N*S*d) pass is ~50 h at 1e8 x 12k shards)
        params["stamp_hierarchical"] = bool(
            getattr(index, "stamp_hierarchical", False)
        )
    if index.layout is not None:
        # persist the EXACT (shard_id, id) assignment the graphs were
        # built on — for EVERY shard mode, not just kmeans. Kmeans:
        # re-deriving repeats an exact float cutoff (nearest-centroid
        # argmin; closure's e4 comparison) that a different BLAS build
        # could resolve differently for boundary rows. Hash: id mod
        # n_shards is only correct for the ORIGINAL ids — a compacted
        # index's dense ids no longer satisfy it, so a re-derived layout
        # would disagree with the saved graphs' shard stamps. Either
        # way, a row assigned to a cell whose graph doesn't contain it
        # is silently dropped by _decode_adjacency; the assignment
        # table makes the loaded layout provably identical to the built
        # one.
        tables["layout_assign"] = index.layout.select(
            "shard_id", F.col("__id").alias("id")
        )
    return save_index(
        path, tables, "vamana_index", params=params, precomputed=precomputed,
        dims_from=("data", "vector"),
    )


def load_vamana(spark: SparkSession, path: str, validate: bool = False):
    from scalablevectorsearch_spark.operators.vamana import VamanaIndex
    from scalablevectorsearch_spark.operators.vamana_local import VamanaParams

    manifest, tables = load_index(spark, path, expect_schema="vamana_index")
    p = manifest["params"]
    data = tables["data"]
    if validate:
        # full check_dims pass: ragged/null/dup detection (one agg scan)
        from scalablevectorsearch_spark.functions.schema import validate_vector_table

        validate_vector_table(
            data, expected_dims=p.get("dims") or None, check_ids_unique=True
        )
    dims = _dims_on_disk(os.path.join(path, "data"), "vector")
    if p.get("dims") and dims and p["dims"] != dims:
        raise ManifestError(f"dims mismatch: manifest {p['dims']} vs data {dims}")
    params = VamanaParams(
        alpha=p["alpha"],
        graph_max_degree=p["graph_max_degree"],
        window_size=p["window_size"],
        max_candidate_pool_size=p["max_candidate_pool_size"],
        prune_to=p["prune_to"],
        use_full_search_history=p.get("use_full_search_history", False),
        build_dtype=p.get("build_dtype", "float64"),
    )
    shard_model = None
    if p.get("shard_by") == "kmeans":
        from scalablevectorsearch_spark.operators.kmeans import KMeansModel

        rows = tables["shard_centroids"].orderBy("cluster_id").collect()
        C = np.stack([np.asarray(r["centroid"], dtype=np.float64) for r in rows])
        if C.shape[0] != p["n_shards"]:
            raise ManifestError(
                f"shard centroid count {C.shape[0]} != n_shards {p['n_shards']}"
            )
        shard_model = KMeansModel(
            centroids=C,
            n_iters=p.get("shard_n_iters", 0),
            round_decimals=p.get("shard_round_decimals", 6),
        )
    idx = VamanaIndex(
        graph=tables["graph"],
        base=data,
        params=params,
        distance=p["distance"],
        n_shards=p["n_shards"],
        id_col="id",
        vec_col="vector",
        shard_model=shard_model,
        closure_bp=p.get("closure_bp"),
    )
    if p.get("sq_gmin") is not None:
        from scalablevectorsearch_spark.operators.sq import SQParams

        idx.sq_params = SQParams(gmin=p["sq_gmin"], gmax=p["sq_gmax"])
    if p.get("lvq_primary_bits") is not None:
        from scalablevectorsearch_spark.operators.lvq import LVQParams, lvq_decoder

        idx.lvq_params = LVQParams(
            mean=tuple(p["lvq_mean"]), dims=len(p["lvq_mean"]),
            primary_bits=p["lvq_primary_bits"],
            residual_bits=p.get("lvq_residual_bits", 0),
        )
        if p.get("lvq_packed"):
            idx.vec_decode = lvq_decoder(idx.lvq_params)
    if p.get("leanvec_data_matrix") is not None:
        from scalablevectorsearch_spark.operators.leanvec import LeanVecModel

        idx.leanvec_model = LeanVecModel(
            data_matrix=np.asarray(p["leanvec_data_matrix"], dtype=np.float64),
            query_matrix=np.asarray(p["leanvec_query_matrix"], dtype=np.float64),
            mean=tuple(p["leanvec_mean"]),
        )
        idx.leanvec_distance = p.get("leanvec_distance", p["distance"])
    # rebuild the persisted layout with the SAME sharding the graphs
    # were built under. Kmeans-sharded saves carry the exact
    # (shard_id, id) assignment table (see save_vamana) — join it back
    # rather than re-deriving the float cutoffs; hash sharding
    # (id mod n_shards) is environment-independent, so re-derive.
    from scalablevectorsearch_spark.operators.vamana import _by_shard, _sharded
    from pyspark.storagelevel import StorageLevel

    from scalablevectorsearch_spark.operators.kmeans import _resolve_stamp_via

    stamp_hier = p.get("stamp_hierarchical")
    if stamp_hier is None and shard_model is not None:
        stamp_hier = _resolve_stamp_via("auto", shard_model.centroids.shape[0])
    idx.stamp_hierarchical = bool(stamp_hier)
    if "layout_assign" in tables:
        assigned = tables["layout_assign"].join(data, "id").select(
            "shard_id",
            F.col("id").cast("long").alias("__id"),
            F.col("vector").alias("__vec"),
        )
    else:
        # re-derivation must stamp shards in the DECODED geometry: a
        # packed (LVQ) index's raw storage rows have the wrong width
        # and wrong values for nearest-centroid assignment. The stamp
        # kernel follows the manifest (falling back to the build's own
        # auto rule) — a flat pass at large shard counts would be
        # O(N*S*d); the grouped stamp is assignment-identical (gated)
        assigned = _sharded(
            data, p["n_shards"], "id", shard_model, "vector", p.get("closure_bp"),
            vec_decode=getattr(idx, "vec_decode", None),
            stamp_hierarchical=idx.stamp_hierarchical,
        ).select(
            "shard_id",
            F.col("id").cast("long").alias("__id"),
            F.col("vector").alias("__vec"),
        )
    idx.layout = _by_shard(assigned, n_keys=idx.n_shards).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return idx


# ---------------------------------------------------------------- sq


def save_sq(
    df, params, path: str, id_col: str = "id", vec_col: str = "vector"
) -> dict[str, Any]:
    """Persist a scalar-quantized dataset: TINYINT-packed vectors +
    scale/bias in the manifest (scalar.h SQDataset serialization:
    schema 'scalar_quantization_dataset' + scale/bias floats)."""
    from scalablevectorsearch_spark.operators.sq import sq_compress

    packed = sq_compress(df, params, vec_col, "qvector", storage=True).select(
        F.col(id_col).cast("long").alias("id"), "qvector"
    )
    return save_index(
        path,
        {"data": packed},
        "scalar_quantization_dataset",
        params={
            "gmin": params.gmin,
            "gmax": params.gmax,
            "scale": params.scale,
            "bias": params.bias,
        },
        dims_from=("data", "qvector"),
    )


def load_sq(spark: SparkSession, path: str):
    """Returns (packed_df(id, qvector TINYINT[]), SQParams)."""
    from scalablevectorsearch_spark.operators.sq import SQParams

    manifest, tables = load_index(spark, path, expect_schema="scalar_quantization_dataset")
    p = manifest["params"]
    return tables["data"], SQParams(gmin=p["gmin"], gmax=p["gmax"])


# ---------------------------------------------------------------- ivf


def save_ivf(index, path: str) -> dict[str, Any]:
    spark = index.clustered.sparkSession
    centroids = index.model.centroids_df(spark)
    return save_index(
        path,
        {"clustered": index.clustered, "centroids": centroids},
        "ivf_index",
        params={
            "distance": "l2",
            "dims": int(index.model.centroids.shape[1]),
            "n_clusters": int(index.model.centroids.shape[0]),
            "n_iters": index.model.n_iters,
            "round_decimals": index.model.round_decimals,
            "id_col": index.id_col,
            "vec_col": index.vec_col,
        },
    )


def load_ivf(spark: SparkSession, path: str):
    from scalablevectorsearch_spark.operators.ivf import IVFIndex
    from scalablevectorsearch_spark.operators.kmeans import KMeansModel

    manifest, tables = load_index(spark, path, expect_schema="ivf_index")
    p = manifest["params"]
    rows = tables["centroids"].orderBy("cluster_id").collect()
    C = np.stack([np.asarray(r["centroid"], dtype=np.float64) for r in rows])
    if C.shape != (p["n_clusters"], p["dims"]):
        raise ManifestError(f"centroid shape {C.shape} vs manifest {p['n_clusters']}x{p['dims']}")
    model = KMeansModel(
        centroids=C, n_iters=p["n_iters"], round_decimals=p["round_decimals"]
    )
    return IVFIndex(
        clustered=tables["clustered"],
        model=model,
        id_col=p["id_col"],
        vec_col=p["vec_col"],
    )
