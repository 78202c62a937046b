"""The ANN store's control-plane IO seam (`read_rows` / `write_rows` /
`batch_ids` / `row_count` in ext/ann_index.py). On a LOCAL store the KB
control files (/meta, /centroids, /codebook) are written/read
DRIVER-SIDE via pyarrow (zero Spark jobs); on a remote store the same
calls go through Spark IO. These tests run BOTH implementations on a
local dir and pin that they produce interchangeable files (same
Spark-read schema, same rows) and read back the same rows — the
bit-parity precondition for every stored==ad-hoc guarantee built on
top.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from scripts_toolkit_spark.ext import ann_index as ANN


CONTROL_ROWS = {
    "meta": [(2, True, True, 64, 4, 16, False, 4, 44, 64)],
    "centroids": [(0, [1.0, 2.5]), (1, [0.25, -3.0])],
    "codebook": [(0, 0, [1.0]), (0, 1, [2.0]), (1, 0, [3.0]), (1, 1, [4.0])],
}


def _schema(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def test_meta_pyarrow_write_matches_spark_write(spark, tmp_path):
    """Every control file (meta, centroids, codebook) through both seam
    implementations on one local dir."""
    pa_store = str(tmp_path / "pa_store")
    sp_store = str(tmp_path / "sp_store")
    pa_io, sp_io = ANN._ArrowStoreIO(pa_store), ANN._SparkStoreIO(spark, sp_store)
    for name, rows in CONTROL_ROWS.items():
        pa_io.write_rows(name, rows)
        # the remote implementation, run on a local dir for comparison
        sp_io.write_rows(name, rows)
        pa_df = spark.read.parquet(f"{pa_store}/{name}")
        sp_df = spark.read.parquet(f"{sp_store}/{name}")
        assert _schema(pa_df) == _schema(sp_df), name
        assert sorted(map(tuple, pa_df.collect())) == sorted(rows), name
        assert sorted(map(tuple, sp_df.collect())) == sorted(rows), name
        # either implementation reads either file back as the same dicts
        got = [
            sorted(io.read_rows(name), key=str)
            for store in (pa_store, sp_store)
            for io in (ANN._ArrowStoreIO(store), ANN._SparkStoreIO(spark, store))
        ]
        assert all(g == got[0] for g in got), name
        # the seam call on a local path is the pyarrow one
        assert ANN.read_rows(spark, pa_store, name) == pa_io.read_rows(name)
    assert ANN._meta_dict(spark, pa_store) == ANN._meta_dict(spark, sp_store)
    # absent file: None from both implementations
    assert pa_io.read_rows("nope") is None and sp_io.read_rows("nope") is None


def test_centroids_and_codebook_roundtrip(spark, tmp_path):
    store = str(tmp_path / "store")
    cent_rows = CONTROL_ROWS["centroids"]
    cb_rows = CONTROL_ROWS["codebook"]
    ANN.write_rows(spark, store, "centroids", cent_rows)
    ANN.write_rows(spark, store, "codebook", cb_rows)
    cents = spark.read.parquet(store + "/centroids")
    assert cents.schema.simpleString() == (
        "struct<cell_id:int,centroid:array<double>>"
    )
    assert sorted((r["cell_id"], r["centroid"]) for r in cents.collect()) == cent_rows
    cb = spark.read.parquet(store + "/codebook")
    assert cb.schema.simpleString() == "struct<s:int,code:int,csub:array<double>>"
    assert ANN._codebook_rows(spark, store) == cb_rows
    cb_np, m, n_codes, sub_dim = ANN._codebook_from_rows(ANN._codebook_rows(spark, store))
    assert (m, n_codes, sub_dim) == (2, 2, 1)
    # driver read == Spark collect, element for element
    via_spark = [(r["s"], r["code"], list(r["csub"])) for r in cb.collect()]
    assert ANN._codebook_from_rows(via_spark)[0].tolist() == cb_np.tolist()
    assert ANN.row_count(spark, store, "centroids") == len(cent_rows)
    assert ANN._SparkStoreIO(spark, store).row_count("codebook") == len(cb_rows)
    assert ANN._codebook_rows(spark, str(tmp_path / "ivf_only")) is None


def test_centroid_rows_from_store_matches_collect(spark, sf_dir, tmp_path):
    from scripts_toolkit_spark.io.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    store = str(tmp_path / "store")
    ANN.build_ann_index(emb, store, n_cells=8)
    meta = ANN._meta_dict(spark, store)
    rows = ANN._centroid_rows_from_store(spark, store, meta)
    assert rows is not None
    via_spark = sorted(
        (int(r["cell_id"]), list(r["centroid"]))
        for r in spark.read.parquet(store + "/centroids").collect()
    )
    assert rows == via_spark
    # the footer count and the recorded shape agree with the realized model
    assert ANN.row_count(spark, store, "centroids") == len(rows)
    assert ANN._meta_shape(meta) == (len(rows), len(rows[0][1]))


def test_next_batch_id_from_layout(spark, sf_dir, tmp_path):
    from scripts_toolkit_spark.io.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 5 != 0).limit(200)
    late = emb.where(F.col("vec_id") % 5 == 0).limit(50)
    store = str(tmp_path / "store")
    assert ANN.batch_ids(spark, store) == []  # nothing written yet
    ANN.build_ann_index(base, store, n_cells=8)
    assert ANN.batch_ids(spark, store) == [-1]  # only the train-time partition
    ANN.append_to_index(spark, store, late)
    ANN.append_to_index(spark, store, late.limit(10))
    assert ANN.batch_ids(spark, store) == [-1, 0, 1]
    # the Hadoop FileSystem listing of the remote implementation agrees
    listed = ANN._SparkStoreIO(spark, store).listdir("vectors")
    assert [d for d in listed if d.startswith("batch_id=")] == [
        d for d in ANN._ArrowStoreIO(store).listdir("vectors") if d.startswith("batch_id=")
    ]


def test_non_local_paths_fall_back(spark):
    assert ANN._local_fs_path("hdfs://nn/store") is None
    assert ANN._local_fs_path("s3a://bucket/store") is None
    assert ANN._local_fs_path("file:///tmp/x") == "/tmp/x"
    assert ANN._local_fs_path("/tmp/x") == "/tmp/x"
    assert isinstance(ANN._store_io(spark, "hdfs://nn/store"), ANN._SparkStoreIO)
    assert isinstance(ANN._store_io(spark, "s3a://bucket/store"), ANN._SparkStoreIO)
    assert isinstance(ANN._store_io(spark, "file:///tmp/x"), ANN._ArrowStoreIO)
    missing = "/tmp/definitely_missing_spark_graft_store"
    assert ANN.read_rows(spark, missing, "meta") is None
    assert ANN._meta_dict(spark, missing) == {}
    assert ANN.batch_ids(spark, missing) == []


def test_lifecycle_through_spark_io_matches_pyarrow(spark, sf_dir, tmp_path, monkeypatch):
    """Every verb of a spilled residual store with all control-plane IO
    forced through the Spark implementation (the path a remote store
    takes) leaves the same meta and serves the same rows as the pyarrow
    path."""
    from scripts_toolkit_spark.io.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base, late = emb.where("vec_id % 5 <> 0"), emb.where("vec_id % 5 = 0")

    def lifecycle(path):
        ANN.build_ann_index(base, path, n_home=2, residual=True, pq_n_codes=64)
        ANN.append_to_index(spark, path, late)
        pq_hits = ANN.search_index(spark, path, k=3, n_probe=3, use_pq=True).collect()
        ANN.compact_index(spark, path)
        ANN.retrain_index(spark, path)
        hits = ANN.search_index(spark, path, k=3, n_probe=3).collect()
        return sorted(map(tuple, pq_hits)), sorted(map(tuple, hits)), ANN._meta_dict(spark, path)

    local = lifecycle(str(tmp_path / "local"))
    monkeypatch.setattr(ANN, "_local_fs_path", lambda path: None)
    remote = lifecycle("file://" + str(tmp_path / "remote"))
    assert local[0] and local[1]
    assert remote == local


def _partition_rows(path, sub, batch_id):
    import pyarrow.parquet as pq

    t = pq.ParquetDataset(f"{path}/{sub}/batch_id={batch_id}").read()
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r.values())
        for r in t.to_pylist()
    )


@pytest.mark.parametrize("store", ["ivf", "plain_pq_spilled", "residual_spilled"])
def test_driver_append_matches_distributed_writer(spark, sf_dir, tmp_path, store):
    """A flat-store append (driver collect + the numpy row-block kernels +
    seam writes) leaves /vectors and /codes partitions row-identical to
    the distributed writer (`_assign_stored` + `_write_stored`) fed the
    same batch and model."""
    import shutil

    from scripts_toolkit_spark.ext.similarity import (
        deterministic_centroids,
        normalize_vectors,
        pq_subspace_codebook,
    )
    from scripts_toolkit_spark.io.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base, late = emb.where("vec_id % 5 <> 0"), emb.where("vec_id % 5 = 0")
    if store == "ivf":
        kw = dict(n_cells=8)
    elif store == "plain_pq_spilled":
        # a caller-provided model: 8 centroids and a slice codebook
        big = deterministic_centroids(normalize_vectors(base).localCheckpoint(), 64)
        cb = pq_subspace_codebook(
            big.select(F.col("cell_id").alias("code"), "centroid"), m=4, sub_dim=16
        )
        kw = dict(centroids=big.where("cell_id < 8"), sub_codebook=cb, n_home=2)
    else:
        kw = dict(n_cells=8, n_home=2, residual=True, pq_n_codes=64)
    driver, dist = str(tmp_path / "driver"), str(tmp_path / "dist")
    ANN.build_ann_index(base, driver, **kw)
    shutil.copytree(driver, dist)

    model = ANN.read_model(spark, driver)
    assert model.cent_rows is not None  # the driver branch runs
    ANN.append_to_index(spark, driver, late)
    dist_model = ANN.read_model(spark, dist)
    ANN._write_stored(
        spark, dist, ANN._assign_stored(late, dist_model, model.n_home, normalize=True),
        0, dist_model,
    )
    subs = ["vectors"] + (["codes"] if model.cb_rows is not None else [])
    for sub in subs:
        got = _partition_rows(driver, sub, 0)
        assert got == _partition_rows(dist, sub, 0), sub
        assert len(got) == model.n_home * late.count(), sub
    # the appended store reads back whole: schemas of every partition agree
    frame = ANN.append_to_index(spark, driver, late.limit(7))
    assert frame.count() == model.n_home * (emb.count() + 7)
    assert ANN.batch_ids(spark, driver) == [-1, 0, 1]


def test_flat_append_is_one_job(spark, sf_dir, tmp_path):
    """Appending to a spilled residual store whose flat model the driver
    holds schedules ONE Spark job: the batch's Arrow collect (model reads
    and partition writes go through the local seam)."""
    from scripts_toolkit_spark.io.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where("vec_id % 5 <> 0")
    late = spark.read.parquet(sf_dir + "/embeddings.parquet").where("vec_id % 5 = 0")
    late.schema  # resolve the batch's own schema outside the counted call
    store = str(tmp_path / "store")
    ANN.build_ann_index(base, store, n_home=2, residual=True, pq_n_codes=64)
    sc = spark.sparkContext
    sc.setJobGroup("flat-append", "flat append job count")
    try:
        ANN.append_to_index(spark, store, late)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("flat-append")) == 1


@pytest.mark.parametrize(
    "bad, why",
    [
        ([0.0] * 64, "has zero or non-finite norm"),
        (None, "is null or not 64 long"),
        ([1.0] * 63, "is null or not 64 long"),
        ([float("nan")] + [1.0] * 63, "has zero or non-finite norm"),
    ],
)
def test_append_refuses_bad_vectors_before_any_write(spark, sf_dir, tmp_path, bad, why):
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    from scripts_toolkit_spark.io.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").where("vec_id % 5 <> 0")
    store = str(tmp_path / "store")
    ANN.build_ann_index(emb, store, n_home=2, residual=True, pq_n_codes=64)
    ANN.append_to_index(spark, store, emb.limit(3))
    before = (
        ANN.batch_ids(spark, store),
        spark.read.parquet(store + "/vectors").count(),
        spark.read.parquet(store + "/codes").count(),
    )
    schema = StructType(
        [StructField("vec_id", LongType()), StructField("embedding", ArrayType(DoubleType()))]
    )
    good = [float(i % 7) + 1.0 for i in range(64)]
    batch = spark.createDataFrame(
        [(900001, good), (900002, bad), (900003, good), (900004, good), (900005, good)], schema
    )
    with pytest.raises(ValueError, match=f"vec_id=900002 {why}"):
        ANN.append_to_index(spark, store, batch)
    after = (
        ANN.batch_ids(spark, store),
        spark.read.parquet(store + "/vectors").count(),
        spark.read.parquet(store + "/codes").count(),
    )
    assert after == before


def test_write_partition_replaces_the_partition(spark, tmp_path):
    """Both seam implementations: a second write of the same batch id
    replaces that partition's rows (dynamic overwrite), leaves the others,
    and writes files either implementation reads back the same."""
    import pyarrow as pa

    first = pa.table({"vec_id": pa.array([1, 2], pa.int64()), "cell_id": pa.array([0, 1], pa.int32())})
    second = pa.table({"vec_id": pa.array([3], pa.int64()), "cell_id": pa.array([5], pa.int32())})
    got = []
    for name, io in (
        ("pa", ANN._ArrowStoreIO(str(tmp_path / "pa"))),
        ("sp", ANN._SparkStoreIO(spark, str(tmp_path / "sp"))),
    ):
        io.write_partition("codes", 0, first)
        io.write_partition("codes", 1, first)
        io.write_partition("codes", 0, second)
        rows = spark.read.parquet(str(tmp_path / name / "codes")).collect()
        got.append(sorted((r["batch_id"], r["vec_id"], r["cell_id"]) for r in rows))
        assert [d for d in io.listdir("codes") if not d.startswith("_")] == [
            "batch_id=0", "batch_id=1"
        ]
    assert got[0] == got[1] == [(0, 3, 5), (1, 1, 0), (1, 2, 1)]
