"""VectorTable facade: the reference's REST surface end-to-end.

Each test mirrors a server behavior by file:line (see api.py's table);
together they prove a reference user can switch by swapping HTTP calls
for method calls.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hnsw_vector_db_spark.api import VectorTable
from hnsw_vector_db_spark.operators.hnsw_partition import hnsw_search
from hnsw_vector_db_spark.sources.parquet import load_table


@pytest.fixture()
def vt(spark, tmp_path):
    return VectorTable.create(spark, str(tmp_path / "vt"), metric="euclidean")


def test_insert_infers_dim_and_rejects_mismatch(vt):
    vid = vt.insert([1.0, 2.0, 3.0])
    assert vid == 0
    assert vt.meta["dim"] == 3  # server.py:140-141 first-insert inference
    with pytest.raises(ValueError, match="dimension mismatch"):
        vt.insert([1.0, 2.0])  # server.py:142-146 -> 400
    assert vt.count() == 1


def test_insert_overwrite_by_external_id_is_upsert(vt):
    vt.insert([0.0, 0.0], external_id=7, metadata={"v": "a"})
    vt.insert([1.0, 1.0], external_id=7, metadata={"v": "b"})
    rows = vt.table().collect()
    assert len(rows) == 1  # graph.py:139 silent overwrite -> explicit LWW
    assert json.loads(rows[0]["metadata"]) == {"v": "b"}
    assert rows[0]["vector"] == [1.0, 1.0]
    # auto ids continue past the external id (graph.py:131-136 counter)
    assert vt.insert([2.0, 2.0]) == 8


def test_batch_insert_partial_success(spark, vt):
    rows = spark.createDataFrame(
        [
            Row(vector=[1.0, 0.0]),
            Row(vector=[0.0, 1.0]),
            Row(vector=[1.0, 2.0, 3.0]),  # wrong dim after inference
            Row(vector=None),
        ]
    )
    out = vt.batch_insert(rows)
    assert out == {"inserted": 2, "failed": 2}  # server.py:202-230 contract
    assert vt.count() == 2


def test_delete_tombstones_and_reports_existing(vt):
    vt.insert([1.0, 0.0], external_id=1)
    vt.insert([0.0, 1.0], external_id=2)
    assert vt.delete([2, 99]) == 1  # only id 2 existed (server.py:188-200)
    ids = {r["id"] for r in vt.table().collect()}
    assert ids == {1}


def test_search_shape_metadata_echo_and_filter(vt):
    vt.insert([0.0, 0.0], external_id=0, metadata={"lang": "en"})
    vt.insert([1.0, 0.0], external_id=1, metadata={"lang": "de"})
    vt.insert([5.0, 5.0], external_id=2, metadata={"lang": "en"})
    hits = vt.search([0.1, 0.0], k=2).collect()
    assert [r["id"] for r in hits] == [0, 1]  # ascending distance
    assert json.loads(hits[0]["metadata"]) == {"lang": "en"}  # server.py:174
    # filtered search — beyond the reference's surface
    en_only = vt.search(
        [0.1, 0.0], k=2,
        where=F.get_json_object("metadata", "$.lang") == "en",
    ).collect()
    assert [r["id"] for r in en_only] == [0, 2]
    with pytest.raises(ValueError, match="k must be"):
        vt.search([0.0, 0.0], k=0)  # server.py:33 bound


def test_capacity_cap(spark, tmp_path):
    vt = VectorTable.create(spark, str(tmp_path / "cap"), max_elements=2)
    vt.insert([1.0])
    vt.insert([2.0])
    with pytest.raises(RuntimeError, match="full"):
        vt.insert([3.0])  # graph.py:129-130


def test_compact_preserves_resolved_table(vt):
    vt.insert([1.0, 0.0], external_id=1, metadata={"k": "a"})
    vt.insert([9.0, 9.0], external_id=1, metadata={"k": "b"})  # overwrite
    vt.insert([0.0, 1.0], external_id=2)
    vt.delete([2])
    before = sorted(map(tuple, vt.table().collect()))
    n = vt.compact()
    assert n == 1
    assert sorted(map(tuple, vt.table().collect())) == before


def test_index_lifecycle_and_staleness_guard(spark, vt, sf_dir):
    from hnsw_vector_db_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vector"),
        F.to_json(F.struct("label")).alias("metadata"),
    )
    vt.batch_insert(emb)
    with pytest.raises(RuntimeError, match="no index"):
        vt.search_approx([0.0] * 64)
    vt.build_index(n_cells=4)
    q = emb.filter(F.col("id") == 5).first()["vector"]
    hits = vt.search_approx(q, k=1, ef=64, nprobe=4).collect()
    assert hits[0]["id"] == 5 and hits[0]["dist"] < 1e-6
    # filtered approx: restrict to odd labels; id 5 has some label — just
    # assert every hit satisfies the predicate
    odd = vt.search_approx(
        q, k=3, ef=96, nprobe=4,
        where=F.get_json_object("metadata", "$.label").cast("int") % 2 == 1,
    ).collect()
    assert odd
    allowed = {
        r["id"]
        for r in vt.table()
        .filter(F.get_json_object("metadata", "$.label").cast("int") % 2 == 1)
        .collect()
    }
    assert {r["id"] for r in odd} <= allowed
    # any mutation makes the index stale -> refuse silently-wrong serving
    vt.insert([0.5] * 64)
    with pytest.raises(RuntimeError, match="stale"):
        vt.search_approx(q)


def test_snapshot_roundtrip_via_reference_format(spark, vt, tmp_path):
    vt.insert([1.0, 2.0], external_id=3, metadata={"tag": "x"})
    vt.insert([4.0, 5.0], external_id=9)
    snap = str(tmp_path / "snap")
    vt.save_snapshot(snap)
    vt2 = VectorTable.from_snapshot(
        spark, snap, str(tmp_path / "vt2"), metric="euclidean"
    )
    a = {r["id"]: (r["vector"], json.loads(r["metadata"] or "{}"))
         for r in vt.table().collect()}
    b = {r["id"]: (r["vector"], json.loads(r["metadata"] or "{}"))
         for r in vt2.table().collect()}
    assert a == b


def test_batch_insert_minted_ids_never_collide_with_explicit(spark, vt):
    rows = spark.createDataFrame(
        [Row(id=1, vector=[1.0, 0.0]), Row(id=None, vector=[0.0, 1.0]),
         Row(id=None, vector=[1.0, 1.0])]
    )
    out = vt.batch_insert(rows)
    assert out == {"inserted": 3, "failed": 0}
    ids = sorted(r["id"] for r in vt.table().collect())
    assert len(ids) == 3 and len(set(ids)) == 3
    assert 1 in ids and min(i for i in ids if i != 1) > 1  # minted above


def test_batch_insert_null_first_vector_still_partial_success(spark, vt):
    rows = spark.createDataFrame(
        [Row(vector=None), Row(vector=[1.0, 2.0])]
    )
    out = vt.batch_insert(rows)
    assert out == {"inserted": 1, "failed": 1}
    assert vt.meta["dim"] == 2  # inferred from the first NON-null row


def test_batch_insert_rejects_intra_batch_duplicate_ids(spark, vt):
    rows = spark.createDataFrame(
        [Row(id=5, vector=[1.0]), Row(id=5, vector=[2.0])]
    )
    with pytest.raises(ValueError, match="duplicate id"):
        vt.batch_insert(rows)


def test_batch_insert_enforces_capacity(spark, tmp_path):
    vt = VectorTable.create(spark, str(tmp_path / "cap2"), max_elements=2)
    rows = spark.createDataFrame(
        [Row(id=i, vector=[float(i)]) for i in range(4)]
    )
    out = vt.batch_insert(rows)
    assert out == {"inserted": 2, "failed": 2}  # lowest ids admitted
    assert sorted(r["id"] for r in vt.table().collect()) == [0, 1]
    # overwriting an EXISTING id at the cap is allowed (doesn't grow)
    out2 = vt.batch_insert(
        spark.createDataFrame([Row(id=0, vector=[9.0])])
    )
    assert out2 == {"inserted": 1, "failed": 0}
    assert vt.count() == 2
    # point insert with a NEW external id at the cap is refused
    with pytest.raises(RuntimeError, match="full"):
        vt.insert([7.0], external_id=42)
    vt.insert([8.0], external_id=1)  # overwrite passes at the cap


def test_compact_removes_superseded_generation(spark, vt):
    import os

    vt.insert([1.0, 2.0])
    old_dir = vt._log_dir()
    vt.compact()
    assert not os.path.exists(old_dir)
    assert vt.count() == 1


def test_from_snapshot_of_empty_table(spark, vt, tmp_path):
    snap = str(tmp_path / "snap")
    vt.save_snapshot(snap)
    vt2 = VectorTable.from_snapshot(
        spark, snap, str(tmp_path / "vt2"), metric="euclidean"
    )
    assert vt2.count() == 0 and vt2.meta["dim"] is None
    vt2.insert([1.0, 2.0])  # dim falls to first-insert inference
    assert vt2.meta["dim"] == 2 and vt2.count() == 1


def _jobs_in(spark, fn):
    """(result of fn(), Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_build_index_rejects_bad_input_up_front(spark, vt):
    vt.insert([1.0, 0.0], external_id=1)
    vt.insert([0.0, 1.0], external_id=2)

    def one_cell():
        with pytest.raises(ValueError, match="n_cells must be >= 2"):
            vt.build_index(n_cells=1)

    _, jobs = _jobs_in(spark, one_cell)
    assert jobs == 0  # refused before any Spark job
    with pytest.raises(ValueError, match="m must be >= 2"):
        vt.build_index(n_cells=2, m=1)
    vt.delete([1, 2])
    with pytest.raises(ValueError, match="empty table"):
        vt.build_index(n_cells=2)


@pytest.fixture(scope="module")
def indexed(spark, sf_dir, tmp_path_factory):
    """A cosine table of the 500 test embeddings (label in metadata) with
    a 4-cell index: ~125 rows a cell."""
    vt = VectorTable.create(
        spark, str(tmp_path_factory.mktemp("ann") / "vt"), metric="cosine"
    )
    vt.batch_insert(
        load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("vector"),
            F.to_json(F.struct("label")).alias("metadata"),
        )
    )
    vt.build_index(n_cells=4)
    return vt


def _even_label():
    return F.get_json_object("metadata", "$.label").cast("int") % 2 == 0


def _queries(vt):
    rng = np.random.default_rng(3)
    own = vt.table().filter(F.col("id") == 17).first()["vector"]
    return [own, rng.normal(size=len(own)).tolist()]


def _via_hnsw_search(spark, vt, q, k, ef, nprobe, where):
    """The DataFrame-of-queries path plus the metadata join: what
    search_approx must equal."""
    queries = spark.createDataFrame(
        [(0, [float(x) for x in q])], "query_id long, query_vec array<float>"
    )
    allowed = None if where is None else vt.table().filter(where).select("id")
    hits = hnsw_search(
        spark.read.parquet(os.path.join(vt.path, "hnsw_index")), queries,
        np.array(vt.meta["centroids"]), k=k, ef=ef, nprobe=nprobe,
        metric=vt.meta["metric"], id_col="id", allowed=allowed,
    )
    return (
        hits.select("id", "dist")
        .join(vt.table().select("id", "metadata"), "id", "left")
        .orderBy("dist", "id")
    )


@pytest.mark.parametrize(
    "k,ef,nprobe,filtered",
    [
        (5, 64, 2, False),
        (5, 64, 2, True),
        (200, 64, 2, False),  # k beyond one cell's ~125 rows
        (20, 32, 6, True),  # nprobe beyond the 4 cells
    ],
)
def test_search_approx_matches_hnsw_search(spark, indexed, k, ef, nprobe, filtered):
    where = _even_label() if filtered else None
    for q in _queries(indexed):
        got = indexed.search_approx(q, k=k, ef=ef, nprobe=nprobe, where=where)
        want = _via_hnsw_search(spark, indexed, q, k, ef, nprobe, where)
        assert got.columns == ["id", "dist", "metadata"]
        rows = [tuple(r) for r in got.collect()]
        assert rows == [tuple(r) for r in want.collect()]
        assert 0 < len(rows) <= k


def test_search_approx_carries_the_query_as_float32(spark, vt):
    """Euclidean distances of a large-magnitude float64 query differ in
    the 6th decimal between the float64 query and its float32 cast; the
    driver path must report what the array<float> query column does."""
    rng = np.random.default_rng(5)
    X = rng.normal(scale=1e3, size=(300, 8))
    vt.batch_insert(
        spark.createDataFrame(
            [(i, X[i].tolist(), "{}") for i in range(len(X))],
            "id long, vector array<double>, metadata string",
        )
    )
    vt.build_index(n_cells=2)
    for q in rng.normal(scale=1e3, size=(2, 8)):
        got = [tuple(r) for r in vt.search_approx(q, k=10).collect()]
        want = [tuple(r) for r in _via_hnsw_search(spark, vt, q, 10, 64, 2, None).collect()]
        assert got == want
        # the test can tell: float64 distances of the same hits differ
        d64 = [round(float(np.linalg.norm(X[i] - q)), 6) for i, _, _ in got]
        assert d64 != [d for _, d, _ in got]


@pytest.mark.parametrize("filtered", [False, True])
def test_search_approx_runs_at_most_three_jobs(spark, indexed, filtered):
    q = _queries(indexed)[1]
    where = _even_label() if filtered else None
    rows, jobs = _jobs_in(
        spark, lambda: indexed.search_approx(q, k=10, where=where).collect()
    )
    assert len(rows) == 10
    assert jobs <= 3, jobs


def test_search_approx_on_legacy_index_without_e_prot(spark, indexed, tmp_path):
    """An index written before the e_prot column existed still serves:
    search never reads the trim exemptions."""
    legacy = str(tmp_path / "legacy")
    shutil.copytree(indexed.path, legacy)
    idx_dir = os.path.join(legacy, "hnsw_index")
    tbl = pq.read_table(idx_dir).drop_columns(["e_prot"])
    shutil.rmtree(idx_dir)
    os.makedirs(idx_dir)
    pq.write_table(tbl, os.path.join(idx_dir, "part-0.parquet"))
    old = VectorTable.open(spark, legacy)
    for where in (None, _even_label()):
        for q in _queries(indexed):
            got = [tuple(r) for r in old.search_approx(q, k=8, where=where).collect()]
            want = [tuple(r) for r in indexed.search_approx(q, k=8, where=where).collect()]
            assert got == want and got
            via_spark = _via_hnsw_search(spark, old, q, 8, 64, 2, where).collect()
            assert [tuple(r) for r in via_spark] == want
