"""refresh_index's shared version-mask protocol: the 100k mask cap on
every artifact shape, the two legacy shapes the protocol keeps distinct
(a trained artifact without ``_epoch``, a graph catalog with plain-int
masks), atomic catalog writes, and the package's independence from the
checkout location."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from milvus_spark.client import MilvusSparkClient
from milvus_spark.operators.bitset import _EVERY_EPOCH

_SCHEMA = "pk long, vec array<float>, tag string, text string"


def _collection(spark, client, name, n=30):
    rows = [
        (
            i,
            [float((i * 7 + j) % 11) + 0.5 for j in range(4)],
            f"src{i % 3}",
            f"doc {i} word{i % 5} spark",
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, _SCHEMA)
    client.create_collection(name, pk_field="pk", vector_field="vec")
    client.insert(name, df)
    return df


def _files(path):
    """Every file under ``path`` with its mtime: a write shows up."""
    out = set()
    for d, _, fs in os.walk(path):
        for f in fs:
            full = os.path.join(d, f)
            out.add((os.path.relpath(full, path), os.stat(full).st_mtime_ns))
    return out


_CAP_CASES = [
    ("HNSW", "vec", {"n_partitions": 1}),
    ("IVF_FLAT", "vec", {"nlist": 2, "max_iter": 1}),
    ("INVERTED", "tag", {}),
    ("TEXT_MATCH", "text", {}),
]


@pytest.fixture(scope="module")
def cap_client(spark, tmp_path_factory):
    """One collection carrying an index of every artifact shape, built
    before pk 3 is deleted, so each shape's next refresh folds pk 3."""
    client = MilvusSparkClient(spark, root=str(tmp_path_factory.mktemp("cap")))
    _collection(spark, client, "cap")
    for itype, field, params in _CAP_CASES:
        client.create_index("cap", field, itype, params)
    client.delete("cap", ids=[3])
    return client


@pytest.mark.parametrize("itype,field,params", _CAP_CASES)
def test_delete_mask_cap_refuses_then_rebuilds(cap_client, itype, field, params):
    """A delete that would push the mask past 100k pks is refused before
    anything is collected or written; the rebuild fallback then builds a
    fresh index with the stored params."""
    client = cap_client
    entry = client.describe_index("cap", field, itype)
    entry["masked_pks"] = [[10**9 + i, 1] for i in range(100_000)]
    kept = {k: entry.get(k) for k in ("built_ts", "cur_epoch", "masked_pks")}
    files = _files(entry["path"])
    with pytest.raises(ValueError, match="exceed 100k") as err:
        client.refresh_index("cap", field, itype)
    assert "rebuild with create_index" in str(err.value)
    entry = client.describe_index("cap", field, itype)
    assert {k: entry.get(k) for k in kept} == kept
    assert _files(entry["path"]) == files
    fresh = client.refresh_index("cap", field, itype, on_mismatch="rebuild")
    assert fresh["params"] == params
    assert "masked_pks" not in fresh
    assert fresh["built_ts"] == client._current_ts("cap")


def test_legacy_trained_artifact_masks_every_epoch(spark, tmp_path):
    """An IVF artifact written before rows carried ``_epoch`` cannot tell
    an appended copy from an old one: a delete masks the pk in every
    epoch, and re-inserting that pk is refused."""
    client = MilvusSparkClient(spark, root=str(tmp_path))
    df = _collection(spark, client, "lt")
    entry = client.create_index("lt", "vec", "IVF_FLAT", {"nlist": 2, "max_iter": 1})
    apath = os.path.join(entry["path"], "clustered")
    spark.read.parquet(apath).drop("_epoch").write.mode("overwrite").partitionBy(
        "cluster_id"
    ).parquet(apath + ".legacy")
    shutil.rmtree(apath)
    os.rename(apath + ".legacy", apath)
    client.delete("lt", ids=[3])
    entry = client.refresh_index("lt", "vec", "IVF_FLAT")
    assert entry["masked_pks"] == [[3, _EVERY_EPOCH]]
    client.insert("lt", df.filter(F.col("pk") == 3))
    with pytest.raises(ValueError, match="still have live"):
        client.refresh_index("lt", "vec", "IVF_FLAT")


def test_legacy_graph_plain_int_mask_bounds_at_bucket_count(spark, tmp_path):
    """A graph catalog from before version pairs stores plain-int masks;
    they mask every bucket built so far, not every epoch, so an upsert of
    such a pk is accepted and its new copy serves."""
    client = MilvusSparkClient(spark, root=str(tmp_path))
    _collection(spark, client, "lg")
    client.create_index("lg", "vec", "HNSW", {"n_partitions": 1})
    client.delete("lg", ids=[3])
    entry = client.refresh_index("lg", "vec", "HNSW")
    assert entry["masked_pks"] == [[3, 1]]
    entry["masked_pks"] = [3]
    client._save_catalog()
    q = [1.0, -3.0, 2.0, -7.0]
    client.insert(
        "lg", spark.createDataFrame([(3, q, "src0", "doc 3 again")], _SCHEMA)
    )
    entry = client.refresh_index("lg", "vec", "HNSW")
    assert entry["masked_pks"] == [[3, 1]]
    assert len(entry["epochs"]) == 2
    hits = client.search("lg", [q], limit=1, search_params={"ef": 64}).collect()
    assert [r.pk for r in hits] == [3]


def test_catalog_save_survives_a_crash_mid_dump(spark, tmp_path, monkeypatch):
    """A save that dies part-way through the JSON dump leaves the previous
    catalog readable: the write goes to a temp file that replaces the
    catalog only once complete."""
    client = MilvusSparkClient(spark, root=str(tmp_path))
    client.create_collection("kept", pk_field="pk", vector_field="vec")

    def torn_dump(obj, fp, **kw):
        fp.write(json.dumps(obj, **kw)[:20])
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        client.create_collection("lost", pk_field="pk", vector_field="vec")
    monkeypatch.undo()
    again = MilvusSparkClient(spark, root=str(tmp_path))
    assert again.list_collections() == ["kept"]
    cat_dir = os.path.dirname(again._catalog_path)
    assert not [f for f in os.listdir(cat_dir) if f.endswith(".tmp")]


def test_package_does_not_hard_code_its_checkout():
    """Scratch space lives beside the package wherever it is checked out,
    and no package file names the checkout's absolute location."""
    from milvus_spark import scratch
    from milvus_spark.session import PACKAGE_ROOT

    assert scratch.SCRATCH == os.path.join(PACKAGE_ROOT, "_scratch")
    pkg = os.path.join(PACKAGE_ROOT, "milvus_spark")
    hits = [
        os.path.join(d, f)
        for d, _, fs in os.walk(pkg)
        for f in fs
        if f.endswith(".py")
        and PACKAGE_ROOT in open(os.path.join(d, f), encoding="utf-8").read()
    ]
    assert not hits
