"""Session defaults that depend on the machine."""

import os

import numpy as np
import pytest

from gdal2mbtiles_spark import session


@pytest.mark.parametrize("phys_gib, want", [
    (1, "1g"), (16, "6g"), (15.716, "6g"), (64, "25g"), (512, "32g")])
def test_default_driver_memory_fits_box(monkeypatch, phys_gib, want):
    # 40% of physical memory, clamped to [1g, 32g]
    pages = int(phys_gib * 2 ** 30 / 4096)
    monkeypatch.setattr(os, "sysconf", lambda name: {
        "SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": pages}[name])
    assert session.default_driver_memory() == want


@pytest.mark.parametrize("heap, want_mib", [
    ("1g", 1), ("6g", 1), ("8g", 1), ("8192m", 1), ("9g", 2),
    ("25g", 4), ("32g", 4)])
def test_page_size_fits_page_table(heap, want_mib):
    # 1 MiB pages up to an 8 GiB heap; above it one task's 8192 pages
    # must still cover the heap
    assert session.page_size(heap) == want_mib << 20
    assert session.page_size(heap) * 8192 >= \
        session._size_bytes(heap, 1 << 20)


# above spark.shuffle.sort.bypassMergeThreshold (200): the map side
# writes through the Tungsten serialized shuffle sorter
_SHUFFLE_PARTITIONS = 201


def test_page_size_conf_and_large_records(spark):
    """The session runs on PAGE_BYTES pages, and rows three times a
    page come back byte-identical through a shuffle, a sort and a
    grouped collect_list: an oversized record gets a page of its
    own."""
    from pyspark.sql import functions as F

    conf = spark.sparkContext.getConf()
    heap = conf.get("spark.driver.memory")
    assert int(conf.get("spark.buffer.pageSize")) == \
        session.page_size(heap)
    if session._size_bytes(heap, 1 << 20) <= 8 << 30:
        assert session.page_size(heap) == session.PAGE_BYTES

    rng = np.random.RandomState(0)
    blobs = {i: rng.bytes(3 * session.PAGE_BYTES) for i in range(6)}
    df = spark.createDataFrame([(i, i % 2, b) for i, b in blobs.items()],
                               "id int, g int, b binary")

    shuffled = df.repartition(_SHUFFLE_PARTITIONS, "id").collect()
    assert {r["id"]: bytes(r["b"]) for r in shuffled} == blobs
    ordered = df.orderBy(F.col("id").desc()).collect()
    assert [(r["id"], bytes(r["b"])) for r in ordered] == \
        sorted(blobs.items(), reverse=True)
    grouped = (df.groupBy("g")
               .agg(F.collect_list(F.struct("id", "b")).alias("rows"))
               .collect())
    assert {(r["g"], e["id"], bytes(e["b"]))
            for r in grouped for e in r["rows"]} == \
        {(i % 2, i, b) for i, b in blobs.items()}
