"""MBTiles file semantics (reference tests/test_mbtiles.py parity):
schema, versioned metadata validation, out-of-order hash linking,
ordered scans."""

import sqlite3

import pytest

from gdal2mbtiles_spark.mbtiles import (InvalidFileError, MBTilesFile,
                                        MetadataKeyError,
                                        MetadataValueError,
                                        clean_metadata_value,
                                        detect_version)

META = dict(name="t", type="overlay", version="1.0.0",
            description="d", format="png")


class TestSchema:
    def test_tables_and_view(self, tmp_path):
        f = MBTilesFile.create(str(tmp_path / "a.mbtiles"), META)
        names = {r[0] for r in f._conn.execute(
            "SELECT name FROM sqlite_master").fetchall()}
        assert {"images", "map", "metadata", "tiles"} <= names
        f.close()

    def test_recreate_overwrites(self, tmp_path):
        p = str(tmp_path / "a.mbtiles")
        f = MBTilesFile.create(p, META)
        f.insert(0, 0, 0, 42, b"data")
        f.close()
        f = MBTilesFile.create(p, META)
        assert f.get(0, 0, 0) is None
        f.close()


class TestVersions:
    # reference mbtiles.py:171-180 + 206-315
    def test_detect(self):
        assert detect_version(["name", "type", "version",
                               "description"]) == "1.0"
        assert detect_version(["name", "type", "version",
                               "description", "format"]) == "1.2"
        with pytest.raises(InvalidFileError):
            detect_version(["name"])

    def test_clean_type(self):
        assert clean_metadata_value("type", "overlay", "1.0") == "overlay"
        with pytest.raises(MetadataValueError):
            clean_metadata_value("type", "nope", "1.0")

    def test_clean_format(self):
        with pytest.raises(MetadataValueError):
            clean_metadata_value("format", "gif", "1.1")

    def test_clean_bounds(self):
        out = clean_metadata_value("bounds", "-10,-10,10,10", "1.1")
        assert out == "-10.0,-10.0,10.0,10.0"
        with pytest.raises(MetadataValueError):
            clean_metadata_value("bounds", "10,-10,-10,10", "1.1")
        with pytest.raises(MetadataValueError):
            clean_metadata_value("bounds", "-200,-10,10,10", "1.1")

    def test_missing_mandatory(self, tmp_path):
        with pytest.raises(MetadataKeyError):
            MBTilesFile.create(str(tmp_path / "x.mbtiles"),
                               dict(name="n", type="overlay",
                                    version="1", description="d"),
                               version="1.1")


class TestOutOfOrderLinking:
    def test_map_before_images(self, tmp_path):
        # reference tests/test_mbtiles.py:114-131: map rows may
        # reference a tile_id inserted later
        f = MBTilesFile.create(str(tmp_path / "a.mbtiles"), META)
        f.insert(0, 0, 1, tile_id=99)            # link only
        assert f.get(0, 0, 1) is None            # not in view yet
        f.insert(1, 1, 1, tile_id=99, data=b"payload")
        assert f.get(0, 0, 1) == b"payload"      # now both resolve
        assert f.get(1, 1, 1) == b"payload"
        f.close()

    def test_insert_or_replace_last_wins(self, tmp_path):
        f = MBTilesFile.create(str(tmp_path / "a.mbtiles"), META)
        f.insert(0, 0, 0, tile_id=1, data=b"one")
        f.insert(0, 0, 0, tile_id=2, data=b"two")
        assert f.get(0, 0, 0) == b"two"
        f.close()

    def test_all_ordering(self, tmp_path):
        # reference mbtiles.py:556-571: ORDER BY z, x, y
        f = MBTilesFile.create(str(tmp_path / "a.mbtiles"), META)
        for (z, x, y) in [(1, 1, 0), (0, 0, 0), (1, 0, 1)]:
            f.insert(x, y, z, tile_id=z * 100 + x * 10 + y, data=b"p")
        rows = [(z, x, y) for z, x, y, _ in f.all()]
        assert rows == [(0, 0, 0), (1, 0, 1), (1, 1, 0)]
        f.close()

    def test_negative_tile_ids(self, tmp_path):
        # signed-low64 reinterpretation produces negative ids; the PK
        # must round-trip them
        f = MBTilesFile.create(str(tmp_path / "a.mbtiles"), META)
        f.insert(0, 0, 0, tile_id=-(2 ** 62), data=b"neg")
        assert f.get(0, 0, 0) == b"neg"
        f.close()


class TestBatchedCommits:
    def test_write_mbtiles_commit_interval(self, spark, tmp_path):
        # round-4 ADVICE: one giant transaction grows the rollback
        # journal to ~DB size; commits every commit_rows must leave
        # the final file identical to the one-commit stream
        from gdal2mbtiles_spark.mbtiles import write_mbtiles
        n = 5000
        imgs = spark.createDataFrame(
            [(i, bytearray(b"px%06d" % i)) for i in range(n)],
            "tile_id long, tile_data binary")
        mp = spark.createDataFrame(
            [(0, i % 64, i // 64, i) for i in range(n)],
            "zoom_level int, tile_column int, tile_row int, "
            "tile_id long")
        p1 = str(tmp_path / "batched.mbtiles")
        f = write_mbtiles(p1, imgs, mp, META, commit_rows=1000)
        f.close()
        p2 = str(tmp_path / "single.mbtiles")
        f = write_mbtiles(p2, imgs, mp, META, commit_rows=10 ** 9)
        f.close()
        for p in (p1, p2):
            con = sqlite3.connect(p)
            assert con.execute(
                "SELECT count(*) FROM images").fetchone()[0] == n
            assert con.execute(
                "SELECT count(*) FROM map").fetchone()[0] == n
            con.close()
        rows1 = sqlite3.connect(p1).execute(
            "SELECT * FROM tiles ORDER BY 1,2,3").fetchall()
        rows2 = sqlite3.connect(p2).execute(
            "SELECT * FROM tiles ORDER BY 1,2,3").fetchall()
        assert rows1 == rows2

    @pytest.mark.parametrize("commit_rows", [2, 100_000])
    def test_write_mbtiles_later_partition_wins(self, spark, tmp_path,
                                                commit_rows):
        # a (z, x, y) repeated in a later partition of the map stream
        # replaces the earlier row, within and across commits
        from gdal2mbtiles_spark.mbtiles import write_mbtiles
        imgs = spark.createDataFrame(
            [(1, bytearray(b"one")), (2, bytearray(b"two"))],
            "tile_id long, tile_data binary")
        schema = ("zoom_level int, tile_column int, tile_row int, "
                  "tile_id long")
        # partition 0: (1, 0, 0) -> 1; partition 1: (1, 0, 0) -> 2
        mp = spark.createDataFrame(spark.sparkContext.parallelize(
            [(1, 0, 0, 1), (0, 0, 0, 1), (1, 1, 0, 1), (1, 0, 0, 2)],
            2), schema)
        assert mp.rdd.glom().collect()[1][-1]["tile_id"] == 2
        f = write_mbtiles(str(tmp_path / "lw.mbtiles"), imgs, mp, META,
                          commit_rows=commit_rows)
        assert f.get(0, 0, 1) == b"two"
        assert f.get(0, 0, 0) == b"one"
        assert f.get(1, 0, 1) == b"one"
        assert len(list(f.all())) == 3
        f.close()


class TestMetadataErrorPaths:
    def test_malformed_bounds_raise_metadata_error(self):
        import pytest as _pytest

        from gdal2mbtiles_spark.mbtiles import (MetadataValueError,
                                                clean_metadata_value)
        for bad in ("0,0,10", "a,b,c,d", "0,0,10,20,30"):
            with _pytest.raises(MetadataValueError):
                clean_metadata_value("bounds", bad, "1.1")

    def test_create_cleans_up_on_invalid_metadata(self, tmp_path):
        import os

        import pytest as _pytest

        from gdal2mbtiles_spark.mbtiles import (MBTilesFile,
                                                MetadataValueError)
        fn = str(tmp_path / "bad.mbtiles")
        meta = {"name": "x", "type": "bogus", "version": "1",
                "description": "d", "format": "png"}
        with _pytest.raises(MetadataValueError):
            MBTilesFile.create(fn, meta)
        # no schema-only partial file left where a valid one may stand
        assert not os.path.exists(fn)
