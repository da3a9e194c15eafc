"""Native Iceberg v2 read/write path (sources/avro.py,
sources/iceberg.py): container codec round-trips, scan planning with
manifest- and file-level pruning, snapshot time travel, and the
pages-table loader integration.

The fixtures are written by this repo's own writer — both sides
follow the PUBLIC Avro 1.11 / Iceberg v2 specs (same discipline as
the JPEG/PNG/MBTiles codecs: self-encoded fixtures + spec framing
checks like magic bytes, sync markers and codec names asserted
explicitly so a round-trip cannot silently agree on a private
dialect)."""

import datetime
import io
import json
import os
import warnings
import zlib

import pytest

from gdal2mbtiles_spark.sources import avro
from gdal2mbtiles_spark.sources.iceberg import (
    MANIFEST_LIST_SCHEMA, IcebergTable, manifest_entry_schema,
    norm_file_path, read_table, write_equality_deletes,
    write_position_deletes, write_table)

REC_SCHEMA = {
    "type": "record", "name": "rec", "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "string"},
        {"name": "c", "type": ["null", "bytes"], "default": None},
        {"name": "d", "type": {"type": "array", "items": "long"}},
        {"name": "e", "type": {"type": "map", "values": "string"}},
        {"name": "f", "type": "boolean"},
        {"name": "g", "type": "double"},
    ]}


def _recs(n):
    return [{"a": i - 5, "b": f"s{i}" * (i % 3),
             "c": None if i % 2 else bytes([i % 256, 255]),
             "d": list(range(i % 4)),
             "e": {f"k{j}": f"v{j}" for j in range(i % 3)},
             "f": i % 3 == 0, "g": i * 0.5 - 3.25}
            for i in range(n)]


class TestAvroContainer:
    @pytest.mark.parametrize("codec", ["null", "deflate"])
    def test_round_trip(self, tmp_path, codec):
        path = str(tmp_path / f"t_{codec}.avro")
        recs = _recs(37)
        avro.write_container(path, REC_SCHEMA, recs, codec=codec,
                             records_per_block=10)
        assert list(avro.read_container(path)) == recs
        assert avro.container_schema(path) == REC_SCHEMA

    def test_spec_framing(self, tmp_path):
        # not a self-agreement check: magic, metadata map layout,
        # codec name and sync-marker repetition are asserted against
        # the published container spec byte-for-byte
        path = str(tmp_path / "f.avro")
        avro.write_container(path, REC_SCHEMA, _recs(3),
                             codec="deflate")
        raw = open(path, "rb").read()
        assert raw[:4] == b"Obj\x01"
        src = io.BytesIO(raw[4:])
        meta = avro.decode_value(
            src, {"type": "map", "values": "bytes"})
        assert meta["avro.codec"] == b"deflate"
        assert json.loads(meta["avro.schema"]) == REC_SCHEMA
        sync = src.read(16)
        assert len(sync) == 16 and raw.endswith(sync)
        # block payload is RAW deflate (RFC-1951, no zlib header)
        n = avro.read_long(src)
        size = avro.read_long(src)
        body = src.read(size)
        assert n == 3
        assert zlib.decompress(body, -15)      # raises if zlib-wrapped

    def test_zigzag_longs(self):
        for n in (0, -1, 1, 63, -64, 2**40, -(2**40), 2**62,
                  -(2**62)):
            buf = bytearray()
            avro.write_long(buf, n)
            assert avro.read_long(io.BytesIO(bytes(buf))) == n

    def test_sync_marker_corruption_detected(self, tmp_path):
        path = str(tmp_path / "c.avro")
        avro.write_container(path, REC_SCHEMA, _recs(5),
                             codec="null")
        raw = bytearray(open(path, "rb").read())
        raw[-1] ^= 0xFF                       # clobber trailing sync
        open(path, "wb").write(bytes(raw))
        with pytest.raises(ValueError, match="sync"):
            list(avro.read_container(path))

    def test_manifest_schemas_round_trip(self, tmp_path):
        # the actual Iceberg schemas used by the planner
        path = str(tmp_path / "ml.avro")
        mf = {"manifest_path": "/x/m1.avro", "manifest_length": 123,
              "partition_spec_id": 0, "content": 0,
              "sequence_number": 1, "min_sequence_number": 1,
              "added_snapshot_id": 1, "added_files_count": 2,
              "existing_files_count": 0, "deleted_files_count": 0,
              "added_rows_count": 10, "existing_rows_count": 0,
              "deleted_rows_count": 0,
              "partitions": [
                  {"contains_null": False, "contains_nan": None,
                   "lower_bound": b"de", "upper_bound": b"en"}]}
        avro.write_container(path, MANIFEST_LIST_SCHEMA, [mf])
        assert list(avro.read_container(path)) == [mf]

        epath = str(tmp_path / "me.avro")
        entry = {"status": 1, "snapshot_id": 1,
                 "sequence_number": 1, "file_sequence_number": 1,
                 "data_file": {
                     "content": 0, "file_path": "/x/d.parquet",
                     "file_format": "PARQUET",
                     "partition": {"lang": "en",
                                   "ts_bucket": "2025-01"},
                     "record_count": 5,
                     "file_size_in_bytes": 999,
                     "equality_ids": None}}
        schema = manifest_entry_schema(["lang", "ts_bucket"])
        avro.write_container(epath, schema, [entry])
        assert list(avro.read_container(epath)) == [entry]


def _pages(spark, langs=("en", "de", "fr"), rows_per=40):
    data = []
    for li, lang in enumerate(langs):
        for i in range(rows_per):
            month = 1 + (i % 2)
            data.append((
                f"https://{lang}.example/{i}",
                datetime.datetime(2025, month, 3, 12, 0, 0),
                bytes([li, i % 256]),
                f"text {lang} {i}",
                lang))
    return spark.createDataFrame(
        data, "url string, warc_ts timestamp, html binary, "
              "text string, lang string")


class TestIcebergTable:
    def test_write_read_round_trip(self, spark, tmp_path):
        df = _pages(spark)
        path = str(tmp_path / "t1")
        snap = write_table(df, path,
                           partition_by=["lang"], mode="overwrite")
        assert snap == 1
        got = read_table(spark, path)
        assert sorted(r["url"] for r in got.collect()) == \
            sorted(r["url"] for r in df.collect())
        # identity-partition source column survives INSIDE data files
        assert "lang" in got.columns

    def test_file_level_pruning(self, spark, tmp_path):
        df = _pages(spark)
        path = str(tmp_path / "t2")
        write_table(df, path, partition_by=["lang"])
        got, stats = read_table(spark, path,
                                filters={"lang": "de"},
                                with_stats=True)
        rows = got.collect()
        assert len(rows) == 40
        assert all(r["lang"] == "de" for r in rows)
        # the PLAN itself excluded non-de files — not just row filters
        assert stats.files_planned < stats.files_total
        assert all("_p_lang=de" in f for f in stats.planned)

    def test_manifest_level_pruning(self, spark, tmp_path):
        # two snapshots with DISJOINT lang ranges: the second
        # snapshot's scan for a lang outside a manifest's
        # [lower, upper] bounds must not even open that manifest
        path = str(tmp_path / "t3")
        write_table(_pages(spark, langs=("aa", "ab")), path,
                    partition_by=["lang"], mode="overwrite")
        write_table(_pages(spark, langs=("zy", "zz")), path,
                    partition_by=["lang"], mode="append")
        table = IcebergTable(path)
        files, stats = table.plan_files(filters={"lang": "zz"})
        assert stats.manifests_total == 2
        assert stats.manifests_opened == 1     # 'aa-ab' never opened
        assert files and all("_p_lang=zz" in f for f in files)

    def test_snapshot_time_travel(self, spark, tmp_path):
        path = str(tmp_path / "t4")
        s1 = write_table(_pages(spark, langs=("en",)), path,
                         partition_by=["lang"], mode="overwrite")
        s2 = write_table(_pages(spark, langs=("de",)), path,
                         partition_by=["lang"], mode="append")
        assert (s1, s2) == (1, 2)
        cur = read_table(spark, path)
        assert cur.count() == 80               # union of snapshots
        old = read_table(spark, path, snapshot_id=s1)
        assert old.count() == 40
        assert {r["lang"] for r in old.select("lang")
                .distinct().collect()} == {"en"}

    def test_unknown_snapshot_raises(self, spark, tmp_path):
        path = str(tmp_path / "t5")
        write_table(_pages(spark, langs=("en",)), path,
                    partition_by=["lang"])
        with pytest.raises(ValueError, match="snapshot"):
            IcebergTable(path).snapshot(999)

    def test_metadata_json_shape(self, spark, tmp_path):
        path = str(tmp_path / "t6")
        write_table(_pages(spark, langs=("en",)), path,
                    partition_by=["lang"])
        meta = json.load(open(
            os.path.join(path, "metadata", "v1.metadata.json")))
        assert meta["format-version"] == 2
        assert meta["current-snapshot-id"] == 1
        spec = meta["partition-specs"][0]["fields"][0]
        assert spec["transform"] == "identity"
        assert spec["name"] == "lang"
        names = [f["name"] for f in meta["schemas"][0]["fields"]]
        assert names == ["url", "warc_ts", "html", "text", "lang"]

    def test_one_commit_path_history(self, spark, tmp_path):
        """Overwrite -> append -> position delete -> equality delete ->
        append: every commit adds one manifest to the current
        snapshot's list and one metadata version, and time travel to
        each snapshot sees exactly the rows committed up to it."""
        from pyspark.sql import functions as F
        path = str(tmp_path / "thist")
        snaps = [write_table(_pages(spark, langs=("en", "de")), path,
                             partition_by=["lang"]),
                 write_table(_pages(spark, langs=("fr",)), path,
                             partition_by=["lang"], mode="append")]
        victims = (read_table(spark, path).select(
            "url",
            norm_file_path(
                F.col("_metadata.file_path")).alias("file_path"),
            F.col("_metadata.row_index").alias("pos"))
            .orderBy("url").limit(3))
        victim_urls = {r["url"] for r in victims.collect()}
        snaps.append(write_position_deletes(
            victims.select("file_path", "pos"), path))
        snaps.append(write_equality_deletes(spark.createDataFrame(
            [("https://en.example/7",)], "url string"), path))
        reborn = _pages(spark, langs=("en",)).where(
            "url = 'https://en.example/7'")
        snaps.append(write_table(reborn, path, partition_by=["lang"],
                                 mode="append"))
        assert snaps == [1, 2, 3, 4, 5]

        all_urls = {r["url"] for r in _pages(spark).collect()}
        en_de = {u for u in all_urls if "//fr." not in u}
        after_pos = all_urls - victim_urls
        expected = [en_de, all_urls, after_pos,
                    after_pos - {"https://en.example/7"},
                    after_pos]
        # the append after the position delete is a legal history: the
        # delete is scoped by sequence number and reads raise no warning
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            for snap, want in zip(snaps, expected):
                got = [r["url"] for r in read_table(
                    spark, path, snapshot_id=snap).collect()]
                assert len(got) == len(want) and set(got) == want, snap

        table = IcebergTable(path)
        for k, snap in enumerate(table.snapshots(), start=1):
            mlist = list(avro.read_container(
                table._resolve(snap["manifest-list"])))
            assert len(mlist) == k
            assert [m["content"] for m in mlist] == \
                [0, 0, 1, 1, 0][:k]
            assert snap["summary"]["operation"] == \
                ("delete" if k in (3, 4) else "append")
        meta_dir = os.path.join(path, "metadata")
        assert sorted(f for f in os.listdir(meta_dir)
                      if f.endswith(".metadata.json")) == \
            [f"v{v}.metadata.json" for v in range(1, 6)]
        assert table.version == 5

    def test_unprunable_manifests_counted(self, spark, tmp_path):
        """A filter on a partition column whose source is not a string
        cannot be compared with the summaries' byte bounds: the
        manifest is opened and counted, never silently."""
        path = str(tmp_path / "tint")
        write_table(spark.createDataFrame(
            [(i, f"r{i}") for i in range(6)], "k int, v string"),
            path, partition_by=["k"])
        files, stats = IcebergTable(path).plan_files(filters={"k": "1"})
        assert stats.manifests_unprunable == 1
        assert len(files) == 1
        pages = str(tmp_path / "tlang")
        write_table(_pages(spark), pages, partition_by=["lang"])
        _files, stats = IcebergTable(pages).plan_files(
            filters={"lang": "de"})
        assert stats.manifests_opened == 1
        assert stats.manifests_unprunable == 0


    def test_unmapped_type_raises(self, spark, tmp_path):
        # the table schema drives the data read: a type with no Spark
        # mapping must fail, not read the column as a string
        path = str(tmp_path / "t7")
        write_table(_pages(spark, langs=("en",)), path,
                    partition_by=["lang"])
        meta_path = os.path.join(path, "metadata", "v1.metadata.json")
        with open(meta_path) as fh:
            meta = json.load(fh)
        meta["schemas"][0]["fields"][2]["type"] = "decimal(9,2)"
        with open(meta_path, "w") as fh:
            json.dump(meta, fh)
        with pytest.raises(ValueError, match="'html'.*decimal"):
            read_table(spark, path)
        # and the writer does not record a type it cannot name
        with pytest.raises(ValueError, match="array<string>"):
            write_table(spark.createDataFrame([(["a"],)],
                                              "tags array<string>"),
                        str(tmp_path / "t8"))


class TestPagesLoaderIntegration:
    def test_load_pages_starts_no_spark_job(self, spark, tmp_path):
        # the read takes its schema from the table metadata, so no
        # footer-inference job runs before the caller's own action
        from gdal2mbtiles_spark.sources.pages_table import (
            load_pages, write_iceberg_pages)
        path = str(tmp_path / "pages_ice0")
        write_iceberg_pages(_pages(spark), path)
        sc = spark.sparkContext
        sc.setJobGroup("load-pages-probe", "load_pages only")
        try:
            got = load_pages(spark, path, lang="de",
                             columns=["url", "text", "lang"])
            jobs = sc.statusTracker().getJobIdsForGroup(
                "load-pages-probe")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert jobs == []
        assert got.columns == ["url", "text", "lang"]
        assert got.count() == 40

    def test_load_pages_native_iceberg(self, spark, tmp_path):
        from gdal2mbtiles_spark.sources.pages_table import (
            load_pages, write_iceberg_pages)
        df = _pages(spark)
        path = str(tmp_path / "pages_ice")
        write_iceberg_pages(df, path)
        got = load_pages(spark, path, lang="en",
                         ts_bucket="2025-01",
                         columns=["url", "text", "lang"])
        rows = got.collect()
        assert rows and all(r["lang"] == "en" for r in rows)
        assert got.columns == ["url", "text", "lang"]
        # byte-identical text per url against the source (the
        # input_hint per-row invariant, through the Iceberg path)
        src = {r["url"]: r["text"] for r in df.where(
            "lang = 'en'").collect()}
        for r in rows:
            assert src[r["url"]] == r["text"]

    def test_load_pages_prunes_files(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from gdal2mbtiles_spark.sources.pages_table import (
            load_pages, write_iceberg_pages)
        path = str(tmp_path / "pages_ice2")
        write_iceberg_pages(_pages(spark), path)
        got = load_pages(spark, path, lang="de")
        scanned = {r[0] for r in got.select(
            F.input_file_name()).distinct().collect()}
        assert scanned
        assert all("_p_lang=de" in f for f in scanned)


class TestPositionDeletes:
    """v2 row-level deletes: content=1 delete manifests must never be
    read as data, position deletes must drop exactly the named rows
    (distributed anti-join on _metadata row ordinals), and the
    pre-delete snapshot must keep them (merge-on-read semantics)."""

    def _table_with_deletes(self, spark, tmp_path, n_drop=3,
                            subdir="tdel"):
        from pyspark.sql import functions as F
        path = str(tmp_path / subdir)
        write_table(_pages(spark), path, partition_by=["lang"],
                    mode="overwrite")
        # pick n_drop concrete (file, pos) targets from the live scan;
        # _metadata.file_path is a percent-encoded URI, so it must go
        # through norm_file_path to match the manifest's plain paths
        pre, stats = read_table(spark, path, with_stats=True)
        victims = (pre.select(
            F.col("url"),
            norm_file_path(
                F.col("_metadata.file_path")).alias("file_path"),
            F.col("_metadata.row_index").alias("pos"))
            .orderBy("url").limit(n_drop))
        victim_rows = victims.collect()
        snap = write_position_deletes(
            victims.select("file_path", "pos"), path)
        return path, snap, victim_rows, pre.count()

    def test_position_deletes_drop_exact_rows(self, spark, tmp_path):
        path, _snap, victims, n_before = self._table_with_deletes(
            spark, tmp_path)
        got = read_table(spark, path)
        urls = [r["url"] for r in got.collect()]
        assert len(urls) == n_before - len(victims)
        for v in victims:
            assert v["url"] not in urls

    def test_pre_delete_snapshot_keeps_rows(self, spark, tmp_path):
        path, snap, victims, n_before = self._table_with_deletes(
            spark, tmp_path)
        old = read_table(spark, path, snapshot_id=snap - 1)
        assert old.count() == n_before
        cur, stats = read_table(spark, path, with_stats=True)
        assert len(stats.position_deletes) >= 1
        # delete files are never in the DATA plan
        assert not set(stats.position_deletes) & set(stats.planned)

    def test_deletes_compose_with_partition_pruning(self, spark,
                                                    tmp_path):
        path, _snap, victims, _n = self._table_with_deletes(spark,
                                                            tmp_path)
        got, stats = read_table(spark, path, filters={"lang": "de"},
                                with_stats=True)
        assert stats.files_planned < stats.files_total
        urls = [r["url"] for r in got.collect()]
        assert all(u.startswith("https://de.") for u in urls)
        for v in victims:
            assert v["url"] not in urls

    def test_read_with_deletes_starts_no_spark_job(self, spark,
                                                   tmp_path):
        # delete files are read with the spec's position-delete schema
        # and the equality columns' table types, so planning the read
        # infers no Parquet footer
        path, _snap, victims, n_before = self._table_with_deletes(
            spark, tmp_path)
        write_equality_deletes(spark.createDataFrame(
            [("https://de.example/11",)], "url string"), path)
        sc = spark.sparkContext
        sc.setJobGroup("read-deletes-probe", "read_table only")
        try:
            got, stats = read_table(spark, path, with_stats=True)
            jobs = sc.statusTracker().getJobIdsForGroup(
                "read-deletes-probe")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert jobs == []
        assert stats.position_deletes and stats.equality_deletes
        assert got.count() == n_before - len(victims) - 1

    def test_equality_deletes_drop_matching_rows(self, spark,
                                                 tmp_path):
        path = str(tmp_path / "teq")
        write_table(_pages(spark), path, partition_by=["lang"],
                    mode="overwrite")
        n_before = read_table(spark, path).count()
        dels = spark.createDataFrame(
            [("https://de.example/0",), ("https://en.example/7",)],
            "url string")
        snap = write_equality_deletes(dels, path)
        got = read_table(spark, path)
        urls = [r["url"] for r in got.collect()]
        assert len(urls) == n_before - 2
        assert "https://de.example/0" not in urls
        assert "https://en.example/7" not in urls
        # pre-delete snapshot still has them (merge-on-read)
        old = read_table(spark, path, snapshot_id=snap - 1)
        assert old.count() == n_before

    def test_equality_delete_sequence_rule(self, spark, tmp_path):
        """Rows APPENDED AFTER the equality delete carry a higher
        sequence number and must survive it (spec: a delete applies
        only to data files with strictly lower seq)."""
        path = str(tmp_path / "tseq")
        write_table(_pages(spark, langs=("en",)), path,
                    partition_by=["lang"], mode="overwrite")
        dels = spark.createDataFrame(
            [("https://en.example/0",)], "url string")
        write_equality_deletes(dels, path)
        # re-append a row with the SAME equality value
        reborn = _pages(spark, langs=("en",)).where(
            "url = 'https://en.example/0'")
        write_table(reborn, path, partition_by=["lang"],
                    mode="append")
        got = read_table(spark, path)
        hits = [r for r in got.collect()
                if r["url"] == "https://en.example/0"]
        assert len(hits) == 1, len(hits)

    def test_equality_deletes_compose_with_position(self, spark,
                                                    tmp_path):
        path, _snap, victims, n_before = self._table_with_deletes(
            spark, tmp_path)
        dels = spark.createDataFrame(
            [("https://de.example/11",)], "url string")
        write_equality_deletes(dels, path)
        got = read_table(spark, path)
        urls = [r["url"] for r in got.collect()]
        assert len(urls) == n_before - len(victims) - 1
        assert "https://de.example/11" not in urls
        for v in victims:
            assert v["url"] not in urls

    def test_mixed_equality_column_sets_both_apply(self, spark,
                                                   tmp_path):
        """Delete files with DIFFERENT equality_ids sets are legal
        (spec: the match columns are per-file) — one anti-join per
        distinct set, all applied."""
        path = str(tmp_path / "tmix")
        write_table(_pages(spark), path, partition_by=["lang"],
                    mode="overwrite")
        n_before = read_table(spark, path).count()
        n_de = read_table(spark, path).where("lang = 'de'").count()
        write_equality_deletes(spark.createDataFrame(
            [("https://en.example/0",)], "url string"), path)
        write_equality_deletes(spark.createDataFrame(
            [("de",)], "lang string"), path)
        got = read_table(spark, path)
        urls = [r["url"] for r in got.collect()]
        assert len(urls) == n_before - n_de - 1
        assert "https://en.example/0" not in urls
        assert not any(u.startswith("https://de.") for u in urls)

    def test_equality_ids_limit_match_columns(self, spark, tmp_path):
        """A spec-compliant delete file may STORE extra columns beyond
        its equality_ids; only the equality_ids columns define the
        match (extra-column mismatches must not resurrect rows)."""
        from gdal2mbtiles_spark.sources.iceberg import _commit_snapshot
        path = str(tmp_path / "tids")
        write_table(_pages(spark), path, partition_by=["lang"],
                    mode="overwrite")
        n_before = read_table(spark, path).count()
        table = IcebergTable(path)
        url_id = {f["name"]: f["id"]
                  for f in table.current_schema()["fields"]}["url"]
        # delete file stores (url, lang) but equality_ids names url
        # only; lang carries a value that matches NO data row
        dels = spark.createDataFrame(
            [("https://en.example/0", "no-such-lang")],
            "url string, lang string")
        _commit_snapshot(path, dels.write.mode("overwrite").parquet,
                         content=2, equality_ids=[url_id])
        got = read_table(spark, path)
        urls = [r["url"] for r in got.collect()]
        assert len(urls) == n_before - 1
        assert "https://en.example/0" not in urls

    def test_unknown_equality_column_rejected(self, spark, tmp_path):
        import pytest as _pytest
        path = str(tmp_path / "tunk")
        write_table(_pages(spark), path, partition_by=["lang"],
                    mode="overwrite")
        with _pytest.raises(ValueError):
            write_equality_deletes(spark.createDataFrame(
                [("x",)], "nope string"), path)


class TestSpecRobustness:
    """Regressions for silent-corruption bugs found in round-5 review:
    URL-encodable table paths, file: URI metadata paths, explicit
    seq-0 entries, schema-id lookup, and empty-plan parity."""

    def test_deletes_apply_under_url_encoded_paths(self, spark,
                                                   tmp_path):
        """A space in the table path makes _metadata.file_path a
        percent-encoded URI ('%20') while manifests store the plain
        path; both delete kinds must still join (the round-5 review's
        confirmed silent-corruption repro)."""
        from pyspark.sql import functions as F
        base = tmp_path / "ice test dir"
        base.mkdir()
        path = str(base / "tbl")
        write_table(_pages(spark), path, partition_by=["lang"],
                    mode="overwrite")
        pre = read_table(spark, path)
        n_before = pre.count()
        victims = (pre.select(
            F.col("url"),
            norm_file_path(
                F.col("_metadata.file_path")).alias("file_path"),
            F.col("_metadata.row_index").alias("pos"))
            .orderBy("url").limit(2))
        victim_urls = [r["url"] for r in victims.collect()]
        write_position_deletes(
            victims.select("file_path", "pos"), path)
        write_equality_deletes(spark.createDataFrame(
            [("https://fr.example/5",)], "url string"), path)
        got = read_table(spark, path)
        urls = [r["url"] for r in got.collect()]
        assert len(urls) == n_before - 3
        for u in victim_urls + ["https://fr.example/5"]:
            assert u not in urls

    def test_file_uri_metadata_paths(self, spark, tmp_path):
        """Real writers store manifest-list/manifest/data paths as
        file: URIs (percent-encoded); planning must resolve them."""
        from urllib.parse import quote

        from gdal2mbtiles_spark.sources.iceberg import (
            MANIFEST_LIST_SCHEMA, manifest_entry_schema)
        base = tmp_path / "uri dir"
        base.mkdir()
        path = str(base / "tbl")
        write_table(_pages(spark, langs=("en",)), path,
                    partition_by=["lang"], mode="overwrite")
        n = read_table(spark, path).count()

        def _uri(p):
            return "file://" + quote(os.path.abspath(p))

        meta_dir = os.path.join(path, "metadata")
        meta = json.load(open(
            os.path.join(meta_dir, "v1.metadata.json")))
        # rewrite the manifest's data-file paths as URIs
        mlist = meta["snapshots"][0]["manifest-list"]
        manifests = list(avro.read_container(mlist))
        entries = list(avro.read_container(
            manifests[0]["manifest_path"]))
        for e in entries:
            e["data_file"]["file_path"] = _uri(
                e["data_file"]["file_path"])
        avro.write_container(manifests[0]["manifest_path"],
                             manifest_entry_schema(["lang"]), entries)
        # rewrite the manifest-list's manifest path as a URI
        manifests[0]["manifest_path"] = _uri(
            manifests[0]["manifest_path"])
        avro.write_container(mlist, MANIFEST_LIST_SCHEMA, manifests)
        # rewrite the snapshot's manifest-list pointer as a URI
        meta["snapshots"][0]["manifest-list"] = _uri(mlist)
        json.dump(meta, open(
            os.path.join(meta_dir, "v1.metadata.json"), "w"))
        assert read_table(spark, path).count() == n

    def test_explicit_seq_zero_not_inherited(self, spark, tmp_path):
        """v2 sequence inheritance applies to NULL entry seqs only; an
        explicit 0 (v1-upgraded data files) must survive as 0."""
        from gdal2mbtiles_spark.sources.iceberg import \
            manifest_entry_schema
        path = str(tmp_path / "tseq0")
        write_table(_pages(spark, langs=("en",)), path,
                    partition_by=["lang"], mode="overwrite")
        table = IcebergTable(path)
        mlist = table._resolve(table.snapshot()["manifest-list"])
        manifests = list(avro.read_container(mlist))
        mpath = table._resolve(manifests[0]["manifest_path"])
        schema = manifest_entry_schema(["lang"])

        entries = list(avro.read_container(mpath))
        for e in entries:
            e["sequence_number"] = 0
        avro.write_container(mpath, schema, entries)
        _files, stats = IcebergTable(path).plan_files()
        assert set(stats.data_seqs.values()) == {0}

        # NULL entry seq DOES inherit the manifest's seq
        for e in entries:
            e["sequence_number"] = None
        avro.write_container(mpath, schema, entries)
        _files, stats = IcebergTable(path).plan_files()
        assert set(stats.data_seqs.values()) == \
            {manifests[0]["sequence_number"]}

    def test_schema_list_keyed_by_schema_id(self, spark, tmp_path):
        """metadata['schemas'] is keyed by each entry's schema-id
        field, not by list position (schema evolution renumbers)."""
        path = str(tmp_path / "tschem")
        write_table(_pages(spark), path, partition_by=["lang"],
                    mode="overwrite")
        meta_path = os.path.join(path, "metadata", "v1.metadata.json")
        meta = json.load(open(meta_path))
        meta["schemas"][0]["schema-id"] = 7
        meta["current-schema-id"] = 7
        json.dump(meta, open(meta_path, "w"))
        n_before = read_table(spark, path).count()
        write_equality_deletes(spark.createDataFrame(
            [("https://en.example/0",)], "url string"), path)
        assert read_table(spark, path).count() == n_before - 1

    def test_empty_plan_returns_empty_frame(self, spark, tmp_path):
        """Filters matching zero files yield an EMPTY DataFrame with
        the table schema — parity with the Parquet backend, where a
        no-rows scan is not an error."""
        path = str(tmp_path / "tempty")
        write_table(_pages(spark), path, partition_by=["lang"],
                    mode="overwrite")
        got = read_table(spark, path, filters={"lang": "zz"})
        assert got.count() == 0
        assert got.columns == ["url", "warc_ts", "html", "text",
                               "lang"]
        got2 = read_table(spark, path, filters={"lang": "zz"},
                          columns=["url", "lang"])
        assert got2.columns == ["url", "lang"]
