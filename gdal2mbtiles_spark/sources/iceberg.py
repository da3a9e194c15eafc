"""Native Iceberg v2 table layout: metadata, manifests, planning, commits.

The production pages source is an Iceberg table (BASELINE.json
input_hint) and this sandbox has no Iceberg runtime jar, so this module
reads and writes the PUBLIC Iceberg v2 table spec directly:
``metadata/vN.metadata.json`` -> snapshot -> manifest list (Avro) ->
manifests (Avro) -> data-file plan.  Reads make the two prunings that
make Iceberg matter at 10^12 rows:

* **manifest-level**: a manifest whose partition field summaries
  (lower/upper bounds) exclude the filter value is never opened —
  O(manifests) metadata reads instead of O(files).  String bounds
  compare as UTF-8 bytes, int, long and date bounds as the numbers
  their single-value serialization holds; a manifest whose summaries
  cannot be compared with a filter is opened and counted
  (``PlanStats.manifests_unprunable``);
* **file-level**: a data file whose identity-partition value misses
  the filter is never handed to Spark — the scan's file list is
  exact, stronger than directory-listing pruning (no listing at all).

Every write — a data overwrite or append, a position delete, an
equality delete — commits through ``_commit_snapshot``: one Spark
write into a per-snapshot directory, one manifest of the new files, a
manifest list of the current snapshot's manifests plus that one, then
``v<n+1>.metadata.json`` and the version hint.  Planning and commits
are driver-side over kilobytes of metadata (exactly how Iceberg itself
works); the data path stays fully distributed.  The Avro decoder is
writer-schema driven (sources/avro.py), so manifests written by real
Iceberg writers read correctly for the v2 subset used here.
"""

from __future__ import annotations

import datetime
import json
import os
import struct
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Sequence, Tuple
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession

from . import avro

# ---- Iceberg v2 Avro schemas (spec appendix; subset actually used) ---------


def _opt(name: str, typ, fid: int) -> Dict:
    return {"name": name, "type": ["null", typ], "default": None,
            "field-id": fid}


def _req(name: str, typ, fid: int) -> Dict:
    return {"name": name, "type": typ, "field-id": fid}


_FIELD_SUMMARY = {
    "type": "record", "name": "field_summary", "fields": [
        _req("contains_null", "boolean", 509),
        _opt("contains_nan", "boolean", 518),
        _opt("lower_bound", "bytes", 510),
        _opt("upper_bound", "bytes", 511),
    ]}

MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        _req("manifest_path", "string", 500),
        _req("manifest_length", "long", 501),
        _req("partition_spec_id", "int", 502),
        _req("content", "int", 517),
        _req("sequence_number", "long", 515),
        _req("min_sequence_number", "long", 516),
        _req("added_snapshot_id", "long", 503),
        _req("added_files_count", "int", 504),
        _req("existing_files_count", "int", 505),
        _req("deleted_files_count", "int", 506),
        _req("added_rows_count", "long", 512),
        _req("existing_rows_count", "long", 513),
        _req("deleted_rows_count", "long", 514),
        _opt("partitions",
             {"type": "array", "items": _FIELD_SUMMARY}, 507),
    ]}


def manifest_entry_schema(partition_fields: List[str]) -> Dict:
    """Manifest-entry schema for an identity partition spec over
    string-typed source columns (the pages table's lang/ts_bucket)."""
    part_record = {
        "type": "record", "name": "r102", "fields": [
            _opt(name, "string", 1000 + i)
            for i, name in enumerate(partition_fields)
        ]}
    data_file = {
        "type": "record", "name": "r2", "fields": [
            _req("content", "int", 134),
            _req("file_path", "string", 100),
            _req("file_format", "string", 101),
            _req("partition", part_record, 102),
            _req("record_count", "long", 103),
            _req("file_size_in_bytes", "long", 104),
            _opt("equality_ids",
                 {"type": "array", "items": "int"}, 135),
        ]}
    return {
        "type": "record", "name": "manifest_entry", "fields": [
            _req("status", "int", 0),
            _opt("snapshot_id", "long", 1),
            _opt("sequence_number", "long", 3),
            _opt("file_sequence_number", "long", 4),
            _req("data_file", data_file, 2),
        ]}


# ---- table metadata ---------------------------------------------------------

@dataclass
class PlanStats:
    """Pruning evidence for a scan plan (asserted in tests and
    surfaced in PLANS.md)."""
    manifests_total: int = 0
    manifests_opened: int = 0
    # data manifests opened because a filter could not be compared
    # with their partition summaries (_manifest_may_match -> None)
    manifests_unprunable: int = 0
    files_total: int = 0
    files_planned: int = 0
    planned: List[str] = field(default_factory=list)
    # v2 row-level deletes discovered in content=1 (delete) manifests
    position_deletes: List[str] = field(default_factory=list)
    # sequence number per position-delete file
    position_delete_seqs: Dict[str, int] = field(default_factory=dict)
    # (path, sequence_number, equality_ids-or-None)
    equality_deletes: List[Tuple[str, int, Optional[Tuple[int, ...]]]] \
        = field(default_factory=list)
    data_seqs: Dict[str, int] = field(default_factory=dict)


class IcebergTable:
    """Handle on an Iceberg v2 table directory at its current
    version: scan planning, and the state a commit starts from."""

    def __init__(self, path: str):
        self.path = path.rstrip("/")
        meta_dir = os.path.join(self.path, "metadata")
        if not os.path.isdir(meta_dir):
            raise FileNotFoundError(
                f"not an Iceberg table (no metadata/): {path}")
        hint = os.path.join(meta_dir, "version-hint.text")
        if os.path.exists(hint):
            with open(hint) as fh:
                version = int(fh.read().strip())
        else:
            versions = [int(f[1:].split(".")[0])
                        for f in os.listdir(meta_dir)
                        if f.startswith("v")
                        and f.endswith(".metadata.json")]
            if not versions:
                raise FileNotFoundError(
                    f"no vN.metadata.json under {meta_dir}")
            version = max(versions)
        self.version = version
        with open(os.path.join(meta_dir,
                               f"v{version}.metadata.json")) as fh:
            self.metadata = json.load(fh)
        specs = {s["spec-id"]: s
                 for s in self.metadata.get("partition-specs", [])}
        self._default_spec_id = self.metadata.get("default-spec-id", 0)
        spec = specs.get(self._default_spec_id, {"fields": []})
        self.partition_fields = [f["name"] for f in spec["fields"]]
        # source types of the partition fields: they decide how a
        # summary bound and a filter value compare (r05 ADVICE)
        try:
            types = {f["id"]: f.get("type")
                     for f in self.current_schema().get("fields", [])}
        except (ValueError, AttributeError):
            types = {}
        self._partition_source_types = {
            f["name"]: types.get(f.get("source-id"))
            for f in spec["fields"]}

    # -- snapshots ------------------------------------------------------------

    def snapshots(self) -> List[Dict]:
        return self.metadata.get("snapshots", [])

    def snapshot(self, snapshot_id: Optional[int] = None) -> Dict:
        snaps = self.snapshots()
        if not snaps:
            raise ValueError(f"table has no snapshots: {self.path}")
        if snapshot_id is None:
            snapshot_id = self.metadata["current-snapshot-id"]
        for s in snaps:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise ValueError(f"unknown snapshot-id {snapshot_id}")

    def _resolve(self, p: str) -> str:
        """Manifest/data paths are absolute in the spec; tolerate
        ``file:`` URIs (real writers store full URIs, possibly
        percent-encoded) and table-relative paths for relocated
        fixtures."""
        p = _plain_path_py(p)
        if os.path.isabs(p) and os.path.exists(p):
            return p
        rel = p
        loc = _plain_path_py(
            self.metadata.get("location", self.path)).rstrip("/")
        if p.startswith(loc + "/"):
            rel = p[len(loc) + 1:]
        return os.path.join(self.path, rel)

    def current_schema(self) -> Dict:
        """The schema whose schema-id equals current-schema-id (the
        schemas LIST is not positionally indexed by id after schema
        evolution)."""
        cur = self.metadata.get("current-schema-id", 0)
        schemas = self.metadata.get("schemas", [])
        for s in schemas:
            if s.get("schema-id") == cur:
                return s
        if schemas:
            return schemas[0]
        raise ValueError(f"table has no schemas: {self.path}")

    # -- scan planning --------------------------------------------------------

    def plan_files(self, snapshot_id: Optional[int] = None,
                   filters: Optional[Dict[str, str]] = None
                   ) -> Tuple[List[str], PlanStats]:
        """Data-file plan for a snapshot under equality ``filters``
        on identity partition columns, with manifest- and file-level
        pruning.  Unknown filter columns are ignored here (they still
        filter rows in the caller's DataFrame plan — pruning is an
        optimization, never a semantic)."""
        filters = {k: v for k, v in (filters or {}).items()
                   if k in self.partition_fields}
        snap = self.snapshot(snapshot_id)
        stats = PlanStats()
        mlist = self._resolve(snap["manifest-list"])
        for mf in avro.read_container(mlist):
            stats.manifests_total += 1
            # content=1 marks a DELETE manifest (v2 row-level
            # deletes): its entries are position/equality delete
            # files, never data.  Delete manifests are opened
            # unconditionally — partition pruning them needs
            # spec-scoped summaries we don't track, and a skipped
            # delete silently resurrects rows (correctness first).
            is_delete = mf.get("content", 0) == 1
            if not is_delete:
                may_match = self._manifest_may_match(mf, filters)
                if may_match is False:
                    continue
                if may_match is None:
                    stats.manifests_unprunable += 1
            stats.manifests_opened += 1
            mpath = self._resolve(mf["manifest_path"])
            for entry in avro.read_container(mpath):
                if entry["status"] == 2:          # DELETED
                    continue
                df_rec = entry["data_file"]
                fcontent = df_rec.get("content", 0)
                # v2 sequence inheritance: a NULL entry seq means the
                # manifest's own sequence_number.  An explicit 0 is
                # valid (v1-upgraded data files) and must NOT inherit.
                seq = entry.get("sequence_number")
                if seq is None:
                    seq = mf.get("sequence_number")
                if seq is None:
                    seq = 0
                if is_delete or fcontent != 0:
                    p = self._resolve(df_rec["file_path"])
                    if fcontent == 1:
                        stats.position_deletes.append(p)
                        stats.position_delete_seqs[p] = seq
                    elif fcontent == 2:
                        eq_ids = df_rec.get("equality_ids")
                        stats.equality_deletes.append(
                            (p, seq,
                             tuple(eq_ids) if eq_ids else None))
                    else:
                        raise ValueError(
                            f"delete manifest {mpath} carries a "
                            f"content=0 (data) file: {p}")
                    continue
                stats.files_total += 1
                part = df_rec.get("partition") or {}
                # a real writer stores non-string identity partition
                # values natively (int, date as days); comparing them
                # to the caller's string filter via == is always False
                # and would prune EVERY file while the DataFrame
                # re-filter (which casts) matches rows — compare the
                # typed values, else a common string form (r05 ADVICE)
                if all(self._file_may_match(k, part.get(k), v)
                       for k, v in filters.items()):
                    stats.files_planned += 1
                    path_ = self._resolve(df_rec["file_path"])
                    stats.planned.append(path_)
                    stats.data_seqs[path_] = seq
        return stats.planned, stats

    def _file_may_match(self, name: str, value, want: str) -> bool:
        """Whether a data file's partition ``value`` can equal the
        filter text ``want`` on partition field ``name``."""
        typ = self._partition_source_types.get(name)
        have, want = (_partition_value(typ, value),
                      _partition_value(typ, want))
        return have == want or (have is not None
                                and str(have) == str(want))

    def _manifest_may_match(self, mf: Dict,
                            filters: Dict[str, str]) -> Optional[bool]:
        """Manifest-level pruning via partition field summaries:
        conservative — False only when the bounds PROVE no file in
        the manifest can match; None when some filter could not be
        compared with them, so the manifest is opened unpruned."""
        if not filters:
            return True
        # summaries are positional in the manifest's OWN spec: under
        # partition-spec evolution they can belong to a different
        # field layout than the default spec this reader filters on —
        # a misaligned bound comparison could falsely PROVE exclusion
        # and silently drop a manifest's files (r05 ADVICE).  Pruning
        # is an optimization; when in doubt, open the manifest.
        spec_id = mf.get("partition_spec_id")
        if spec_id is not None and spec_id != self._default_spec_id:
            return None
        summaries = mf.get("partitions")
        if not summaries:
            return None                       # no stats -> must open
        compared = True
        for i, name in enumerate(self.partition_fields):
            if name not in filters:
                continue
            if i >= len(summaries):
                compared = False
                continue
            typ = self._partition_source_types.get(name)
            lo = _decode_bound(typ, summaries[i].get("lower_bound"))
            hi = _decode_bound(typ, summaries[i].get("upper_bound"))
            want = _partition_value(typ, filters[name])
            if typ == "string":
                want = want.encode("utf-8")
            if want is None or _NO_BOUND in (lo, hi):
                compared = False
                continue
            if lo is not None and want < lo:
                return False
            if hi is not None and want > hi:
                return False
        return True if compared else None


# Iceberg single-value serialization of the partition sources whose
# summary bounds planning compares as numbers: int and date (days
# since 1970-01-01) are little-endian int32, long little-endian int64
_BOUND_STRUCTS = {"int": struct.Struct("<i"), "date": struct.Struct("<i"),
                  "long": struct.Struct("<q")}
_EPOCH = datetime.date(1970, 1, 1)
# a summary bound that cannot be compared with a filter
_NO_BOUND = object()


def _partition_value(source_type: Optional[str], value):
    """A partition value in the order Iceberg's bounds use: the number
    of an int, long or date (days) source, parsed from its text form (a
    filter, a Hive partition directory) or taken as a real writer
    stored it; None for text that names no value of the type.  Other
    sources' values are returned unchanged."""
    if source_type not in _BOUND_STRUCTS or not isinstance(value, str):
        return value
    try:
        if source_type == "date":
            return (datetime.date.fromisoformat(value) - _EPOCH).days
        return int(value)
    except ValueError:
        return None


def _decode_bound(source_type: Optional[str], raw):
    """A summary bound as a comparable value: UTF-8 bytes for a string
    source, the number for int, long and date; None when absent, and
    _NO_BOUND for any other source or a bound of the wrong width (the
    text bounds written before numeric sources were serialized)."""
    fmt = _BOUND_STRUCTS.get(source_type)
    if fmt is None and source_type != "string":
        return _NO_BOUND
    if raw is None:
        return None
    if fmt is None:
        return bytes(raw)
    if len(raw) != fmt.size:
        return _NO_BOUND
    return fmt.unpack(bytes(raw))[0]


def _encode_bound(source_type: Optional[str], value):
    """The single-value serialization of a typed partition value, the
    inverse of _decode_bound; None for None and for a source it does
    not cover."""
    if value is None:
        return None
    if source_type == "string":
        return value.encode("utf-8")
    fmt = _BOUND_STRUCTS.get(source_type)
    return None if fmt is None else fmt.pack(value)


# ---- read / write -----------------------------------------------------------

def is_iceberg_table(path: str) -> bool:
    return os.path.isdir(os.path.join(path, "metadata"))


def read_table(spark: SparkSession, path: str,
               snapshot_id: Optional[int] = None,
               filters: Optional[Dict[str, str]] = None,
               columns: Optional[List[str]] = None,
               with_stats: bool = False):
    """DataFrame over an Iceberg table's planned data files.

    Planning (metadata + manifests, kilobytes) runs on the driver —
    exactly Iceberg's own model; the data scan is a plain distributed
    Parquet read over the PRUNED file list.  Identity-partition
    source columns live inside the data files (spec behaviour, and
    write_table keeps it), so no reattachment is needed.  Row-level
    correctness never depends on pruning: the same equality filters
    are re-applied to the DataFrame."""
    table = IcebergTable(path)
    files, stats = table.plan_files(snapshot_id, filters)
    if not files:
        # parity with the Parquet backend: a legitimate no-rows scan
        # (filters matching nothing) is an EMPTY relation, not an
        # error — the schema comes from the table metadata
        df = spark.createDataFrame([], _spark_schema(table))
        if columns:
            df = df.select(*columns)
        return (df, stats) if with_stats else df
    # the table's own schema: inferring it from Parquet footers would
    # run a Spark job on every read
    df = spark.read.schema(_spark_schema(table)).parquet(*files)
    if stats.position_deletes or stats.equality_deletes:
        from pyspark.sql import functions as F
        # _metadata is only resolvable on the scan relation itself —
        # capture the (normalized file, row ordinal) ONCE, attach each
        # row's data sequence number through a tiny broadcast
        # (file -> seq) dim, apply both delete kinds against the
        # captured columns, then drop them
        df = df.withColumns({
            "_del_file": norm_file_path(F.col("_metadata.file_path")),
            "_del_pos": F.col("_metadata.row_index"),
        })
        files_dim = spark.createDataFrame(
            [(_norm_path_py(k), int(v))
             for k, v in stats.data_seqs.items()],
            "_del_file string, _data_seq long")
        df = df.join(F.broadcast(files_dim), "_del_file")
        if stats.position_deletes:
            df = _apply_position_deletes(spark, df,
                                         stats.position_delete_seqs)
        if stats.equality_deletes:
            df = _apply_equality_deletes(spark, df,
                                         stats.equality_deletes,
                                         table.current_schema())
        df = df.drop("_del_file", "_del_pos", "_data_seq")
    for k, v in (filters or {}).items():
        if k in df.columns:
            df = df.where(df[k] == v)
    if columns:
        df = df.select(*columns)
    return (df, stats) if with_stats else df


def norm_file_path(col):
    """Normalize a ``_metadata.file_path`` URI to the plain
    filesystem path manifests store: strip the ``file:`` scheme,
    percent-decode, collapse duplicate leading slashes.  ``+`` is
    legal UNencoded in URI paths, so it is escaped before url_decode
    (whose form-encoding semantics would read it as a space); a
    literal ``%`` in the underlying path arrives encoded as ``%25``
    and decodes back, so the mapping is exact."""
    from pyspark.sql import functions as F
    plain = F.regexp_replace(col, "^file:", "")
    plain = F.url_decode(F.regexp_replace(plain, r"\+", "%2B"))
    return F.regexp_replace(plain, "^/+", "/")


def _norm_path(col):
    """Raw manifest/delete-file paths: tolerate a file: prefix and
    collapse duplicate leading slashes.  NO percent-decoding — raw
    paths may legally contain literal % or + (URIs go through
    norm_file_path instead)."""
    from pyspark.sql import functions as F
    return F.regexp_replace(F.regexp_replace(col, "^file:", ""),
                            "^/+", "/")


def _norm_path_py(p: str) -> str:
    """Driver-side twin of _norm_path for dict keys."""
    import re
    return re.sub("^/+", "/", re.sub("^file:", "", p))


def _plain_path_py(p: str) -> str:
    """Driver-side twin of norm_file_path: URI -> plain path
    (percent-decoding only, ``+`` preserved)."""
    import re
    if p.startswith("file:"):
        p = unquote(p[5:])
    return re.sub("^/+", "/", p) if p.startswith("/") else p


# (Iceberg primitive type, Spark SQL type): reads map every Iceberg
# type to its Spark type; writes map a Spark type to the FIRST Iceberg
# type that names it, so Spark timestamps are written as timestamptz
_TYPES = [("string", "string"), ("long", "bigint"), ("int", "int"),
          ("double", "double"), ("float", "float"),
          ("boolean", "boolean"), ("binary", "binary"),
          ("timestamptz", "timestamp"), ("timestamp", "timestamp"),
          ("date", "date")]
_SPARK_TYPE = dict(_TYPES)
_ICEBERG_TYPE = {spark: ice for ice, spark in reversed(_TYPES)}

# the spec's position-delete file schema
_POSITION_DELETE_DDL = "file_path string, pos bigint"


def _fields_ddl(fields: List[Dict]) -> str:
    """Spark StructType DDL for Iceberg schema fields.  Reads use it as
    the scan schema, so a type with no Spark mapping raises ValueError
    instead of misreading the column."""
    cols = []
    for f in fields:
        typ = f.get("type")
        if not isinstance(typ, str) or typ not in _SPARK_TYPE:
            raise ValueError(f"Iceberg field {f['name']!r} has type "
                             f"{typ!r}, which has no Spark mapping")
        cols.append(f"`{f['name']}` {_SPARK_TYPE[typ]}")
    return ", ".join(cols)


def _spark_schema(table: IcebergTable):
    """Spark StructType DDL for the table's current Iceberg schema."""
    return _fields_ddl(table.current_schema().get("fields", []))


def _apply_position_deletes(spark: SparkSession, df: DataFrame,
                            delete_seqs: Dict[str, int]) -> DataFrame:
    """Distributed position-delete application with the spec's
    sequence rule: anti-join the scan on (file_path, row ordinal)
    against the delete rows, where the data file's sequence number
    is AT OR BELOW the delete file's — the Spark expression of
    Iceberg's merge-on-read.  `_metadata.row_index` is the parquet
    row ordinal Iceberg's `pos` refers to, so no per-file driver work
    is needed; the delete files are read once per distinct sequence
    number.  The delete side is typically orders of magnitude smaller
    than the data and Spark/AQE picks a broadcast anti-join on its
    own (no hint: at compaction-overdue scale a shuffled anti-join is
    the right fallback and must stay available).

    The delete rows' ``file_path`` holds the manifest's raw path (the
    spec stores it verbatim); paths captured from
    ``_metadata.file_path`` must be normalized with
    :func:`norm_file_path` first (write_position_deletes docstring)."""
    from pyspark.sql import functions as F
    by_seq: Dict[int, List[str]] = {}
    for p, seq in delete_seqs.items():
        by_seq.setdefault(int(seq), []).append(p)
    dels = None
    for seq, files in sorted(by_seq.items()):
        d = (spark.read.schema(_POSITION_DELETE_DDL).parquet(*files)
             .select(_norm_path(F.col("file_path")).alias("_pd_file"),
                     F.col("pos").alias("_pd_pos"),
                     F.lit(seq).alias("_pd_seq")))
        dels = d if dels is None else dels.unionByName(d)
    cond = ((df["_del_file"] == dels["_pd_file"])
            & (df["_del_pos"] == dels["_pd_pos"])
            & (df["_data_seq"] <= dels["_pd_seq"]))
    return df.join(dels, cond, "left_anti")


def _apply_equality_deletes(spark: SparkSession, data: DataFrame,
                            eq_deletes: List[
                                Tuple[str, int,
                                      Optional[Tuple[int, ...]]]],
                            schema: Dict) -> DataFrame:
    """Distributed equality-delete application with the spec's
    sequence rule: a delete row removes a data row iff every EQUALITY
    column matches (null-safe) AND the data file's sequence number
    (``_data_seq``) is STRICTLY below the delete file's — rows
    appended after the delete survive.  The match columns are the
    manifest entry's ``equality_ids`` (spec: extra columns stored in
    the delete file are ignored for matching); files without recorded
    ids fall back to all stored columns.  Shape: each distinct
    match-column set gets its own anti-join whose build side is that
    set's deletes union (usually far smaller than the data)."""
    import functools
    import operator

    from pyspark.sql import functions as F

    fields_by_id = {f["id"]: f for f in schema.get("fields", [])}
    # per file: (path, seq, read schema) — the equality fields' DDL, so
    # no footer is inferred; a file without recorded ids is read as
    # stored
    by_cols: Dict[Tuple[str, ...],
                  List[Tuple[str, int, Optional[str]]]] = {}
    for p, seq, eq_ids in eq_deletes:
        if eq_ids:
            unknown = [i for i in eq_ids if i not in fields_by_id]
            if unknown:
                raise ValueError(
                    f"equality_ids {unknown} not in table schema "
                    f"field ids {sorted(fields_by_id)}")
            fields = sorted((fields_by_id[i] for i in eq_ids),
                            key=lambda f: f["name"])
            cols = tuple(f["name"] for f in fields)
            ddl = _fields_ddl(fields)
        else:
            cols = tuple(sorted(spark.read.parquet(p).columns))
            ddl = None
        by_cols.setdefault(cols, []).append((p, seq, ddl))

    for cols, group in sorted(by_cols.items()):
        missing = [c for c in cols if c not in data.columns]
        if missing:
            raise ValueError(
                f"equality-delete columns {missing} not in table "
                f"columns {data.columns}")
        dels = None
        for p, seq, ddl in group:
            reader = spark.read if ddl is None else spark.read.schema(ddl)
            d = (reader.parquet(p).select(*cols)
                 .withColumn("_del_seq", F.lit(int(seq))))
            dels = d if dels is None else dels.unionByName(d)
        for c in cols:
            dels = dels.withColumnRenamed(c, f"_eq_{c}")
        cond = functools.reduce(operator.and_, [
            data[c].eqNullSafe(dels[f"_eq_{c}"]) for c in cols])
        cond = cond & (data["_data_seq"] < dels["_del_seq"])
        data = data.join(dels, cond, "left_anti")
    return data


def write_table(df: DataFrame, path: str,
                partition_by: Optional[List[str]] = None,
                mode: str = "overwrite") -> int:
    """Materialize ``df`` as an Iceberg v2 table snapshot; returns the
    new snapshot id.

    mode='overwrite' starts the table over (snapshot 1);
    mode='append' adds a snapshot whose manifest list carries every
    prior manifest plus the new one (time travel via
    ``read_table(snapshot_id=...)``).

    The data write is fully distributed (one Spark parquet write;
    the identity-partition columns are DUPLICATED into ``_p_<name>``
    directory keys so the source columns stay inside the data files,
    as the Iceberg spec requires).  Only the commit — listing the new
    files and their footer row counts — is driver-side, and it is
    O(files in this snapshot), the same cost Iceberg's own commit path
    pays."""
    from pyspark.sql import functions as F

    partition_by = partition_by or []
    out = df
    for name in partition_by:
        out = out.withColumn(f"_p_{name}", F.col(name))
    writer = (out.write.partitionBy([f"_p_{n}" for n in partition_by])
              .mode("overwrite"))
    return _commit_snapshot(path, writer.parquet, schema=df.schema,
                            partition_by=partition_by,
                            overwrite=mode != "append")


def write_position_deletes(deletes: DataFrame, path: str) -> int:
    """Commit a position-delete snapshot to an existing table written
    by write_table: ``deletes`` has columns (file_path: string — the
    absolute data-file path as planned, pos: long — parquet row
    ordinal), written distributed as the spec's position-delete file
    layout and registered in a content=1 delete manifest whose
    manifest list carries every prior manifest (time travel to the
    pre-delete snapshot keeps the rows).  file_path must be the PLAIN
    path as the manifest stores it; paths captured from
    ``_metadata.file_path`` (a percent-encoded URI) must go through
    :func:`norm_file_path` first."""
    return _commit_snapshot(
        path, deletes.select("file_path", "pos").write.mode("overwrite")
        .parquet, content=1)


def write_equality_deletes(deletes: DataFrame, path: str) -> int:
    """Commit an equality-delete snapshot: ``deletes`` carries the
    equality columns' VALUES (any subset of the table columns); a
    data row is deleted iff all of them match null-safely and the
    data file predates this snapshot (spec sequence rule — rows
    appended later survive, which read_table enforces).  The
    manifest entry records the columns' field ids as equality_ids."""
    ids_by_name = {f["name"]: f["id"]
                   for f in IcebergTable(path).current_schema()["fields"]}
    missing = [c for c in deletes.columns if c not in ids_by_name]
    if missing:
        raise ValueError(
            f"equality-delete columns {missing} not in table schema "
            f"{sorted(ids_by_name)}")
    return _commit_snapshot(
        path, deletes.write.mode("overwrite").parquet, content=2,
        equality_ids=[ids_by_name[c] for c in deletes.columns])


def _commit_snapshot(path: str, write: Callable[[str], None],
                     content: int = 0, schema=None,
                     partition_by: Sequence[str] = (),
                     overwrite: bool = False,
                     equality_ids: Optional[List[int]] = None) -> int:
    """Commit one snapshot whose Parquet files ``write(dir)`` puts
    under ``dir``; returns the snapshot id, also its sequence number.

    ``content`` is every new file's Iceberg content: 0 data, 1
    position deletes, 2 equality deletes (recording ``equality_ids``).
    A data write rebuilds the schema and identity spec from ``schema``
    (the DataFrame's StructType) and ``partition_by``; with
    ``overwrite``, or on a path without metadata, it starts the table
    over at version 0.  A delete carries the current metadata over and
    raises on a path without a table."""
    import pyarrow.parquet as pq

    path = path.rstrip("/")
    table = None
    if content != 0 or not overwrite:
        try:
            table = IcebergTable(path)
        except FileNotFoundError:
            if content != 0:
                raise
    meta = table.metadata if table else {}
    snapshots = meta.get("snapshots", [])
    snapshot_id = max((s["snapshot-id"] for s in snapshots),
                      default=0) + 1
    seq = snapshot_id
    manifests = [
        m for s in snapshots
        if s["snapshot-id"] == meta.get("current-snapshot-id")
        for m in avro.read_container(table._resolve(s["manifest-list"]))]
    if content == 0:
        # before the Spark write: an unmapped type must not leave files
        meta = _data_metadata(path, schema, partition_by, meta)
    meta_dir = os.path.join(path, "metadata")
    os.makedirs(meta_dir, exist_ok=True)

    kind = "" if content == 0 else "deletes-"
    out_dir = os.path.join(path, "data", f"{kind}snap-{snapshot_id}")
    write(out_dir)

    # one manifest entry per new file (driver-side metadata, O(files))
    entries = []
    for root, _dirs, names in os.walk(out_dir):
        rel = os.path.relpath(root, out_dir)
        part = {}
        for seg in (rel.split(os.sep) if partition_by and rel != "."
                    else []):
            key, _, val = seg.partition("=")
            if key.startswith("_p_"):
                # Spark URL-encodes partition dirs and names NULL by
                # the hive sentinel; the manifest stores the decoded
                # value, or None so summaries report contains_null
                val = unquote(val)
                part[key[3:]] = (None
                                 if val == "__HIVE_DEFAULT_PARTITION__"
                                 else val)
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            fpath = os.path.abspath(os.path.join(root, name))
            entries.append({
                "status": 1, "snapshot_id": snapshot_id,
                "sequence_number": seq, "file_sequence_number": seq,
                "data_file": {
                    "content": content,
                    "file_path": fpath,
                    "file_format": "PARQUET",
                    "partition": {n: part.get(n) for n in partition_by},
                    "record_count":
                        pq.ParquetFile(fpath).metadata.num_rows,
                    "file_size_in_bytes": os.path.getsize(fpath),
                    "equality_ids": equality_ids,
                }})
    entries.sort(key=lambda e: e["data_file"]["file_path"])

    mpath = os.path.join(
        meta_dir, f"manifest-{snapshot_id}"
        f"{'' if content == 0 else '-deletes'}.avro")
    avro.write_container(mpath, manifest_entry_schema(list(partition_by)),
                         entries)
    manifests.append({
        "manifest_path": os.path.abspath(mpath),
        "manifest_length": os.path.getsize(mpath),
        "partition_spec_id": 0, "content": int(content != 0),
        "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(entries),
        "existing_files_count": 0, "deleted_files_count": 0,
        "added_rows_count": sum(e["data_file"]["record_count"]
                                for e in entries),
        "existing_rows_count": 0, "deleted_rows_count": 0,
        "partitions": _summaries(entries, partition_by, meta),
    })
    mlist_path = os.path.join(
        meta_dir, f"snap-{snapshot_id}-manifest-list.avro")
    avro.write_container(mlist_path, MANIFEST_LIST_SCHEMA, manifests)

    now_ms = int(time.time() * 1000)
    meta = {**meta,
            "last-sequence-number": seq,
            "last-updated-ms": now_ms,
            "current-snapshot-id": snapshot_id,
            "snapshots": meta.get("snapshots", []) + [{
                "snapshot-id": snapshot_id,
                "sequence-number": seq,
                "timestamp-ms": now_ms,
                "manifest-list": os.path.abspath(mlist_path),
                "summary": {
                    "operation": "append" if content == 0 else "delete"},
                "schema-id": 0,
            }]}
    version = (table.version if table else 0) + 1
    with open(os.path.join(meta_dir,
                           f"v{version}.metadata.json"), "w") as fh:
        json.dump(meta, fh, indent=1)
    with open(os.path.join(meta_dir, "version-hint.text"),
              "w") as fh:
        fh.write(str(version))
    return snapshot_id


def _data_metadata(path: str, schema, partition_by: Sequence[str],
                   prior: Dict) -> Dict:
    """Table metadata for a data write, before its snapshot is added:
    the schema and identity spec come from the DataFrame's ``schema``,
    the snapshot history from ``prior`` (empty when the table starts
    over)."""
    fields = []
    for i, f_ in enumerate(schema.fields):
        typ = f_.dataType.simpleString()
        if typ not in _ICEBERG_TYPE:
            raise ValueError(f"Spark type {typ!r} has no Iceberg "
                             f"mapping in this writer")
        fields.append({"id": i + 1, "name": f_.name, "required": False,
                       "type": _ICEBERG_TYPE[typ]})
    ids = {f_["name"]: f_["id"] for f_ in fields}
    for name in partition_by:
        if name not in ids:
            raise ValueError(f"partition column {name!r} not in schema")
    return {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000000",
        "location": os.path.abspath(path),
        "last-sequence-number": prior.get("last-sequence-number", 0),
        "last-updated-ms": prior.get("last-updated-ms", 0),
        "last-column-id": len(fields),
        "current-schema-id": 0,
        "schemas": [{"type": "struct", "schema-id": 0,
                     "fields": fields}],
        "default-spec-id": 0,
        "partition-specs": [{
            "spec-id": 0,
            "fields": [{"name": n, "transform": "identity",
                        "source-id": ids[n], "field-id": 1000 + i}
                       for i, n in enumerate(partition_by)]}],
        "last-partition-id": 999 + len(partition_by),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": prior.get("current-snapshot-id"),
        "snapshots": prior.get("snapshots", []),
    }


def _summaries(entries: List[Dict], partition_by: Sequence[str],
               meta: Dict) -> List[Dict]:
    """Manifest-list partition field summaries: null flag and the
    serialized bounds of each identity partition field — UTF-8 for a
    string source, int32/int64 for int, long and date; none for the
    other source types."""
    types = {f["name"]: f["type"] for f in meta["schemas"][0]["fields"]}
    out = []
    for name in partition_by:
        typ = types[name]
        vals = [_partition_value(typ, e["data_file"]["partition"].get(name))
                for e in entries]
        known = [v for v in vals if v is not None]
        lo, hi = (min(known), max(known)) if known else (None, None)
        out.append({
            "contains_null": any(v is None for v in vals),
            "contains_nan": None,
            "lower_bound": _encode_bound(typ, lo),
            "upper_bound": _encode_bound(typ, hi),
        })
    return out
