"""Streaming source that TAILS a :class:`VersionedTable` — the
Iceberg/Delta "table as a stream" surface (Iceberg's Spark streaming
read: incremental append scan, erroring on non-append commits;
reference capability per the Trino-on-Iceberg stack's CDC story —
/root/reference/tf/main.tf:93-98 wires the Iceberg connector whose
table commits this source tails).

Contract (full ``DataSourceStreamReader``, not the driver-prefetching
simple reader): offsets are TABLE VERSIONS; ``latestOffset`` reads the
manifest log (O(manifests), driver-side planning state only);
``partitions(start, end)`` lists the parquet files of the append
layers in ``(start, end]`` — one :class:`InputPartition` per data
file; ``read(partition)`` opens ONE parquet file executor-side via
pyarrow. Rows never pass through the driver, so a 1000-file backlog
fans out across the cluster like any batch scan.

Non-append commits (deletes, upserts, rewrites) cannot be expressed
as an append stream; like Iceberg's `streaming-skip-delete-snapshots`
default, the source raises — set ``skipNonAppend=true`` to skip those
versions explicitly (downstream then sees inserts only).

Storage: planning runs in py4j-less Python workers, so manifest
listing, ref resolution (with its torn-read retry), branch heads,
lineage and file walks all come from :mod:`walden_spark.tablelog` —
the same rules ``VersionedTable`` reads the log by — on its os backend
for bare and file: paths and pyarrow.fs for other URIs. Executors read
single files via pyarrow, which resolves URIs natively. The planning
contract (versions → files → one file per task) is storage-agnostic.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from walden_spark import tablelog


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _ChangeFilePartition(InputPartition):
    """One parquet file of a change micro-batch. ``change_type`` is the
    constant to stamp ('insert' for files served straight from a
    commit's data dir); None means the file carries its own
    ``_change_type`` column (a staged CDF file)."""

    def __init__(self, path: str, change_type: str | None, version: int):
        self.path = path
        self.change_type = change_type
        self.version = version


def _latest_offset(path: str, branch: str, from_version: int) -> dict:
    # the BRANCH head, never the newest manifest on any branch: a WAP
    # audit branch or a transaction's staging branch commits manifests
    # too, and those must not leak unpublished rows into the stream
    # (ADVICE r05 #2). Offsets stay monotonic because branch heads only
    # move to strictly newer versions.
    head = tablelog.resolve_head(
        tablelog.read_refs(path), lambda: tablelog.manifests(path), branch
    )
    v = head if head is not None else from_version
    return {"version": max(v, from_version)}


_ARROW_TO_SPARK = {
    "int8": "byte", "int16": "short", "int32": "int", "int64": "long",
    "float": "float", "double": "double", "bool": "boolean",
    "string": "string", "large_string": "string", "binary": "binary",
    "date32[day]": "date",
}


def _spark_type(arrow_type) -> str:
    s = str(arrow_type)
    if s.startswith("timestamp"):
        return "timestamp"
    if s in _ARROW_TO_SPARK:
        return _ARROW_TO_SPARK[s]
    raise ValueError(f"unsupported column type for table tail: {s}")


class _TableTailReader(DataSourceStreamReader):
    def __init__(self, options, schema_names):
        self.schema_names = list(schema_names)
        self.path = options["path"]
        self.branch = options.get("branch", "main")
        self.from_version = int(options.get("fromVersion", -1))
        self.skip_non_append = (
            str(options.get("skipNonAppend", "false")).lower() == "true"
        )

    def initialOffset(self):
        return {"version": self.from_version}

    def latestOffset(self):
        return _latest_offset(self.path, self.branch, self.from_version)

    def partitions(self, start, end):
        lo, hi = start["version"], end["version"]
        ms = tablelog.manifests(self.path)
        on_branch = tablelog.lineage(ms, hi if hi >= 0 else None)
        parts: list[_FilePartition] = []
        for m in ms:
            v = m["version"]
            if v <= lo or v > hi or v not in on_branch:
                continue
            if m.get("rename"):
                # a schema change breaks the declared stream schema —
                # rows after it would bind to the wrong column names,
                # so this is never skippable (restart the stream with
                # fromVersion past the rename instead)
                raise ValueError(
                    f"version {v} renames a column; the tail's schema is "
                    "fixed at stream start — restart with fromVersion="
                    f"{v} to continue under the new schema"
                )
            if v == 0 and lo == -1:
                pass  # base snapshot streams as the initial batch
            elif not (m.get("mor") and m.get("operation") == "append"):
                if self.skip_non_append:
                    continue
                raise ValueError(
                    f"version {v} is {m.get('operation')!r}, not an append; "
                    "an append tail cannot express it (set skipNonAppend=true "
                    "to skip, or consume read_changes() in batch)"
                )
            if m.get("data_dir"):
                parts.extend(
                    _FilePartition(p) for p in tablelog.walk_parquet(m["data_dir"])
                )
        # Spark requires >=1 partition per microbatch plan; an empty
        # batch is a partition that yields no rows
        return parts or [_FilePartition("")]

    def read(self, partition: _FilePartition):
        if not partition.path:
            return iter(())
        import pyarrow.parquet as pq

        table = pq.read_table(partition.path)
        # arrow → python tuples, executor-side, one file per task;
        # bind BY NAME against the declared stream schema so file
        # column order never matters and columns added by later schema
        # evolution surface as None in older files
        n = table.num_rows
        names = set(table.schema.names)
        cols = [
            table.column(name).to_pylist() if name in names else [None] * n
            for name in self.schema_names
        ]
        return iter(list(zip(*cols))) if cols else iter(())

    def commit(self, end):
        pass  # offsets are table versions; nothing to clean up


class WaldenTableTailDataSource(DataSource):
    """``spark.readStream.format("walden_table_tail")
    .option("path", <table>).load()`` — stream a versioned table's
    append commits as micro-batches, one executor task per data file."""

    @classmethod
    def name(cls) -> str:
        return "walden_table_tail"

    def schema(self) -> str:
        import pyarrow.parquet as pq

        ms = tablelog.manifests(self.options["path"])
        if not ms:
            raise ValueError(f"no versions at {self.options['path']}")
        # LAST data manifest: the head schema, so a tail started after
        # a rename/evolution serves the current column names
        with_data = [m for m in ms if m.get("data_dir")]
        f = tablelog.walk_parquet(with_data[-1]["data_dir"])[0]
        sch = pq.read_schema(f)
        return ", ".join(
            f"`{name}` {_spark_type(sch.field(name).type)}" for name in sch.names
        )

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _TableTailReader(self.options, schema.fieldNames())


class _TableChangesReader(DataSourceStreamReader):
    """Streams a cdf-enabled VersionedTable's CHANGE ROWS — every
    commit kind, not just appends (the Delta CDF-streaming surface the
    append tail can't express). Inserts of append/upsert commits are
    served straight from the commit's own data files; deletes, update
    pre-images, and rewrite diffs come from the CDF file the commit
    staged under its manifest claim (timetravel.py::_stage_cdf)."""

    def __init__(self, options, schema_names):
        # last two declared fields are _change_type/_commit_version
        self.schema_names = list(schema_names)
        self.data_names = [
            n for n in self.schema_names
            if n not in ("_change_type", "_commit_version")
        ]
        self.path = options["path"]
        self.branch = options.get("branch", "main")
        self.from_version = int(options.get("fromVersion", -1))

    def initialOffset(self):
        return {"version": self.from_version}

    def latestOffset(self):
        return _latest_offset(self.path, self.branch, self.from_version)

    def partitions(self, start, end):
        lo, hi = start["version"], end["version"]
        ms = tablelog.manifests(self.path)
        on_branch = tablelog.lineage(ms, hi if hi >= 0 else None)
        parts: list[_ChangeFilePartition] = []
        for m in ms:
            v = m["version"]
            if v <= lo or v > hi or v not in on_branch:
                continue
            cdf = m.get("cdf")
            if cdf is None:
                # committed before enable_cdf(): no change rows exist.
                # Refuse rather than silently drop changes — restart
                # with fromVersion at or past the enable point.
                raise ValueError(
                    f"version {v} carries no change-data files (committed "
                    "before enable_cdf()); start the stream with "
                    f"fromVersion={v}"
                )
            if cdf.get("appends") and m.get("data_dir"):
                parts.extend(
                    _ChangeFilePartition(p, "insert", v)
                    for p in tablelog.walk_parquet(m["data_dir"])
                )
            if cdf.get("dir"):
                parts.extend(
                    _ChangeFilePartition(p, None, v)
                    for p in tablelog.walk_parquet(cdf["dir"])
                )
        return parts or [_ChangeFilePartition("", None, -1)]

    def read(self, partition: _ChangeFilePartition):
        if not partition.path:
            return iter(())
        import pyarrow.parquet as pq

        table = pq.read_table(partition.path)
        n = table.num_rows
        names = set(table.schema.names)
        cols = [
            table.column(name).to_pylist() if name in names else [None] * n
            for name in self.data_names
        ]
        if partition.change_type is not None:
            ct = [partition.change_type] * n
        else:
            ct = table.column("_change_type").to_pylist()
        cv = [partition.version] * n
        return iter(list(zip(*cols, ct, cv)))

    def commit(self, end):
        pass


class WaldenTableChangesDataSource(DataSource):
    """``spark.readStream.format("walden_table_changes")
    .option("path", <table>).load()`` — stream a cdf-enabled versioned
    table's change rows (insert AND delete) per commit."""

    @classmethod
    def name(cls) -> str:
        return "walden_table_changes"

    def schema(self) -> str:
        import pyarrow.parquet as pq

        path = self.options["path"]
        if not tablelog.exists(f"{path.rstrip('/')}/_cdf_enabled.json"):
            raise ValueError(
                f"table at {path} is not CDF-enabled; call enable_cdf() first"
            )
        ms = tablelog.manifests(path)
        if not ms:
            raise ValueError(f"no versions at {path}")
        with_data = [m for m in ms if m.get("data_dir")]
        f = tablelog.walk_parquet(with_data[-1]["data_dir"])[0]
        sch = pq.read_schema(f)
        cols = ", ".join(
            f"`{name}` {_spark_type(sch.field(name).type)}"
            for name in sch.names
            if not name.startswith("walden_p_")  # hidden partition fields
        )
        return cols + ", `_change_type` string, `_commit_version` long"

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _TableChangesReader(self.options, schema.fieldNames())


def register_table_tail(spark) -> None:
    spark.dataSource.register(WaldenTableTailDataSource)


def register_table_changes(spark) -> None:
    spark.dataSource.register(WaldenTableChangesDataSource)
