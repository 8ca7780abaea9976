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
versions explicitly (downstream then sees inserts only). The
``walden_table_changes`` source streams every commit kind of a
CDF-enabled table instead: each commit's rows come from the files its
commit staged (``VersionedTable._stage_cdf``, rows derived by
``VersionedTable._commit_changes``), picked by
:func:`walden_spark.tablelog.change_dirs` — the same per-version rule
``read_cdf`` reads by. Both sources share one reader base: version
offsets, branch-lineage commit selection, and a bind-by-name ``read``.

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
    """One parquet file of a micro-batch; ``consts`` are the values of
    declared columns stamped onto every row instead of read from the
    file (the change stream's ``_change_type`` for files served
    straight from a commit's data dir, and ``_commit_version``). An
    empty ``path`` is an empty batch."""

    def __init__(self, path: str, consts: dict | None = None):
        self.path = path
        self.consts = consts or {}


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


def _head_schema(path: str) -> str:
    """DDL of the table's head columns, from the LAST data manifest's
    first file — so a stream started after a rename/evolution serves
    the current column names. Hidden partition fields are left out."""
    import pyarrow.parquet as pq

    ms = tablelog.manifests(path)
    if not ms:
        raise ValueError(f"no versions at {path}")
    with_data = [m for m in ms if m.get("data_dir")]
    sch = pq.read_schema(tablelog.walk_parquet(with_data[-1]["data_dir"])[0])
    return ", ".join(
        f"`{name}` {_spark_type(sch.field(name).type)}"
        for name in sch.names
        if not name.startswith("walden_p_")
    )


class _VersionStreamReader(DataSourceStreamReader):
    """Offsets are TABLE VERSIONS on one branch; each subclass maps the
    commits of a micro-batch to parquet files. Rows bind BY NAME."""

    def __init__(self, options, schema_names):
        self.schema_names = list(schema_names)
        self.path = options["path"]
        self.branch = options.get("branch", "main")
        self.from_version = int(options.get("fromVersion", -1))

    def initialOffset(self):
        return {"version": self.from_version}

    def latestOffset(self):
        # the BRANCH head, never the newest manifest on any branch: a
        # WAP audit branch or a transaction's staging branch commits
        # manifests too, and those must not leak unpublished rows into
        # the stream (ADVICE r05 #2). Offsets stay monotonic because
        # branch heads only move to strictly newer versions.
        head = tablelog.resolve_head(
            tablelog.read_refs(self.path),
            lambda: tablelog.manifests(self.path),
            self.branch,
        )
        v = head if head is not None else self.from_version
        return {"version": max(v, self.from_version)}

    def _commits(self, start, end) -> list[dict]:
        """Manifests of the branch lineage in ``(start, end]``, oldest
        first."""
        lo, hi = start["version"], end["version"]
        ms = tablelog.manifests(self.path)
        on_branch = tablelog.lineage(ms, hi if hi >= 0 else None)
        return [m for m in ms if lo < m["version"] <= hi and m["version"] in on_branch]

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
            [partition.consts[name]] * n
            if name in partition.consts
            else table.column(name).to_pylist()
            if name in names
            else [None] * n
            for name in self.schema_names
        ]
        return iter(list(zip(*cols))) if cols else iter(())

    def commit(self, end):
        pass  # offsets are table versions; nothing to clean up


class _TableTailReader(_VersionStreamReader):
    def __init__(self, options, schema_names):
        super().__init__(options, schema_names)
        self.skip_non_append = (
            str(options.get("skipNonAppend", "false")).lower() == "true"
        )

    def partitions(self, start, end):
        parts: list[_FilePartition] = []
        for m in self._commits(start, end):
            v = m["version"]
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
            if v == 0 and start["version"] == -1:
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


class WaldenTableTailDataSource(DataSource):
    """``spark.readStream.format("walden_table_tail")
    .option("path", <table>).load()`` — stream a versioned table's
    append commits as micro-batches, one executor task per data file."""

    @classmethod
    def name(cls) -> str:
        return "walden_table_tail"

    def schema(self) -> str:
        return _head_schema(self.options["path"])

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _TableTailReader(self.options, schema.fieldNames())


class _TableChangesReader(_VersionStreamReader):
    """Streams a cdf-enabled VersionedTable's CHANGE ROWS — every
    commit kind, not just appends (the Delta CDF-streaming surface the
    append tail can't express). Each commit's files come from
    :func:`tablelog.change_dirs`, the rule ``read_cdf`` reads by:
    inserts of append/upsert commits straight from the commit's own
    data files, deletes, update pre-images and rewrite diffs from the
    CDF file the commit staged under its manifest claim
    (timetravel.py::_stage_cdf, rows derived by ``_commit_changes``)."""

    def partitions(self, start, end):
        parts = [
            _FilePartition(
                p,
                {"_commit_version": m["version"]}
                | ({"_change_type": ct} if ct is not None else {}),
            )
            for m in self._commits(start, end)
            for d, ct in tablelog.change_dirs(m)
            for p in tablelog.walk_parquet(d)
        ]
        return parts or [_FilePartition("")]


class WaldenTableChangesDataSource(DataSource):
    """``spark.readStream.format("walden_table_changes")
    .option("path", <table>).load()`` — stream a cdf-enabled versioned
    table's change rows (insert AND delete) per commit."""

    @classmethod
    def name(cls) -> str:
        return "walden_table_changes"

    def schema(self) -> str:
        path = self.options["path"]
        if not tablelog.exists(f"{path.rstrip('/')}/_cdf_enabled.json"):
            raise ValueError(
                f"table at {path} is not CDF-enabled; call enable_cdf() first"
            )
        return _head_schema(path) + ", `_change_type` string, `_commit_version` long"

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _TableChangesReader(self.options, schema.fieldNames())


def register_table_tail(spark) -> None:
    spark.dataSource.register(WaldenTableTailDataSource)


def register_table_changes(spark) -> None:
    spark.dataSource.register(WaldenTableChangesDataSource)
