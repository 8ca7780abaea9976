"""Table-log IO: every small-file metadata operation of a
:class:`~walden_spark.timetravel.VersionedTable`, and the rules for
reading its log, written once for the table itself and for the
streaming sources that tail it from py4j-less Python workers. Needs
no SparkSession.

Layout::

    <table>/_versions/v00000007.json            one manifest per commit
    <table>/_versions/checkpoint-00000019.json  read cache over published manifests
    <table>/_refs/branch=main.json              branch / tag pointers
    <table>/_refs/_cas/branch=main/from=00000006.json[.hb]
                                                CAS claim (+ heartbeat sidecar)

Backends, chosen from the path alone by :func:`io_for`:

* bare and ``file:`` paths — plain ``os``: one ``listdir`` with lazy
  stats, ``open()`` reads, content-atomic writes;
* other URIs, given a session — Hadoop FileSystem over py4j (what
  ``hdfs://`` / ``s3a://`` deployments run);
* other URIs without one — ``pyarrow.fs``, read-only.

Every backend raises ``FileNotFoundError`` for a missing file,
``FileExistsError`` for a lost create-if-absent, another ``OSError``
for any other IO failure and ``ValueError`` for content that does not
parse, so the race handling in callers is the same on every store.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from contextlib import contextmanager
from typing import Callable, Iterable, Mapping
from urllib.parse import unquote, urlparse

# (name, mtime_ms, length, is_dir) — one child of a listed directory
Entry = tuple[str, int, int, bool]


class _TableIO:
    def _try_read(self, path: str) -> dict | None:
        try:
            return self.read_json(path)
        except (OSError, ValueError):
            # vanished (expire/rollback race) or not parsable yet: the
            # next listing resolves it
            return None

    def read_many(self, paths: Iterable[str]) -> dict[str, dict]:
        """Parsed JSON per path, skipping files that cannot be read."""
        return {p: m for p in paths if (m := self._try_read(p)) is not None}


class OsIO(_TableIO):
    """Bare and ``file:`` paths."""

    @staticmethod
    def _local(path: str) -> str:
        return unquote(urlparse(path).path) if path.startswith("file:") else path

    def list_names(self, d: str) -> list[str] | None:
        """Child names (no stats: covered names need none), or None if
        the directory is missing."""
        try:
            return os.listdir(self._local(d))
        except (FileNotFoundError, NotADirectoryError):
            return None

    def list_stats(self, d: str) -> list[Entry] | None:
        try:
            with os.scandir(self._local(d)) as it:
                out = []
                for e in it:
                    try:
                        st = e.stat()
                    except OSError:
                        continue  # deleted mid-scan (expire race)
                    out.append(
                        (e.name, st.st_mtime_ns // 1_000_000, st.st_size, e.is_dir())
                    )
                return out
        except (FileNotFoundError, NotADirectoryError):
            return None

    def stat(self, path: str) -> tuple[int, int] | None:
        """(mtime_ms, length), or None if the file vanished."""
        try:
            st = os.stat(self._local(path))
        except OSError:
            return None
        return (st.st_mtime_ns // 1_000_000, st.st_size)

    def read_json(self, path: str) -> dict:
        with open(self._local(path), encoding="utf-8") as f:
            return json.load(f)

    def write_json(self, path: str, payload: dict, overwrite: bool) -> None:
        # CONTENT-atomic (the commit-storm test caught readers seeing
        # zero-byte files mid-write): the payload lands in a temp file
        # first, then enters the namespace in one atomic step —
        # os.replace for pointer overwrites (readers see old or new,
        # never empty) and os.link for create-if-absent claims (EEXIST
        # IS the lost race, and the link carries the full content).
        local = self._local(path)
        os.makedirs(local.rsplit("/", 1)[0], exist_ok=True)
        tmp = f"{local}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(json.dumps(payload))
        try:
            if overwrite:
                os.replace(tmp, local)
            else:
                os.link(tmp, local)  # FileExistsError on a lost race
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    def delete(self, path: str, recursive: bool = False) -> bool:
        """False when nothing was there."""
        local = self._local(path)
        try:
            if recursive and os.path.isdir(local):
                shutil.rmtree(local)
            else:
                os.unlink(local)
        except FileNotFoundError:
            return False
        return True

    def exists(self, path: str) -> bool:
        return os.path.exists(self._local(path))

    def walk_parquet(self, d: str) -> list[str]:
        """Every ``.parquet`` file under ``d``, sorted, spelled with
        ``d`` as given as the prefix."""
        local = self._local(d).rstrip("/")
        base = d.rstrip("/")
        return sorted(
            base + os.path.join(root, n)[len(local):]
            for root, _dirs, names in os.walk(local)
            for n in names
            if n.endswith(".parquet")
        )


class _ListingIO(_TableIO):
    """Shared by the URI backends: one LIST returns every child's stats
    anyway, so ``list_names`` keeps them and ``stat`` of a child of the
    directory just listed costs no round trip. Keyed by that directory:
    a same-named file elsewhere must miss."""

    _listed: tuple[str, dict[str, tuple[int, int]]] = ("", {})

    def list_names(self, d: str) -> list[str] | None:
        entries = self.list_stats(d)
        if entries is None:
            return None
        self._listed = (d.rstrip("/"), {e[0]: (e[1], e[2]) for e in entries})
        return [e[0] for e in entries]

    def stat(self, path: str) -> tuple[int, int] | None:
        parent, _, name = path.rstrip("/").rpartition("/")
        listed_dir, stats = self._listed
        if parent == listed_dir and name in stats:
            return stats[name]
        return self._stat(path)


# FileStatus.toString carries path/isDirectory/length/modification_time
# in one py4j round trip; the per-field accessors cost four. Parsed
# with an accessor fallback, so a Hadoop format change degrades to
# slower, never wrong.
_STATUS_RE = re.compile(
    r"path=([^;]+); isDirectory=(\w+); length=(\d+);.*?modification_time=(\d+)"
)


def _java_causes(exc: Exception) -> str:
    """Class names and messages of a py4j error's Java cause chain."""
    parts = []
    je = getattr(exc, "java_exception", None)
    while je is not None:
        try:
            parts += [je.getClass().getName(), je.getMessage() or ""]
            je = je.getCause()
        except Exception:
            break
    return " ".join(parts)


@contextmanager
def _java_errors(path: str):
    """Map Java IO exceptions onto the Python ones every backend
    raises. A lost ``create(overwrite=false)`` is the ONLY failure that
    becomes FileExistsError: transient failures (permissions, quota,
    network) must never be mistaken for a commit conflict and retried."""
    from py4j.protocol import Py4JJavaError

    try:
        yield
    except Py4JJavaError as exc:
        causes = _java_causes(exc)
        if "AlreadyExists" in causes or "already exists" in causes.lower():
            raise FileExistsError(path) from exc
        if "FileNotFound" in causes:
            raise FileNotFoundError(path) from exc
        if "ChecksumException" in causes:
            # a read racing an overwrite on a checksummed filesystem:
            # a torn read, handled like unparsable JSON
            raise ValueError(f"torn read of {path}") from exc
        raise OSError(f"{path}: {causes}") from exc


class HadoopIO(_ListingIO):
    """Hadoop FileSystem over py4j, for one path's filesystem."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = None

    def _p(self, path: str):
        p = self._jvm.org.apache.hadoop.fs.Path(path)
        if self._fs is None:
            self._fs = p.getFileSystem(self._conf)
        return p

    def list_stats(self, d: str) -> list[Entry] | None:
        p = self._p(d)
        try:
            with _java_errors(d):
                statuses = self._fs.listStatus(p)
        except FileNotFoundError:
            return None
        out = []
        for st in statuses:
            m = _STATUS_RE.search(st.toString())
            if m:
                out.append(
                    (
                        m.group(1).rsplit("/", 1)[-1],
                        int(m.group(4)),
                        int(m.group(3)),
                        m.group(2) == "true",
                    )
                )
            else:  # unrecognized FileStatus format: per-field accessors
                out.append(
                    (
                        st.getPath().getName(),
                        st.getModificationTime(),
                        st.getLen(),
                        st.isDirectory(),
                    )
                )
        return out

    def _stat(self, path: str) -> tuple[int, int] | None:
        p = self._p(path)
        try:
            with _java_errors(path):
                st = self._fs.getFileStatus(p)
                return (st.getModificationTime(), st.getLen())
        except FileNotFoundError:
            return None

    def read_json(self, path: str) -> dict:
        p = self._p(path)
        with _java_errors(path):
            stream = self._fs.open(p)
            try:
                raw = self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            finally:
                stream.close()
        return json.loads(bytes(raw).decode("utf-8"))

    def read_many(self, paths: Iterable[str]) -> dict[str, dict]:
        # remote reads fan out over a thread pool (py4j gives each
        # thread its own connection): one listing plus parallel reads,
        # never N serial round trips
        from concurrent.futures import ThreadPoolExecutor

        paths = list(paths)
        if len(paths) <= 1:
            return super().read_many(paths)
        with ThreadPoolExecutor(max_workers=min(8, len(paths))) as pool:
            parsed = list(pool.map(self._try_read, paths))
        return {p: m for p, m in zip(paths, parsed) if m is not None}

    def write_json(self, path: str, payload: dict, overwrite: bool) -> None:
        # overwrite=False is the atomic claim: HDFS create() is
        # namespace-atomic; S3A maps it to a conditional PUT (object
        # stores publish whole objects, so torn content is a
        # filesystem-only concern the os backend handles)
        p = self._p(path)
        with _java_errors(path):
            stream = self._fs.create(p, overwrite)
            try:
                stream.write(bytearray(json.dumps(payload).encode("utf-8")))
            finally:
                stream.close()

    def delete(self, path: str, recursive: bool = False) -> bool:
        p = self._p(path)
        with _java_errors(path):
            return bool(self._fs.delete(p, recursive))

    def exists(self, path: str) -> bool:
        p = self._p(path)
        with _java_errors(path):
            return bool(self._fs.exists(p))

    def walk_parquet(self, d: str) -> list[str]:
        root = self._p(d)
        out = []
        try:
            with _java_errors(d):
                # children come back qualified (file:/x/...): re-spell
                # them relative to the root as the caller gave it
                qualified = self._fs.getFileStatus(root).getPath().toString()
                it = self._fs.listFiles(root, True)
                while it.hasNext():
                    s = it.next().getPath().toString()
                    if s.endswith(".parquet"):
                        out.append(d.rstrip("/") + s[len(qualified):])
        except FileNotFoundError:
            return []
        return sorted(out)


class ArrowIO(_ListingIO):
    """pyarrow.fs, read-only: the URI backend for code without a
    session. One FileSystem per scheme/authority per process."""

    _FS: dict[str, object] = {}

    def _resolve(self, path: str):
        scheme, rest = path.split("://", 1)
        key = f"{scheme}://{rest.split('/', 1)[0]}"
        fs = self._FS.get(key)
        if fs is None:
            from pyarrow import fs as pafs

            fs = self._FS[key] = pafs.FileSystem.from_uri(path)[0]
        return fs, rest  # pyarrow addresses paths without the scheme

    def list_stats(self, d: str) -> list[Entry] | None:
        from pyarrow import fs as pafs

        f, p = self._resolve(d)
        infos = f.get_file_info(pafs.FileSelector(p, allow_not_found=True))
        if not infos and f.get_file_info(p).type == pafs.FileType.NotFound:
            return None
        return [
            (
                i.base_name,
                i.mtime_ns // 1_000_000 if i.mtime_ns is not None else 0,
                i.size or 0,
                i.type == pafs.FileType.Directory,
            )
            for i in infos
        ]

    def _stat(self, path: str) -> tuple[int, int] | None:
        from pyarrow import fs as pafs

        f, p = self._resolve(path)
        info = f.get_file_info(p)
        if info.type != pafs.FileType.File:
            return None
        mt = info.mtime_ns // 1_000_000 if info.mtime_ns is not None else 0
        return (mt, info.size or 0)

    def read_json(self, path: str) -> dict:
        f, p = self._resolve(path)
        with f.open_input_stream(p) as s:
            return json.loads(s.readall().decode("utf-8"))

    def write_json(self, path: str, payload: dict, overwrite: bool) -> None:
        raise OSError(f"{path}: the pyarrow.fs table-log backend is read-only")

    def delete(self, path: str, recursive: bool = False) -> bool:
        raise OSError(f"{path}: the pyarrow.fs table-log backend is read-only")

    def exists(self, path: str) -> bool:
        from pyarrow import fs as pafs

        f, p = self._resolve(path)
        return f.get_file_info(p).type != pafs.FileType.NotFound

    def walk_parquet(self, d: str) -> list[str]:
        from pyarrow import fs as pafs

        f, p = self._resolve(d)
        sel = pafs.FileSelector(p, recursive=True, allow_not_found=True)
        return sorted(
            d.rstrip("/") + i.path[len(p.rstrip("/")):]
            for i in f.get_file_info(sel)
            if i.type == pafs.FileType.File and i.path.endswith(".parquet")
        )


def io_for(path: str, spark=None) -> _TableIO:
    """The backend for ``path`` — the one place the choice is made."""
    if "://" not in path or path.startswith("file:"):
        return OsIO()
    return HadoopIO(spark) if spark is not None else ArrowIO()


# ---- single operations, each on the backend its path selects ----


def list_stats(d: str, spark=None) -> list[Entry] | None:
    """Every child of ``d`` with its stats, or None if ``d`` is missing."""
    return io_for(d, spark).list_stats(d)


def read_json(path: str, spark=None) -> dict:
    return io_for(path, spark).read_json(path)


def write_json(path: str, payload: dict, overwrite: bool, spark=None) -> None:
    """Replace ``path`` (``overwrite``), or create it only if absent —
    raising FileExistsError when another writer got there first."""
    io_for(path, spark).write_json(path, payload, overwrite)


def delete(path: str, spark=None, recursive: bool = False) -> bool:
    return io_for(path, spark).delete(path, recursive)


def exists(path: str, spark=None) -> bool:
    return io_for(path, spark).exists(path)


def age_s(path: str, spark=None) -> float | None:
    """Seconds since ``path`` was last modified, or None if it is gone."""
    st = io_for(path, spark).stat(path)
    return None if st is None else max(0.0, time.time() - st[0] / 1000.0)


def walk_parquet(d: str, spark=None) -> list[str]:
    return io_for(d, spark).walk_parquet(d)


# ---- the manifest log ----

# Process-wide parse cache: versions dir → {file name: (mtime_ms,
# length, parsed)}. Sound because manifest files are create-once
# (overwrite=False claims) and only ever DELETED (rollback / expire);
# a deleted name CAN be re-created by a later commit, which the
# (mtime, length) check catches — a full commit (parquet write +
# footer stats) takes far longer than the ms mtime granularity — and
# delete_log_file() drops the entry eagerly besides. This turns the
# metadata plane from O(commits) serial JSON reads per operation into
# one listing + O(new files) reads.
_MANIFEST_CACHE: dict[str, dict[str, tuple[int, int, dict]]] = {}


def manifest_log(
    root: str, spark=None
) -> tuple[dict[str, tuple[int, int, dict]], int | None]:
    """``(name → (mtime_ms, length, manifest), checkpoint_upto)`` for
    every live manifest of the table at ``root``, plus the highest
    version the newest checkpoint covers (None without one).

    Served from, in order, the newest checkpoint, the parse cache, then
    actual reads. Checkpoint-covered names are trusted by PRESENCE in
    the listing, with no stat: checkpoints record only published
    manifests, which are immutable while they exist (a name is only
    re-created with new content while it exceeds every ref, and such
    names are excluded when the checkpoint is written). The tail is
    validated by (mtime, length) against the cache. Loose files stay
    authoritative, so a stale checkpoint can never resurrect a dropped
    snapshot. Steady-state cost: ONE listing + O(tail) stats/reads."""
    vdir = f"{root.rstrip('/')}/_versions"
    io = io_for(vdir, spark)
    names = io.list_names(vdir)
    if names is None:
        return {}, None
    loose: list[str] = []
    ckpts: list[tuple[int, str]] = []  # (upto, name)
    for name in names:
        if name.startswith("v") and name.endswith(".json"):
            loose.append(name)
        elif name.startswith("checkpoint-") and name.endswith(".json"):
            try:
                ckpts.append((int(name[len("checkpoint-") : -len(".json")]), name))
            except ValueError:
                continue
    cache = _MANIFEST_CACHE.setdefault(vdir, {})
    upto = None
    ckpt_entries: dict[str, tuple[int, int, dict]] = {}
    if ckpts:
        cname = max(ckpts)[1]
        cstat = io.stat(f"{vdir}/{cname}")
        hit = cache.get(cname)
        payload = hit[2] if hit and cstat and (hit[0], hit[1]) == cstat else None
        if payload is None and cstat is not None:
            # a torn or vanished checkpoint is simply ignored
            payload = io.read_many([f"{vdir}/{cname}"]).get(f"{vdir}/{cname}")
            if payload is not None:
                cache[cname] = (*cstat, payload)
        if payload is not None:
            upto = payload.get("upto")
            for e in payload.get("entries", []):
                ckpt_entries[e["name"]] = (e["mtime"], e["len"], e["manifest"])
    out: dict[str, tuple[int, int, dict]] = {}
    to_read: dict[str, tuple[int, int]] = {}
    for name in loose:
        khit = ckpt_entries.get(name)
        if khit is not None:
            cache[name] = out[name] = khit
            continue
        st = io.stat(f"{vdir}/{name}")
        if st is None:
            continue  # deleted between listing and stat (expire race)
        hit = cache.get(name)
        if hit and (hit[0], hit[1]) == st:
            out[name] = hit
        else:
            to_read[name] = st
    if to_read:
        read = io.read_many(f"{vdir}/{n}" for n in to_read)
        for name, st in to_read.items():
            parsed = read.get(f"{vdir}/{name}")
            if parsed is not None:
                cache[name] = out[name] = (*st, parsed)
    # evict names the listing no longer shows (expired / rolled back).
    # list(cache) first: concurrent writer threads insert into the
    # shared cache, and iterating the live dict across bytecode
    # boundaries raises "dictionary changed size during iteration"
    live = set(loose) | {c[1] for c in ckpts}
    for name in list(cache):
        if name not in live:
            cache.pop(name, None)
    return out, upto


def manifests(root: str, spark=None) -> list[dict]:
    """Every live manifest, oldest first."""
    entries, _ = manifest_log(root, spark)
    return sorted((m for _, _, m in entries.values()), key=lambda m: m["version"])


def delete_log_file(root: str, name: str, spark=None) -> None:
    """Delete ``_versions/<name>`` and its parse-cache entry together:
    a rolled-back name may be re-created by a later commit."""
    vdir = f"{root.rstrip('/')}/_versions"
    delete(f"{vdir}/{name}", spark)
    _MANIFEST_CACHE.get(vdir, {}).pop(name, None)


# ---- refs, heads and lineage ----


def read_refs(root: str, spark=None) -> dict[tuple[str, str], dict]:
    """Every branch/tag pointer, keyed ``(type, name)``. Re-read on
    every call — no cache, so a concurrent pointer move is always
    seen. A read racing an overwrite can see a torn file (Hadoop
    ``create(overwrite=true)`` truncates before the new bytes land;
    caught live by the forced-Hadoop commit storm): one short retry
    sees the finished write, since ref payloads are a single small
    buffer. Unparsable twice is corruption and raises."""
    rdir = f"{root.rstrip('/')}/_refs"
    io = io_for(rdir, spark)
    out: dict[tuple[str, str], dict] = {}
    for name in io.list_names(rdir) or ():
        if not name.endswith(".json") or "=" not in name:
            continue
        for attempt in (0, 1):
            try:
                ref = io.read_json(f"{rdir}/{name}")
            except FileNotFoundError:
                break  # deleted between listing and read
            except ValueError:
                if attempt == 1:
                    raise
                time.sleep(0.01)
                continue
            out[(ref["type"], ref["name"])] = ref
            break
    return out


def resolve_head(
    refs: Mapping[tuple[str, str], dict],
    manifests: Callable[[], list[dict]],
    branch: str,
) -> int | None:
    """Version ``branch`` points at (None for an empty table). A table
    written before refs existed has an implicit linear main: its
    highest main-lineage manifest (legacy manifests carry no branch
    field and are main by construction); ``manifests`` is only called
    then."""
    ref = refs.get(("branch", branch))
    if ref is not None:
        return ref["version"]
    if branch == "main":
        ms = [m for m in manifests() if m.get("branch", "main") == "main"]
        return ms[-1]["version"] if ms else None
    raise ValueError(f"unknown branch {branch!r}")


def parent_of(manifest: dict) -> int | None:
    """BRANCH-lineage parent, for ancestry/lineage walks. A
    merge-on-read restore stores two parents: ``parent`` is its MoR
    BASE chain (what reads resolve through — those sites use the raw
    field) and ``restore_parent`` is its position in the branch
    history; ancestry must follow the latter or every commit the
    restore rolled back drops out of the lineage — stale merge bases,
    spurious expiry, and change reads refusing pre-restore ancestors."""
    if "restore_parent" in manifest:
        return manifest["restore_parent"]
    if "parent" in manifest:
        return manifest["parent"]
    # legacy manifests (pre-refs) form a linear chain
    return manifest["version"] - 1 if manifest["version"] > 0 else None


def lineage(ms: Iterable[dict], head: int | None) -> set[int]:
    """Versions on the branch lineage ending at ``head``."""
    by_v = {m["version"]: m for m in ms}
    seen: set[int] = set()
    while head is not None and head in by_v and head not in seen:
        seen.add(head)
        head = parent_of(by_v[head])
    return seen


# ---- change-data files ----


def change_dirs(manifest: dict) -> list[tuple[str, str | None]]:
    """``(parquet dir, change type)`` pairs serving one commit's change
    rows from its ``cdf`` entry (staged at commit time, or derived by
    ``read_changes``): its own data dir stamped 'insert' when the data
    files ARE its inserts, and its staged CDF dir (change type None —
    each row carries its own ``_change_type``). A commit made
    before ``enable_cdf()`` staged nothing, so it is refused rather
    than silently read as changing no rows."""
    v = manifest["version"]
    cdf = manifest.get("cdf")
    if cdf is None:
        raise ValueError(
            f"version {v} carries no change-data files (committed before "
            f"enable_cdf()); start past it (from version {v}) or compute "
            "the range with read_changes()"
        )
    out: list[tuple[str, str | None]] = []
    if cdf.get("appends") and manifest.get("data_dir"):
        out.append((manifest["data_dir"], "insert"))
    if cdf.get("dir"):
        out.append((cdf["dir"], None))
    return out
