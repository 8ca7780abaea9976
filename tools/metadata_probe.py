"""Metadata-plane scaling probe (VERDICT r06 'Next' #1/#5).

The r06 verdict marked the versioned-table metadata plane weak:
`_manifests()` re-read every commit manifest serially on the driver
per operation — O(commits) FS round-trips, O(n²) over a streaming
table's life (a day of 30s micro-batches is ~2,900 commits). r07
added a process-wide parse cache + rolling checkpoints. This probe
measures the before/after curve at 10×-scaled commit counts.

Synthetic manifests (metadata-plane timing needs no data movement):
one real commit provides a data dir; N-1 additional full-snapshot
manifests reference it, exactly the file layout a long-lived table
has. Probed per N ∈ {100, 1000}:

  cold-nockpt   _manifests() with cache cleared, no checkpoint
                (the r06 behavior: every file read, though now batched)
  cold-ckpt     _manifests() with cache cleared THROUGH a checkpoint
                (fresh-process cost: 1 listing + 1 checkpoint read)
  warm          _manifests() with warm cache (steady-state poll cost:
                1 listing + 0 reads)
  poll-x100     100 streaming latestOffset-style polls
                (session-less tablelog.manifests + head resolution)
  head          VersionedTable.head('main')

    python tools/metadata_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def timed(fn, reps: int = 1) -> float:
    t0 = time.perf_counter()
    for _ in range(reps):
        fn()
    return (time.perf_counter() - t0) / reps


def main() -> None:
    from pyspark.sql import SparkSession

    from walden_spark import tablelog
    from walden_spark.timetravel import VersionedTable

    spark = (
        SparkSession.builder.appName("metadata_probe")
        .master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    ns = [int(a) for a in sys.argv[1:] if a.isdigit()] or [100, 1000]
    rows = []
    for n_commits in ns:
        root = tempfile.mkdtemp(prefix=f"walden_mdprobe_{n_commits}_")
        t = VersionedTable(spark, f"{root}/t")
        t.write(spark.createDataFrame([(1, 1.0)], "id long, v double"))
        base = t._manifests()[0]
        # synthetic full-snapshot manifests sharing the base data dir —
        # same file layout/IO profile as n real commits, no Spark jobs
        for v in range(1, n_commits):
            m = {
                "version": v,
                "parent": v - 1,
                "branch": "main",
                "timestamp": time.time(),
                "operation": "append",
                "data_dir": base["data_dir"],
                "files": base["files"],
            }
            t._write_manifest(m, overwrite=False)
        t._write_ref("branch", "main", n_commits - 1, overwrite=True)

        def cold_nockpt():
            tablelog._MANIFEST_CACHE.clear()
            assert len(t._manifests()) == n_commits

        def cold_ckpt():
            tablelog._MANIFEST_CACHE.clear()
            assert len(t._manifests()) == n_commits

        def warm():
            assert len(t._manifests()) == n_commits

        def poll():
            ms = tablelog.manifests(t.path)
            refs = tablelog.read_refs(t.path)
            assert tablelog.resolve_head(refs, lambda: ms, "main") == n_commits - 1

        r = {"commits": n_commits}
        r["cold_nockpt_s"] = timed(cold_nockpt, reps=3)
        assert t.checkpoint() is not None
        r["cold_ckpt_s"] = timed(cold_ckpt, reps=3)
        r["warm_s"] = timed(warm, reps=10)
        tablelog._MANIFEST_CACHE.clear()
        r["poll_x100_s"] = timed(lambda: [poll() for _ in range(100)])
        r["head_s"] = timed(lambda: t.head("main"), reps=10)
        rows.append(r)
        print(json.dumps(r))

    # ---- retained-files axis (VERDICT r07 #3): the checkpoint embeds
    # every published manifest INCLUDING per-file footer stats, so at
    # long retention × high file counts the single blob's size/parse
    # becomes the new cold-read cost. Probe n_commits × files_per with
    # realistic entries (80-char paths, 2 stats columns) and record
    # checkpoint bytes + cold-through-checkpoint parse time.
    for n_commits, files_per in [(200, 100), (1000, 100)]:
        root = tempfile.mkdtemp(prefix=f"walden_mdprobe_f{n_commits}x{files_per}_")
        t = VersionedTable(spark, f"{root}/t")
        t.write(spark.createDataFrame([(1, 1.0)], "id long, v double"))
        base = t._manifests()[0]
        fake_files = [
            {
                "path": f"{base['data_dir']}/part-{i:05d}-0f6c2b8a-4d3e-4b2a-"
                f"9c1d-{i:012d}-c000.snappy.parquet",
                "rows": 1_000_000 + i,
                "stats": {
                    "id": [i * 1_000_000, (i + 1) * 1_000_000],
                    "v": [float(i), float(i + 1)],
                },
            }
            for i in range(files_per)
        ]
        for v in range(1, n_commits):
            m = {
                "version": v,
                "parent": v - 1,
                "branch": "main",
                "timestamp": time.time(),
                "operation": "append",
                "data_dir": base["data_dir"],
                "files": fake_files,
            }
            t._write_manifest(m, overwrite=False)
        t._write_ref("branch", "main", n_commits - 1, overwrite=True)
        name = t.checkpoint()
        assert name is not None
        ckpt_path = os.path.join(t.path, "_versions", name.split("/")[-1])
        r = {
            "commits": n_commits,
            "files_per_commit": files_per,
            "checkpoint_bytes": os.path.getsize(ckpt_path),
        }

        def cold_ckpt_files():
            tablelog._MANIFEST_CACHE.clear()
            assert len(t._manifests()) == n_commits

        def warm_files():
            assert len(t._manifests()) == n_commits

        r["cold_ckpt_s"] = timed(cold_ckpt_files, reps=3)
        r["warm_s"] = timed(warm_files, reps=10)
        r["head_s"] = timed(lambda: t.head("main"), reps=10)
        rows.append(r)
        print(json.dumps(r))

    # the scaling verdict: steady-state costs must be ~flat in commits
    rows = [r for r in rows if "poll_x100_s" in r]  # commits-axis only
    if len(rows) >= 2:
        a, b = rows[0], rows[-1]
        scale = b["commits"] / a["commits"]
        for k in ("warm_s", "poll_x100_s", "head_s"):
            ratio = b[k] / max(a[k], 1e-9)
            print(
                f"{k}: {a[k]*1e3:.2f}ms @{a['commits']} -> "
                f"{b[k]*1e3:.2f}ms @{b['commits']} "
                f"(x{ratio:.1f} for x{scale:.0f} commits)"
            )


if __name__ == "__main__":
    main()
