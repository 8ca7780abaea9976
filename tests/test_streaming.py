"""Streaming behavior tests that need controlled micro-batches:
watermark late-data policy and the foreachBatch Parquet sink.
(Result-correctness of the streaming queries themselves is covered by
the oracle harness — tests/test_oracle.py::streaming_*.)"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from walden_spark.streaming.sinks import parquet_sink

SCHEMA = "id long, ts timestamp, v double"


def _write_batch(spark, path, rows, mtime):
    from datetime import datetime

    rows = [(i, datetime.fromisoformat(ts), v) for i, ts, v in rows]
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    df.write.mode("overwrite").parquet(path)
    for f in os.listdir(path):
        os.utime(os.path.join(path, f), (mtime, mtime))


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode window agg: a row arriving behind the watermark is
    dropped; its window's emitted count excludes it (the late-data
    policy the watermark contract defines)."""
    src = str(tmp_path / "src")
    t0 = time.time() - 100
    # batch 1: two 10:00-window rows + one 12:00 row that pushes the
    # watermark (12:00 - 30min) far past the 10:00 window
    _write_batch(
        spark,
        f"{src}/b1",
        [(1, "2024-01-01 10:00:10", 1.0), (2, "2024-01-01 10:00:20", 1.0),
         (3, "2024-01-01 12:00:00", 1.0)],
        t0,
    )
    stream = spark.readStream.schema(SCHEMA).parquet(f"{src}/*")
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory").queryName("late_test").start()
    )
    try:
        q.processAllAvailable()  # batch 1 done → watermark = 11:30
        # batch 2, strictly after: a LATE 10:00-window row (behind
        # watermark) — must be dropped, not re-open the window
        _write_batch(spark, f"{src}/b2", [(4, "2024-01-01 10:00:30", 1.0)], t0 + 10)
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["window"].start.strftime("%H:%M"): r["n"]
        for r in spark.table("late_test").collect()
    }
    # 10:00 window finalized with 2 rows; the late row 4 was dropped.
    assert got.get("10:00") == 2


def test_scaled_state_partitions_sizing(spark, tmp_path, sf_dir, monkeypatch):
    """scaled_state_partitions sizes via the Hadoop FileSystem API and
    FAILS OPEN on unknowable inputs (VERDICT r14 #3): a tiny local
    fixture floors at 4; a path on a store the session has no connector
    for (or that does not exist) must return the session's shuffle
    parallelism, never the floor — failing closed would silently pin a
    cluster deployment's state store to 4 partitions."""
    from walden_spark.streaming.windows import scaled_state_partitions

    monkeypatch.delenv("WALDEN_STREAM_STATE_PARTITIONS", raising=False)
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # tiny local input → the floor
    assert scaled_state_partitions(spark, f"{sf_dir}/events.parquet") == 4

    # non-local scheme with no configured connector → fail OPEN
    assert scaled_state_partitions(spark, "s3a://bucket/stream/input") == sess
    # local but missing → fail OPEN (size unknowable, not zero)
    assert scaled_state_partitions(spark, str(tmp_path / "nope")) == sess

    # big-enough local input → scales with bytes, capped at session
    big = str(tmp_path / "big.bin")
    with open(big, "wb") as f:
        f.truncate(100 * 1024 * 1024)  # sparse 100 MiB
    monkeypatch.setenv("WALDEN_STREAM_STATE_TARGET_BYTES", str(16 * 1024 * 1024))
    expect = min(sess, max(4, -(-100 * 1024 * 1024 // (16 * 1024 * 1024))))
    assert scaled_state_partitions(spark, big) == expect

    # explicit override wins
    monkeypatch.setenv("WALDEN_STREAM_STATE_PARTITIONS", "6")
    assert scaled_state_partitions(spark, big) == 6


def test_foreach_batch_parquet_sink(spark, tmp_path, sf_dir):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")  # events.ts is ns
    ev_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(ev_schema)
        .option("pathGlobFilter", "events.parquet").parquet(sf_dir)
        .select("event_id", "event_type")
    )
    q = parquet_sink(stream, out, ckpt)
    q.awaitTermination(120)
    written = spark.read.parquet(out)
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert written.count() == n_src
    assert "batch_id" in written.columns


def test_foreach_batch_checkpoint_recovery(spark, tmp_path):
    """Restarting a foreachBatch sink from its checkpoint must process
    only NEW files and never duplicate already-committed batches — the
    exactly-once table-semantics claim of streaming/sinks.py."""
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    t0 = time.time() - 100
    _write_batch(spark, f"{src}/b1", [(1, "2024-01-01 10:00:00", 1.0),
                                      (2, "2024-01-01 10:01:00", 1.0)], t0)
    stream = spark.readStream.schema(SCHEMA).parquet(f"{src}/*")
    q = parquet_sink(stream, out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2

    # second run, same checkpoint: one new file appears
    _write_batch(spark, f"{src}/b2", [(3, "2024-01-01 10:02:00", 1.0)], t0 + 10)
    stream2 = spark.readStream.schema(SCHEMA).parquet(f"{src}/*")
    q2 = parquet_sink(stream2, out, ckpt)
    q2.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 3  # no reprocessing of b1, no loss of b2
    assert {r.id for r in got.select("id").collect()} == {1, 2, 3}


def test_foreachbatch_upsert_snapshots_per_batch(spark, sf_dir):
    """Each micro-batch commit is a retained snapshot: 4 time-ranged
    input files -> 4 versions, earlier versions stay readable, and the
    running totals are monotone across versions."""
    from walden_spark.registry import load_all
    from walden_spark.streaming.sinks import streaming_foreachbatch_upsert

    reg = load_all()
    out = reg["streaming_foreachbatch_upsert"].fn(spark, sf_dir)
    final_rows = out.count()
    vt = streaming_foreachbatch_upsert.last_table
    hist = vt.history().orderBy("version").collect()
    assert len(hist) == 4
    assert [h.operation for h in hist] == [f"batch_{i}" for i in range(4)]
    n_by_version = [
        vt.read(version=h.version).agg({"n": "sum"}).collect()[0][0] for h in hist
    ]
    assert n_by_version == sorted(n_by_version)  # totals only grow
    assert vt.read(version=hist[-1].version).count() == final_rows


def test_rocksdb_state_store_matches_batch(sf_dir):
    """Large-state mode: the same stateful streaming aggregation under
    the RocksDB state store provider (get_spark(rocksdb_state=True))
    must produce exactly the batch result. Runs in its own session —
    the provider is a JVM-launch config."""
    from pyspark.sql import functions as F

    from walden_spark.session import get_spark

    spark = get_spark(
        app_name="walden_rocksdb_test",
        master="local[4]",
        shuffle_partitions=4,
        rocksdb_state=True,
    )
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    try:
        assert "RocksDB" in spark.conf.get(prov_key)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        src = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        agg = src.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("rocks_types")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {r.event_type: r.n for r in spark.table("rocks_types").collect()}
        want = {
            r.event_type: r.n
            for r in spark.read.parquet(f"{sf_dir}/events.parquet")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want
    finally:
        # getOrCreate may have applied the provider to a shared session;
        # unset so later tests keep the default HDFS-backed store
        spark.conf.unset(prov_key)


def test_event_ts_encoding_parity(spark, tmp_path):
    """Regression for the round-3 breakage: the driver has shipped
    events.ts as BOTH parquet INT64 TIMESTAMP(NANOS) and native
    timestamp[us]. Every read path (batch load_table, streaming
    _read_events_stream) must normalize either encoding to the same
    TimestampType wall times — so a fixture regeneration can't break
    streaming again."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from walden_spark.streaming.windows import _read_events_stream, _run_to_memory
    from walden_spark.tables import load_table

    base = datetime(2024, 1, 1, 10, 0, 0)
    times = [base + timedelta(minutes=7 * i) for i in range(6)]
    batch_results, stream_results = {}, {}
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        tbl = pa.table(
            {
                "event_id": pa.array(range(6), pa.int64()),
                "user_id": pa.array([1, 1, 2, 2, 3, 3], pa.int64()),
                "event_type": pa.array(["a", "b"] * 3),
                "value": pa.array([float(i) for i in range(6)]),
                "ts": pa.array(times, pa.timestamp(unit)),
            }
        )
        pq.write_table(tbl, str(d / "events.parquet"))
        ev = load_table(spark, str(d), "events")
        assert dict(ev.dtypes)["ts"] == "timestamp", unit
        batch_results[unit] = sorted(
            (r.event_id, r.ts.strftime("%Y-%m-%d %H:%M:%S")) for r in ev.collect()
        )
        stream = _read_events_stream(spark, str(d))
        assert dict(stream.dtypes)["ts"] == "timestamp", unit
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "15 minutes"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        out = _run_to_memory(agg, "complete")
        stream_results[unit] = sorted(
            (r["window"].start.strftime("%H:%M"), r["n"]) for r in out.collect()
        )
    assert batch_results["ns"] == batch_results["us"]
    assert batch_results["ns"][0] == (0, "2024-01-01 10:00:00")
    assert stream_results["ns"] == stream_results["us"]
    assert stream_results["ns"] == [("10:00", 3), ("10:15", 2), ("10:30", 1)]


def test_table_tail_streaming_source(spark, tmp_path):
    """walden_table_tail: offsets are table versions; each micro-batch
    plans one InputPartition per parquet file of the new append layers
    (no driver-side rows); restart from a checkpoint resumes at the
    committed version; non-append commits raise unless skipNonAppend
    is set (Iceberg streaming-read semantics)."""
    from walden_spark.sources.tablestream import register_table_tail
    from walden_spark.timetravel import VersionedTable

    register_table_tail(spark)
    t = VersionedTable(spark, str(tmp_path / "tailsrc"))
    t.write(spark.createDataFrame([(i, float(i)) for i in range(8)], "id long, v double"))
    t.append(spark.createDataFrame([(100, 1.0)], "id long, v double"))

    stream = spark.readStream.format("walden_table_tail").option("path", t.path).load()
    seen: list[int] = []

    def sink(batch_df, batch_id):
        seen.extend(r.id for r in batch_df.collect())

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert sorted(seen) == list(range(8)) + [100]

    # restart from the checkpoint: ONLY the new append arrives
    t.append(spark.createDataFrame([(200, 2.0)], "id long, v double"))
    seen.clear()
    q2 = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination()
    assert sorted(seen) == [200]

    # a delete commit poisons the tail...
    t.delete_keys(spark.createDataFrame([(0,)], "id long"), on=["id"])
    t.append(spark.createDataFrame([(300, 3.0)], "id long, v double"))
    q3 = (
        stream.writeStream.format("memory").queryName("tt3")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True).start()
    )
    import pytest as _pt

    with _pt.raises(Exception, match="not an append"):
        q3.awaitTermination()
    # ...unless explicitly skipped
    skipper = (
        spark.readStream.format("walden_table_tail")
        .option("path", t.path).option("skipNonAppend", "true").load()
    )
    q4 = (
        skipper.writeStream.format("memory").queryName("tt4")
        .trigger(availableNow=True).start()
    )
    q4.awaitTermination()
    got = sorted(r.id for r in spark.sql("SELECT * FROM tt4").collect())
    assert 300 in got and len(got) == 11  # 8 base + 100/200/300 appends, delete skipped


def test_table_changes_streaming_source(spark, tmp_path):
    """walden_table_changes: streams EVERY commit kind of a cdf-enabled
    table as change rows — appends as inserts straight from their data
    files, deletes/upsert-retractions from the commit-staged CDF files
    — with checkpoint resume, and agrees with batch read_changes over
    the same range."""
    from walden_spark.sources.tablestream import register_table_changes
    from walden_spark.timetravel import VersionedTable

    register_table_changes(spark)
    t = VersionedTable(spark, str(tmp_path / "cdfsrc"))
    t.enable_cdf()
    t.write(spark.createDataFrame([(i, float(i)) for i in range(5)], "id long, v double"))
    t.append(spark.createDataFrame([(5, 5.0)], "id long, v double"))
    t.delete_keys(spark.createDataFrame([(0,)], "id long"), on=["id"])
    t.upsert_keys(
        spark.createDataFrame([(1, 99.0), (6, 6.0)], "id long, v double"), on=["id"]
    )

    stream = (
        spark.readStream.format("walden_table_changes").option("path", t.path).load()
    )
    seen: list[tuple] = []

    def sink(batch_df, batch_id):
        seen.extend(
            (r.id, r.v, r._change_type, r._commit_version) for r in batch_df.collect()
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "cdfck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = sorted(seen)
    want = sorted(
        [(i, float(i), "insert", 0) for i in range(5)]
        + [(5, 5.0, "insert", 1)]
        + [(0, 0.0, "delete", 2)]
        + [(1, 1.0, "delete", 3), (1, 99.0, "insert", 3), (6, 6.0, "insert", 3)]
    )
    assert got == want
    # agreement with batch read_changes over (0, head]
    batch = sorted(
        (r.id, r.v, r._change_type, r._commit_version)
        for r in t.read_changes(0, 3).collect()
    )
    assert batch == [x for x in want if x[3] > 0]

    # checkpoint resume: only the NEW commit's changes arrive
    t.delete_where("id >= 5", mode="mor")  # predicate delete → CDF file
    seen.clear()
    q2 = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "cdfck"))
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination()
    assert sorted(seen) == [(5, 5.0, "delete", 4), (6, 6.0, "delete", 4)]


def test_table_changes_requires_cdf_coverage(spark, tmp_path):
    """Commits made before enable_cdf() carry no change rows: the
    stream refuses (never silently drops), and fromVersion at the
    enable point serves the covered suffix."""
    from walden_spark.sources.tablestream import register_table_changes
    from walden_spark.timetravel import VersionedTable

    register_table_changes(spark)
    t = VersionedTable(spark, str(tmp_path / "latecdf"))
    t.write(spark.createDataFrame([(1, 1.0)], "id long, v double"))  # pre-enable
    t.enable_cdf()
    t.append(spark.createDataFrame([(2, 2.0)], "id long, v double"))  # covered

    uncov = (
        spark.readStream.format("walden_table_changes").option("path", t.path).load()
    )
    import pytest as _pt

    q = (
        uncov.writeStream.format("memory").queryName("cdf_uncov")
        .trigger(availableNow=True).start()
    )
    with _pt.raises(Exception, match="enable_cdf"):
        q.awaitTermination()

    cov = (
        spark.readStream.format("walden_table_changes")
        .option("path", t.path).option("fromVersion", "0").load()
    )
    seen: list[tuple] = []
    q2 = (
        cov.writeStream.foreachBatch(
            lambda b, _: seen.extend((r.id, r._change_type, r._commit_version) for r in b.collect())
        )
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination()
    assert sorted(seen) == [(2, "insert", 1)]


def test_table_tail_ignores_side_branches(spark, tmp_path):
    """ADVICE r05 #2: the tail follows the MAIN branch lineage. Commits
    on a side branch (a WAP audit branch, a transaction's staging
    branch) must neither leak unpublished rows into the stream nor
    abort it when they're non-append — until a merge publishes them."""
    from walden_spark.sources.tablestream import register_table_tail
    from walden_spark.timetravel import VersionedTable

    register_table_tail(spark)
    t = VersionedTable(spark, str(tmp_path / "brsrc"))
    t.write(spark.createDataFrame([(1, 1.0)], "id long, v double"))
    # side-branch activity: an append (unpublished rows) AND a MoR
    # delete (would abort an append tail if it leaked into the plan)
    t.create_branch("wap")
    t.append(spark.createDataFrame([(900, 9.0)], "id long, v double"), branch="wap")
    t.delete_keys(
        spark.createDataFrame([(1,)], "id long"), on=["id"], branch="wap"
    )
    t.append(spark.createDataFrame([(2, 2.0)], "id long, v double"))  # on main

    stream = spark.readStream.format("walden_table_tail").option("path", t.path).load()
    seen: list[int] = []

    def sink(batch_df, batch_id):
        seen.extend(r.id for r in batch_df.collect())

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "brck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert sorted(seen) == [1, 2]  # main rows only — no 900, no abort


def test_table_tail_streams_over_file_uri(spark, tmp_path):
    """End-to-end streaming over a URI path: the tail source planned
    entirely through the pyarrow.fs IO layer (what an s3://-rooted
    table exercises), driven via file:// — offsets, partitions, and
    executor-side reads all resolve identically to the bare-path run."""
    from walden_spark.sources.tablestream import register_table_tail
    from walden_spark.timetravel import VersionedTable

    register_table_tail(spark)
    t = VersionedTable(spark, str(tmp_path / "uritail"))
    t.write(spark.createDataFrame([(0, 0.0)], "id long, v double"))
    t.append(spark.createDataFrame([(1, 1.0)], "id long, v double"))
    t.append(spark.createDataFrame([(2, 2.0)], "id long, v double"))
    stream = (
        spark.readStream.format("walden_table_tail")
        .option("path", "file://" + t.path)
        .load()
    )
    seen: list[tuple] = []

    def sink(batch_df, batch_id):
        seen.extend((r.id, r.v) for r in batch_df.collect())

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "uritail_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(seen) == [(0, 0.0), (1, 1.0), (2, 2.0)]


def test_arrow_io_stat_cache_is_directory_scoped(tmp_path, monkeypatch):
    """ADVICE r07 #3: the pyarrow.fs backend's listing-fed stat cache
    must only serve hits for children of the directory it listed — a
    reused instance that lists dir A then stats a same-named file in
    dir B must return B's real (mtime, size), not A's cached one."""
    from walden_spark import tablelog

    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir(); b.mkdir()
    (a / "f.json").write_text("x" * 10)
    (b / "f.json").write_text("y" * 999)
    # file:// would pick the os backend: force pyarrow through the seam
    monkeypatch.setattr(tablelog, "io_for", lambda path, spark=None: tablelog.ArrowIO())
    io = tablelog.io_for("file://" + str(a))
    assert io.list_names("file://" + str(a)) == ["f.json"]
    assert io.stat("file://" + str(a / "f.json"))[1] == 10   # cache hit
    assert io.stat("file://" + str(b / "f.json"))[1] == 999  # must miss


def test_streaming_minhash_dedup_is_incremental(spark, sf_dir):
    """The streaming near-dup flags must agree with the batch pair
    detector's later-id side, AND the mechanics must be genuinely
    incremental: the band index and shingle store advance one snapshot
    commit per micro-batch (append-only state, never rebuilt)."""
    from walden_spark.operators.dedup import dedup_minhash_lsh
    from walden_spark.streaming.sinks import streaming_minhash_dedup

    got = {
        (r.doc_id, r.n_prior_dups)
        for r in streaming_minhash_dedup(spark, sf_dir).collect()
    }
    band_state, shingle_state, flagged = streaming_minhash_dedup.last_tables
    # batches 0-2 committed, then mid-stream maintenance (compact +
    # expire keep_last=1) collapsed them, then batch 3 appended — the
    # state stays O(live data) while the stream keeps going
    for vt in (band_state, shingle_state):
        ops = [m.get("operation") for m in vt._manifests()]
        assert ops == ["compact", "append"], ops
    # agreement with the batch pair detector: flag count per later doc
    from collections import Counter

    pair_counts = Counter(
        r.b_id for r in dedup_minhash_lsh(spark, sf_dir).collect()
    )
    assert got == {(d, n) for d, n in pair_counts.items()}


def test_streaming_minhash_dedup_restart_after_maintenance(spark, sf_dir, tmp_path):
    """VERDICT r07 #5: the 24/7-ingest combination — the stream dies
    AFTER mid-stream compact+expire rewrote the state tables, then a
    NEW stream resumes from the Spark checkpoint + the versioned state
    and must produce the same flags as the closed-input oracle (the
    single-run batch detector)."""
    from collections import Counter

    from walden_spark.operators.dedup import dedup_minhash_lsh
    from walden_spark.streaming.sinks import (
        _minhash_ingest_run,
        _stage_id_ranges,
    )
    from walden_spark.tables import load_table
    from walden_spark.timetravel import VersionedTable

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stage, ckpt = str(tmp_path / "stage"), str(tmp_path / "ckpt")
    band = VersionedTable(spark, str(tmp_path / "bands"))
    shingle = VersionedTable(spark, str(tmp_path / "shingles"))
    flagged = VersionedTable(spark, str(tmp_path / "flagged"))
    # run 1: batches 0-2 only; maintenance fires in batch 2, then the
    # stream terminates (the kill point — all state is on disk)
    _stage_id_ranges(spark, docs, "doc_id", stage, which=range(3))
    _minhash_ingest_run(spark, stage, band, shingle, flagged, checkpoint=ckpt)
    for vt in (band, shingle):
        assert [m.get("operation") for m in vt._manifests()] == ["compact"]
    # run 2: batch 3 lands; a FRESH stream over the same checkpoint
    # resumes — the file source skips b0-b2, the state tables continue
    # from their post-maintenance snapshots
    _stage_id_ranges(spark, docs, "doc_id", stage, which=[3])
    _minhash_ingest_run(spark, stage, band, shingle, flagged, checkpoint=ckpt)
    for vt in (band, shingle):
        ops = [m.get("operation") for m in vt._manifests()]
        assert ops == ["compact", "append"], ops  # ONE commit for batch 3
    got = {(r.doc_id, r.n_prior_dups) for r in flagged.read().collect()}
    pair_counts = Counter(
        r.b_id for r in dedup_minhash_lsh(spark, sf_dir).collect()
    )
    assert got == {(d, n) for d, n in pair_counts.items()}


def test_streaming_ivf_ingest_restart_after_maintenance(spark, sf_dir, tmp_path):
    """VERDICT r07 #5 for the IVF ingest: kill after the batch-2
    compact+expire, resume a fresh stream from the checkpoint, and the
    probe over the resumed index must match the single-run operator
    (which is itself oracle-verified)."""
    from pyspark.sql import functions as F

    from walden_spark.streaming.sinks import (
        _ivf_ingest_run,
        _ivf_probe,
        _stage_id_ranges,
        streaming_ivf_ingest,
    )
    from walden_spark.tables import load_table
    from walden_spark.timetravel import VersionedTable

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = e.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    stage, ckpt = str(tmp_path / "stage"), str(tmp_path / "ckpt")
    index = VersionedTable(spark, str(tmp_path / "index"))
    _stage_id_ranges(spark, e, "vec_id", stage, which=range(3))
    _ivf_ingest_run(spark, stage, cent, index, checkpoint=ckpt)
    assert [m.get("operation") for m in index._manifests()] == ["compact"]
    _stage_id_ranges(spark, e, "vec_id", stage, which=[3])
    _ivf_ingest_run(spark, stage, cent, index, checkpoint=ckpt)
    assert [m.get("operation") for m in index._manifests()] == ["compact", "append"]
    resumed = {tuple(r) for r in _ivf_probe(spark, e, cent, index).collect()}
    single_run = {tuple(r) for r in streaming_ivf_ingest(spark, sf_dir).collect()}
    assert resumed == single_run


def test_streaming_ivf_ingest_builds_bucketed_index(spark, sf_dir):
    """The IVF stream must build its index incrementally (one bucket-
    partitioned snapshot commit per micro-batch) and serve probes from
    a cell-pruned scan, not a full index read."""
    from walden_spark.streaming.sinks import streaming_ivf_ingest

    out = streaming_ivf_ingest(spark, sf_dir).collect()
    assert out, "probes must return neighbors"
    index = streaming_ivf_ingest.last_table
    ms = index._manifests()
    # batches 0-2 committed, then mid-stream maintenance (compact +
    # expire keep_last=1) collapsed them into one snapshot, then batch
    # 3 appended: 2 retained versions, ending in one MoR layer over a
    # compacted base — maintenance ran WHILE the stream kept going
    assert [m.get("operation") for m in ms] == ["compact", "append"]
    assert all(m.get("partition", {}).get("transform") == "bucket" for m in ms)
    # cell-pruned scan: one cid touches a strict subset of the index
    total = index.read().count()
    one_cell_cid = index.read().select("cid").first().cid
    one = index.scan(filters=[("cid", "=", one_cell_cid)]).count()
    assert 0 < one < total


def test_streaming_pattern_alternation_restart(spark, sf_dir, tmp_path):
    """r12 (VERDICT r11 #7): the alternation matcher survives a
    checkpointed restart mid-run — the stream processes the first two
    quartile files, dies, and a FRESH query over the same checkpoint
    replays only the remaining files; open candidate state (anchor /
    descent / tail / skip-past gate) crosses the restart through the
    state store, and the combined emissions must equal the batch
    MATCH_RECOGNIZE compiler on the closed input."""
    import shutil

    from pyspark.sql.streaming.state import GroupStateTimeout

    from walden_spark.queries.windows import _daily_counts
    from walden_spark.session import WaldenSession
    from walden_spark.streaming.stateful import (
        _ALT_OUT,
        _ALT_STATE,
        _pattern_user_alt,
        _staged_event_replay,
    )

    stage = _staged_event_replay(spark, sf_dir, 26, "walden_patalt_rs_")
    hold = str(tmp_path / "hold")
    shutil.move(f"{stage}/b=2", f"{hold}_b2")
    shutil.move(f"{stage}/b=3", f"{hold}_b3")
    shutil.move(f"{stage}/b=4", f"{hold}_b4")

    ckpt = str(tmp_path / "ckpt")
    got: list[tuple] = []

    def run_once():
        stream = (
            spark.readStream.schema("event_id long, user_id long, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(stage)
        )
        matches = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy("user_id")
            .applyInPandasWithState(
                _pattern_user_alt,
                outputStructType=_ALT_OUT,
                stateStructType=_ALT_STATE,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        q = (
            matches.writeStream.outputMode("update")
            .foreachBatch(
                lambda df, _id: got.extend(tuple(r) for r in df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # files b0, b1 only — the kill point
    n_first = len(got)
    shutil.move(f"{hold}_b2", f"{stage}/b=2")
    shutil.move(f"{hold}_b3", f"{stage}/b=3")
    shutil.move(f"{hold}_b4", f"{stage}/b=4")
    run_once()  # fresh query, same checkpoint: replays only b2..b4
    assert len(got) > n_first  # the sentinel flush emits in run 2

    ws = WaldenSession(spark)
    _daily_counts(spark, sf_dir, max_user=26).createOrReplaceTempView(
        "walden_alt_rs_batch"
    )
    expected = ws.sql(
        """
SELECT user_id, anchor_day, anchor_n, shape, n_down, rise_day, plateau_day,
       COALESCE(rise_n, plateau_n) AS end_n
FROM walden_alt_rs_batch MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY day
  MEASURES STRT.day AS anchor_day, STRT.n AS anchor_n, CLASSIFIER() AS shape,
           COUNT(down.*) AS n_down, LAST(up.day) AS rise_day,
           LAST(flat.day) AS plateau_day, LAST(up.n) AS rise_n,
           LAST(flat.n) AS plateau_n
  ONE ROW PER MATCH
  PATTERN ((STRT down+ up+) | (STRT down+ flat+))
  DEFINE down AS down.n < PREV(down.n), up AS up.n > PREV(up.n),
         flat AS flat.n = PREV(flat.n)
)
"""
    ).collect()
    assert sorted(got) == sorted(tuple(r) for r in expected)


def test_streaming_pattern_same_class_restart(spark, sf_dir, tmp_path):
    """r14: the same-class split matcher survives a checkpointed
    restart mid-run — open-ascent state (anchor / length / penultimate
    row) crosses the restart through the state store, and the combined
    emissions must equal the batch MATCH_RECOGNIZE compiler's
    match_split_pair route on the closed input."""
    import shutil

    from pyspark.sql.streaming.state import GroupStateTimeout

    from walden_spark.queries.windows import _daily_counts
    from walden_spark.session import WaldenSession
    from walden_spark.streaming.stateful import (
        _SPLIT_OUT,
        _SPLIT_STATE,
        _pattern_user_split,
        _staged_event_replay,
    )

    stage = _staged_event_replay(spark, sf_dir, 22, "walden_patsc_rs_")
    hold = str(tmp_path / "hold")
    shutil.move(f"{stage}/b=2", f"{hold}_b2")
    shutil.move(f"{stage}/b=3", f"{hold}_b3")
    shutil.move(f"{stage}/b=4", f"{hold}_b4")

    ckpt = str(tmp_path / "ckpt")
    got: list[tuple] = []

    def run_once():
        stream = (
            spark.readStream.schema("event_id long, user_id long, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(stage)
        )
        matches = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy("user_id")
            .applyInPandasWithState(
                _pattern_user_split,
                outputStructType=_SPLIT_OUT,
                stateStructType=_SPLIT_STATE,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        q = (
            matches.writeStream.outputMode("update")
            .foreachBatch(
                lambda df, _id: got.extend(tuple(r) for r in df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # files b0, b1 only — the kill point
    n_first = len(got)
    shutil.move(f"{hold}_b2", f"{stage}/b=2")
    shutil.move(f"{hold}_b3", f"{stage}/b=3")
    shutil.move(f"{hold}_b4", f"{stage}/b=4")
    run_once()  # fresh query, same checkpoint: replays only b2..b4
    assert len(got) > n_first  # the sentinel flush emits in run 2

    ws = WaldenSession(spark)
    _daily_counts(spark, sf_dir, max_user=22).createOrReplaceTempView(
        "walden_sc_rs_batch"
    )
    expected = ws.sql(
        """
SELECT user_id, anchor_day, anchor_n, up_day, up_n, n_up, end_day, end_n
FROM walden_sc_rs_batch MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY day
  MEASURES STRT.day AS anchor_day, STRT.n AS anchor_n,
           LAST(up.day) AS up_day, LAST(up.n) AS up_n,
           COUNT(up.*) AS n_up,
           LAST(up2.day) AS end_day, LAST(up2.n) AS end_n
  ONE ROW PER MATCH
  PATTERN (STRT up+ up2+)
  DEFINE up AS up.n > PREV(up.n), up2 AS up2.n > PREV(up2.n)
)
"""
    ).collect()
    assert sorted(got) == sorted(tuple(r) for r in expected)
