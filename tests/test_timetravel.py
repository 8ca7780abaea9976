"""VersionedTable: snapshot retention, time travel, expiry
(reference capability: Nessie/Iceberg snapshots, tf/nessie-values.yaml)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from walden_spark import tablelog
from walden_spark.timetravel import VersionedTable


def _force_io(monkeypatch, make_io) -> None:
    """Route every table-log operation through ``make_io(spark)`` — the
    one backend-selection seam, tablelog.io_for."""
    monkeypatch.setattr(tablelog, "io_for", lambda path, spark=None: make_io(spark))


@pytest.fixture()
def vt(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, v double")
    t.write(df)
    return t


def test_every_dml_is_a_snapshot(spark, vt):
    vt.delete_where(F.col("id") >= 5)          # v1
    vt.update_where({"v": F.col("v") * 10}, F.col("id") == 0)  # v2
    assert vt.current_version() == 2
    assert vt.read(version=0).count() == 10
    assert vt.read(version=1).count() == 5
    assert vt.read(version=2).filter("id = 0").collect()[0].v == 0.0 * 10
    ops = [r.operation for r in vt.history().orderBy("version").collect()]
    assert ops == ["write", "delete", "update"]


def test_merge_snapshot_and_null_update(spark, vt):
    src = spark.createDataFrame([(1, None), (99, 9.0)], "id long, v double")
    vt.merge_into(src, on=["id"])
    cur = {r.id: r.v for r in vt.read().collect()}
    assert cur[1] is None          # NULL update applied
    assert cur[99] == 9.0          # insert
    assert vt.read(version=0).filter("id = 1").collect()[0].v == 1.0  # history intact


def test_read_as_of_timestamp(spark, vt):
    ts_v0 = [m for m in vt._manifests()][0]["timestamp"]
    vt.delete_where(F.col("id") >= 1)
    assert vt.read_as_of(ts_v0).count() == 10
    assert vt.read().count() == 1


def test_read_as_of_composes_mor_and_branches(spark, vt):
    """read_as_of must resolve snapshots exactly like read(): MoR
    layers composed onto their base (not the delta alone), predicate-
    only delete layers readable (no data_dir → KeyError before r05),
    and commits on other branches ignored (ADVICE r04 high)."""
    vt.append(spark.createDataFrame([(100, 1.0)], "id long, v double"))  # v1 mor
    vt.delete_where("id < 8", mode="mor")                                # v2 no data_dir
    ts_v1, ts_v2 = (m["timestamp"] for m in vt._manifests()[1:])
    # as-of the append instant: base ∘ append (delete not yet committed)
    assert sorted(r.id for r in vt.read_as_of(ts_v1).collect()) == list(range(10)) + [100]
    got = sorted(r.id for r in vt.read_as_of(ts_v2 + 0.001).collect())
    assert got == [8, 9, 100]                     # base ∘ append ∘ delete
    # a later commit on a side branch must not leak into main's as-of
    vt.create_branch("side")
    vt.write(spark.createDataFrame([(999, 9.0)], "id long, v double"), branch="side")
    import time as _t

    assert sorted(r.id for r in vt.read_as_of(_t.time()).collect()) == got


def test_read_as_of_drops_hidden_partition_column(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "asofhidden"))
    t.write(_mk(spark, 20), partition_bucket=("id", 4))
    import time as _t

    df = t.read_as_of(_t.time())
    assert set(df.columns) == {"id", "v"}
    assert df.count() == 20


def test_non_conflict_commit_failure_not_masked(spark, vt):
    """A transient manifest-write failure (permissions/quota/...) must
    surface unchanged — mapping it to ConcurrentWriteError would tell
    the caller to retry a non-conflict failure (ADVICE r04 low)."""
    boom = PermissionError("disk says no")
    orig = vt._write_manifest
    vt._write_manifest = lambda *a, **k: (_ for _ in ()).throw(boom)  # type: ignore
    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    with pytest.raises(PermissionError, match="disk says no"):
        vt.write(df)
    vt._write_manifest = orig  # type: ignore
    assert vt.read().count() == 10  # table intact


def test_expire_versions(spark, vt):
    vt.delete_where(F.col("id") >= 8)   # v1
    vt.delete_where(F.col("id") >= 6)   # v2
    dropped = vt.expire_versions(keep_last=2)
    assert dropped == [0]
    with pytest.raises(ValueError):
        vt.read(version=0)
    assert vt.read(version=1).count() == 8
    assert vt.read().count() == 6


def test_branch_tag_merge_fast_forward(spark, vt):
    """Nessie-analog refs: branch from main, commit on the branch
    (main untouched), tag the pre-branch state, fast-forward merge."""
    from walden_spark.timetravel import MergeConflictError

    v0 = vt.create_branch("etl")
    assert v0 == 0
    vt.create_tag("release-0")
    branch_df = vt.read(branch="etl").filter(F.col("id") < 3)
    vt.write(branch_df, operation="branch_filter", branch="etl")   # v1 on etl
    assert vt.head("main") == 0            # main unaffected
    assert vt.head("etl") == 1
    assert vt.read(branch="main").count() == 10
    assert vt.read(branch="etl").count() == 3
    # fast-forward: main's head (v0) is etl's ancestor
    new_head = vt.merge_branch("etl", into="main")
    assert new_head == 1
    assert vt.read(branch="main").count() == 3
    assert vt.read(tag="release-0").count() == 10   # tag pinned at v0
    refs = {(r.ref_type, r.ref_name): r.version for r in vt.refs().collect()}
    assert refs[("branch", "main")] == 1
    assert refs[("tag", "release-0")] == 0
    # merging again is a no-op, not an error
    assert vt.merge_branch("etl", into="main") == 1


def test_merge_conflict_on_divergence(spark, vt):
    """Divergent heads must refuse the content-unaware merge."""
    from walden_spark.timetravel import MergeConflictError

    vt.create_branch("b")
    vt.write(vt.read(branch="b").filter("id < 5"), branch="b")       # b → v1
    vt.write(vt.read(branch="main").filter("id >= 5"), branch="main")  # main → v2
    with pytest.raises(MergeConflictError):
        vt.merge_branch("b", into="main")
    # both branches still intact and readable after the failed merge
    assert vt.read(branch="b").count() == 5
    assert vt.read(branch="main").count() == 5


def test_ref_bookkeeping_errors(spark, vt):
    with pytest.raises(ValueError):
        vt.create_branch("main", at_version=0)  # already exists implicitly? explicit dup
    vt.create_tag("t0")
    with pytest.raises(ValueError):
        vt.create_tag("t0")
    with pytest.raises(ValueError):
        vt.read(tag="nope")
    with pytest.raises(ValueError):
        vt.delete_ref("branch", "main")
    vt.create_branch("dev")
    vt.delete_ref("branch", "dev")
    with pytest.raises(ValueError):
        vt.head("dev")


def test_concurrent_commit_conflict(spark, vt):
    """Two writers race the same next version: exactly one commits, the
    loser gets a clean ConcurrentWriteError, no torn state (VERDICT r03
    next-round #6 — enforce, not just document, single-writer)."""
    from walden_spark.timetravel import ConcurrentWriteError, VersionedTable

    # second handle = second client session onto the same table path
    other = VersionedTable(spark, vt.path)
    df = spark.createDataFrame([(100, 1.0)], "id long, v double")

    # freeze writer B's view of the table at the pre-commit state, so
    # both writers compute the same next version — the exact interleave
    # of two clients that both read before either commits
    ms_frozen = other._manifests()
    other._manifests = lambda: ms_frozen  # type: ignore[method-assign]
    v_a = vt.write(df, operation="writer_a")
    with pytest.raises(ConcurrentWriteError):
        other.write(df, operation="writer_b")
    # winner's commit intact; manifest content is writer A's; B's
    # staged data dir was cleaned up (only A's v_a data dir remains)
    real = VersionedTable(spark, vt.path)
    assert real._manifests()[-1]["operation"] == "writer_a"
    assert real.read().filter("id = 100").count() == 1
    import os

    v_dirs = [d for d in os.listdir(f"{vt.path}/data") if d.startswith(f"v={v_a}-")]
    assert len(v_dirs) == 1


# ---- r04 Iceberg-analog mechanics: stats pruning, MoR, hidden parts ----


def _mk(spark, n=1000):
    return spark.range(n).select(
        F.col("id"), (F.col("id") % 7).cast("double").alias("v")
    )


def test_manifest_file_pruning(spark, tmp_path):
    """scan(filters) must skip files whose footer-stat ranges can't
    match — fewer input files than a full read, identical results to
    read().filter()."""
    t = VersionedTable(spark, str(tmp_path / "pruned"))
    df = _mk(spark).repartitionByRange(8, "id")  # 8 files, disjoint id ranges
    t.write(df)
    m = t._manifests()[-1]
    assert len(m["files"]) == 8
    assert all(f["rows"] > 0 and "id" in f["stats"] for f in m["files"])

    full = t.read()
    pruned = t.scan(filters=[("id", ">=", 900)])
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert sorted(r.id for r in pruned.collect()) == list(range(900, 1000))
    # empty-result pruning: no file can match
    assert t.scan(filters=[("id", ">", 10_000)]).count() == 0


def test_merge_on_read_stack_and_compact(spark, tmp_path):
    """append/delete/update in MoR mode are O(delta) commits (no
    table rewrite); reads compose the stack; compact materializes."""
    t = VersionedTable(spark, str(tmp_path / "mor"))
    t.write(_mk(spark, 100))                                   # v0 full
    t.append(spark.range(100, 120).select(
        F.col("id"), F.lit(0.0).alias("v")))                   # v1 mor append
    t.delete_where("id % 2 = 1", mode="mor")                   # v2 mor delete
    t.update_where({"v": "v + 100"}, "id < 10", mode="mor")    # v3 mor update

    ms = t._manifests()
    assert [m.get("operation") for m in ms] == [
        "write", "append", "delete_mor", "update_mor"]
    assert ms[2].get("data_dir") is None          # delete wrote NO data
    # update layer wrote only the 5 changed rows (even ids < 10)
    assert sum(f["rows"] for f in ms[3]["files"]) == 5

    cur = {r.id: r.v for r in t.read().collect()}
    assert set(cur) == {i for i in range(120) if i % 2 == 0}
    assert cur[4] == 104.0 and cur[8] == 101.0    # updated (v = id%7 + 100)
    assert cur[12] == 5.0                         # untouched (12 % 7)
    assert cur[100] == 0.0                        # appended survives delete? no:
    # append happened BEFORE the delete layer, so odd appended ids are gone
    assert 101 not in cur

    # every historical version still readable
    assert t.read(version=0).count() == 100
    assert t.read(version=1).count() == 120
    assert t.read(version=2).count() == 60

    v4 = t.compact()
    assert t._manifests()[-1]["operation"] == "compact"
    after = {r.id: r.v for r in t.read(version=v4).collect()}
    assert after == cur                            # compaction is a no-op logically


def test_mor_scan_filters_push_into_base(spark, tmp_path):
    """scan() through a MoR stack prunes base files AND applies the
    residual filter; equality with the unpruned read path."""
    t = VersionedTable(spark, str(tmp_path / "morscan"))
    t.write(_mk(spark).repartitionByRange(8, "id"))
    t.delete_where("id >= 950", mode="mor")
    got = sorted(r.id for r in t.scan(filters=[("id", ">=", 900)]).collect())
    want = sorted(
        r.id for r in t.read().filter("id >= 900").collect()
    )
    assert got == want == list(range(900, 950))


def test_hidden_day_partitioning(spark, tmp_path):
    """write(partition_day=...) partitions by a derived day column the
    reader never sees; time filters on the SOURCE column prune
    partitions (PartitionFilters on the hidden field)."""
    rows = spark.sql(
        "SELECT id, timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0) AS ts "
        "FROM range(0, 24*14)"  # 14 days of hourly rows
    )
    t = VersionedTable(spark, str(tmp_path / "hidden"))
    t.write(rows, partition_day="ts")
    out = t.read()
    assert set(out.columns) == {"id", "ts"}        # hidden col invisible
    assert out.count() == 24 * 14

    scanned = t.scan(filters=[("ts", ">=", "2024-01-13 00:00:00")])
    assert sorted(r.id for r in scanned.collect()) == list(range(24 * 12, 24 * 14))
    plan = scanned._jdf.queryExecution().executedPlan().toString()
    assert "walden_p_day" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0], (
        "source-column time filter must become a partition filter on the hidden field"
    )


def test_hidden_partition_prunes_through_or(spark, tmp_path):
    """VERDICT r05 next-round #5: an OR of same-column ranges rewrites
    to the UNION of their partition filters (footer pruning already
    recursed through OR; the partition rewrite now does too). An OR
    with an unconstrained side must imply nothing — full scan, right
    rows."""
    rows = spark.sql(
        "SELECT id, timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0) AS ts "
        "FROM range(0, 24*14)"  # 14 days of hourly rows
    )
    t = VersionedTable(spark, str(tmp_path / "hiddenor"))
    t.write(rows, partition_day="ts")

    scanned = t.scan(
        filters=[
            (
                "or",
                [("ts", ">=", "2024-01-02 00:00:00"), ("ts", "<", "2024-01-03 00:00:00")],
                [("ts", ">=", "2024-01-13 00:00:00"), ("ts", "<", "2024-01-14 00:00:00")],
            )
        ]
    )
    want = list(range(24, 48)) + list(range(24 * 12, 24 * 13))
    assert sorted(r.id for r in scanned.collect()) == want
    plan = scanned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "walden_p_day" in pf, (
        "OR of two day ranges must become a partition filter on the hidden field"
    )

    # unconstrained side (different column) → no partition implication,
    # but row-level residual still correct
    mixed = t.scan(
        filters=[
            (
                "or",
                [("ts", ">=", "2024-01-13 00:00:00")],
                [("id", "<", 5)],
            )
        ]
    )
    assert sorted(r.id for r in mixed.collect()) == list(range(5)) + list(
        range(24 * 12, 24 * 14)
    )


def test_expire_keeps_mor_bases_and_ref_targets(spark, tmp_path):
    """expire_versions must not break retained MoR chains or refs."""
    t = VersionedTable(spark, str(tmp_path / "exp"))
    t.write(_mk(spark, 50))                  # v0 — base of every later layer
    t.create_tag("keep0")
    t.delete_where("id >= 40", mode="mor")   # v1
    t.delete_where("id >= 30", mode="mor")   # v2
    t.delete_where("id >= 20", mode="mor")   # v3
    # while the head is a MoR layer, its entire chain (v3→v2→v1→v0) is
    # live — nothing is droppable yet
    assert t.expire_versions(keep_last=2) == []
    assert t.read().count() == 20
    t.compact()                              # v4 full snapshot
    dropped = t.expire_versions(keep_last=1)
    # v1..v3 collapse away; v0 survives because the tag points at it
    assert dropped == [1, 2, 3]
    assert t.read().count() == 20
    assert t.read(tag="keep0").count() == 50


def test_mor_random_op_sequences_match_model(spark, tmp_path):
    """Model-based check of the merge-on-read stack: random sequences
    of append / mor-delete / mor-update / compact must always read
    back exactly what a driver-side dict model predicts — including
    across compaction boundaries (hypothesis-driven, small budget:
    each example is a real Spark table)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op = st.one_of(
        st.tuples(st.just("append"), st.integers(1, 5)),
        st.tuples(st.just("delete"), st.integers(2, 5), st.integers(0, 4)),
        st.tuples(st.just("update"), st.integers(1, 60), st.integers(1, 9)),
        st.tuples(st.just("compact"), st.just(0)),
        st.tuples(st.just("delete_keys"), st.lists(st.integers(0, 110), min_size=1, max_size=4)),
        st.tuples(st.just("delete_pos"), st.integers(2, 5), st.integers(0, 4)),
    )

    counter = [0]

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(op, min_size=1, max_size=5))
    def run(ops):
        counter[0] += 1
        t = VersionedTable(spark, str(tmp_path / f"model{counter[0]}"))
        model = {i: float(i % 3) for i in range(30)}
        t.write(
            spark.createDataFrame(sorted(model.items()), "id long, v double")
        )
        next_id = [100]
        for o in ops:
            if o[0] == "append":
                n = o[1]
                rows = [(next_id[0] + j, -1.0) for j in range(n)]
                next_id[0] += n
                t.append(spark.createDataFrame(rows, "id long, v double"))
                model.update(rows)
            elif o[0] == "delete":
                _, k, r = o
                t.delete_where(f"id % {k} = {r}", mode="mor")
                model = {i: v for i, v in model.items() if i % k != r}
            elif o[0] == "update":
                _, x, c = o
                t.update_where({"v": f"v + {c}"}, f"id < {x}", mode="mor")
                model = {i: (v + c if i < x else v) for i, v in model.items()}
            elif o[0] == "delete_keys":
                ks = o[1]
                t.delete_keys(
                    spark.createDataFrame([(k,) for k in ks], "id long"), on=["id"]
                )
                model = {i: v for i, v in model.items() if i not in set(ks)}
            elif o[0] == "delete_pos":
                # position delete == predicate delete over LIVE rows at
                # commit time, so the dict model is identical to delete
                _, k, r = o
                t.delete_positions_where(f"id % {k} = {r}")
                model = {i: v for i, v in model.items() if i % k != r}
            else:
                t.compact()
            got = {r.id: r.v for r in t.read().collect()}
            assert got == model, f"divergence after {o} in {ops}"

    run()


def test_equality_delete_keys(spark, vt):
    """Iceberg v2 equality-delete files: delete-by-key commits compose
    with later appends (same key appended after the delete survives),
    history stays readable, and compaction materializes the stack."""
    keys = spark.createDataFrame([(3,), (5,)], "id long")
    v1 = vt.delete_keys(keys, on=["id"])
    assert sorted(r.id for r in vt.read().collect()) == [0, 1, 2, 4, 6, 7, 8, 9]
    # re-append a deleted key ABOVE the delete layer: it survives
    vt.append(spark.createDataFrame([(5, 55.0)], "id long, v double"))
    cur = {r.id: r.v for r in vt.read().collect()}
    assert cur[5] == 55.0 and 3 not in cur
    # history intact at every version
    assert vt.read(version=0).count() == 10
    assert vt.read(version=v1).count() == 8
    v3 = vt.compact()
    assert {r.id: r.v for r in vt.read(version=v3).collect()} == cur
    # scan() through the equality-delete stack equals read().filter()
    got = sorted(r.id for r in vt.scan(filters=[("id", ">=", 4)]).collect())
    assert got == [4, 5, 6, 7, 8, 9]
    with pytest.raises(ValueError, match="not in table schema"):
        vt.delete_keys(spark.createDataFrame([(1,)], "nope long"), on=["nope"])
    # composite key passed in reverse column order: the snapshot keeps
    # the table's column order (the key join must not reorder it)
    t = VersionedTable(spark, str(vt.path) + "_ab")
    t.write(
        spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(9)], "a long, b long, v double"
        )
    )
    t.delete_keys(spark.createDataFrame([(1, 1), (2, 5)], "b long, a long"), on=["b", "a"])
    assert t.read().columns == ["a", "b", "v"]
    assert sorted(r.a for r in t.read().collect()) == [0, 2, 3, 4, 6, 7, 8]
    assert t.scan(filters=[("a", ">=", 4)]).columns == ["a", "b", "v"]


def test_default_read_follows_main_not_side_branches(spark, vt):
    """With no ref, read(), current_version() and merge_into resolve
    MAIN's head: a newer commit on a side branch stays unpublished to
    main until merged."""
    main_v = vt.head("main")
    vt.create_branch("audit")
    audit_v = vt.append(
        spark.createDataFrame([(100, 100.0)], "id long, v double"), branch="audit"
    )
    assert audit_v > main_v and vt.head("main") == main_v
    assert vt.current_version() == main_v
    assert sorted(r.id for r in vt.read().collect()) == list(range(10))
    assert vt.scan().count() == 10
    v = vt.merge_into(
        spark.createDataFrame([(1, -1.0), (200, 2.0)], "id long, v double"), on=["id"]
    )
    assert vt.head("main") == v and vt.current_version() == v
    cur = {r.id: r.v for r in vt.read().collect()}
    assert 100 not in cur  # the audit row never leaked into main
    assert cur[1] == -1.0 and cur[200] == 2.0 and len(cur) == 11
    assert 100 in {r.id for r in vt.read(branch="audit").collect()}


def test_position_delete(spark, tmp_path):
    """Iceberg v2 position-delete files: (file, row_index) pairs pin
    exact rows at commit time — later appends matching the predicate
    are untouched (the frozen-at-commit semantics predicate deletes
    can't express), history stays readable, compaction materializes."""
    t = VersionedTable(spark, str(tmp_path / "posdel"))
    t.write(_mk(spark, 100).repartitionByRange(4, "id"))
    v1 = t.delete_positions_where("id % 2 = 1")
    assert t.read().count() == 50
    assert t._manifests()[-1]["operation"] == "delete_pos_mor"
    # a later append of matching rows is NOT re-deleted
    t.append(spark.createDataFrame([(1, -1.0), (3, -3.0)], "id long, v double"))
    cur = {r.id: r.v for r in t.read().collect()}
    assert cur[1] == -1.0 and cur[3] == -3.0 and 5 not in cur
    assert len(cur) == 52
    # user never sees the hidden position columns
    assert set(t.read().columns) == {"id", "v"}
    # history + compaction
    assert t.read(version=0).count() == 100
    assert t.read(version=v1).count() == 50
    v3 = t.compact()
    assert {r.id: r.v for r in t.read(version=v3).collect()} == cur
    # scan filters compose through the position-delete stack
    got = sorted(r.id for r in t.scan(filters=[("id", "<", 10)]).collect())
    assert got == [0, 1, 2, 3, 4, 6, 8]


def test_position_delete_on_hidden_partitioned_table(spark, tmp_path):
    """Position deletes compose with hidden partitioning: the partition
    column stays invisible while the position columns thread through."""
    t = VersionedTable(spark, str(tmp_path / "poshidden"))
    t.write(_mk(spark, 200), partition_bucket=("id", 8))
    t.delete_positions_where("id % 10 = 0")
    out = t.read()
    assert set(out.columns) == {"id", "v"}
    got = sorted(r.id for r in out.collect())
    assert got == [i for i in range(200) if i % 10 != 0]
    # bucket pruning still applies through the delete layer
    hit = t.scan(filters=[("id", "=", 55)])
    assert [r.id for r in hit.collect()] == [55]
    assert t.scan(filters=[("id", "=", 60)]).count() == 0  # deleted


def test_position_delete_three_way_merge(spark, vt):
    """Position-delete layers participate in the content-aware merge:
    their touched keys resolve via the (file,pos)→base join."""
    vt.create_branch("b")
    vt.delete_positions_where("id < 2", branch="b")     # b touches {0,1}
    vt.delete_where("id >= 8", mode="mor")              # main touches {8,9}
    vt.merge_branch("b", into="main", keys=["id"])
    assert sorted(r.id for r in vt.read(branch="main").collect()) == [2, 3, 4, 5, 6, 7]
    # overlap case conflicts
    from walden_spark.timetravel import MergeConflictError

    vt.create_branch("c")
    vt.delete_positions_where("id = 5", branch="c")
    vt.delete_keys(spark.createDataFrame([(5,)], "id long"), on=["id"])
    with pytest.raises(MergeConflictError, match="both touched keys"):
        vt.merge_branch("c", into="main", keys=["id"])


def test_hidden_month_partitioning(spark, tmp_path):
    """partition_time=(col, 'month'): month-granularity hidden
    partitioning with range predicates pruning directories."""
    rows = spark.sql(
        "SELECT id, timestamp'2024-01-15 00:00:00' + make_interval(0,0,0,CAST(id AS INT)*7,0,0,0) AS ts "
        "FROM range(0, 20)"  # weekly rows spanning ~5 months
    )
    t = VersionedTable(spark, str(tmp_path / "monthly"))
    t.write(rows, partition_time=("ts", "month"))
    assert set(t.read().columns) == {"id", "ts"}
    import datetime

    lo = datetime.datetime(2024, 3, 1)
    scanned = t.scan(filters=[("ts", ">=", lo)])
    want = sorted(r.id for r in t.read().filter(F.col("ts") >= F.lit(lo)).collect())
    assert sorted(r.id for r in scanned.collect()) == want
    plan = scanned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "walden_p_time" in pf

    # IN on exact timestamps also derives a partition filter
    two = [r.ts for r in t.read().filter("id IN (2, 11)").collect()]
    got = sorted(r.id for r in t.scan(filters=[("ts", "in", two)]).collect())
    assert got == [2, 11]


def test_hidden_truncate_partitioning(spark, tmp_path):
    """partition_truncate: string-prefix and integral floor-to-multiple
    transforms; equality, IN and RANGE predicates all prune."""
    strs = spark.createDataFrame(
        [(f"{c}{i}", i) for c in "abcd" for i in range(25)], "k string, n long"
    )
    ts = VersionedTable(spark, str(tmp_path / "truncs"))
    ts.write(strs, partition_truncate=("k", 1))
    hit = ts.scan(filters=[("k", "=", "b7")])
    assert [(r.k, r.n) for r in hit.collect()] == [("b7", 7)]
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "walden_p_trunc" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    several = ts.scan(filters=[("k", "in", ["a1", "c3"])])
    assert sorted(r.k for r in several.collect()) == ["a1", "c3"]

    ints = VersionedTable(spark, str(tmp_path / "trunci"))
    ints.write(_mk(spark, 1000), partition_truncate=("id", 100))
    got = sorted(r.id for r in ints.scan(filters=[("id", ">=", 850)]).collect())
    assert got == list(range(850, 1000))
    eq = ints.scan(filters=[("id", "=", 123)])
    assert [r.id for r in eq.collect()] == [123]
    assert set(ints.read().columns) == {"id", "v"}


def test_upsert_keys_single_commit(spark, vt):
    """upsert_keys: one MoR layer = equality delete on the batch's keys
    + append of the batch (Iceberg's delete-file+data-file commit)."""
    batch = spark.createDataFrame([(3, 33.0), (100, 1.0)], "id long, v double")
    v1 = vt.upsert_keys(batch, on=["id"])
    cur = {r.id: r.v for r in vt.read().collect()}
    assert cur[3] == 33.0 and cur[100] == 1.0 and len(cur) == 11
    assert vt._manifests()[-1]["operation"] == "upsert_mor"
    assert vt.read(version=0).count() == 10       # history intact
    # a second upsert of the same key wins (layer order)
    vt.upsert_keys(spark.createDataFrame([(3, 44.0)], "id long, v double"), on=["id"])
    assert {r.v for r in vt.read().filter("id = 3").collect()} == {44.0}
    with pytest.raises(ValueError, match="batch schema"):
        vt.upsert_keys(spark.createDataFrame([(1,)], "id long"), on=["id"])
    # upserts carry keys, so they three-way merge like any MoR layer
    vt.create_branch("b")
    vt.upsert_keys(spark.createDataFrame([(200, 2.0)], "id long, v double"), on=["id"], branch="b")
    vt.delete_keys(spark.createDataFrame([(4,)], "id long"), on=["id"])
    vt.merge_branch("b", into="main", keys=["id"])
    got = {r.id: r.v for r in vt.read().collect()}
    assert got[200] == 2.0 and 4 not in got


def test_three_way_merge_disjoint_keys(spark, vt):
    """Divergent branches whose MoR layers touched DISJOINT key sets
    merge content-aware: source layers replay onto the target sharing
    data files; overlapping keys or full rewrites conflict."""
    from walden_spark.timetravel import MergeConflictError

    vt.create_branch("b")
    # source branch: append 100..102, equality-delete key 0
    vt.append(spark.createDataFrame([(100 + i, -1.0) for i in range(3)], "id long, v double"), branch="b")
    vt.delete_keys(spark.createDataFrame([(0,)], "id long"), on=["id"], branch="b")
    # main: predicate-delete keys >= 8 (touched keys resolved vs base)
    vt.delete_where("id >= 8", mode="mor")
    new_head = vt.merge_branch("b", into="main", keys=["id"])
    got = sorted(r.id for r in vt.read(branch="main").collect())
    assert got == [1, 2, 3, 4, 5, 6, 7, 100, 101, 102]
    assert vt.head("main") == new_head
    # replayed manifests record provenance and share the data dirs
    merged = [m for m in vt._manifests() if m.get("merged_from")]
    assert [m["merged_from"]["branch"] for m in merged] == ["b", "b"]
    src_dirs = {m.get("data_dir") for m in vt._manifests() if m.get("branch") == "b"}
    assert {m.get("data_dir") for m in merged} <= src_dirs
    # branch b itself is untouched
    assert sorted(r.id for r in vt.read(branch="b").collect()) == list(range(1, 10)) + [100, 101, 102]


def test_three_way_merge_conflicts(spark, vt):
    from walden_spark.timetravel import MergeConflictError

    vt.create_branch("b")
    vt.update_where({"v": "v + 1"}, "id = 5", mode="mor", branch="b")
    vt.delete_keys(spark.createDataFrame([(5,)], "id long"), on=["id"])  # main touches 5 too
    with pytest.raises(MergeConflictError, match="both touched keys"):
        vt.merge_branch("b", into="main", keys=["id"])
    # a full-rewrite commit on either side also conflicts
    vt2_path = vt.path + "_full"
    t2 = VersionedTable(spark, vt2_path)
    t2.write(spark.createDataFrame([(i, 0.0) for i in range(5)], "id long, v double"))
    t2.create_branch("b")
    t2.append(spark.createDataFrame([(100, 0.0)], "id long, v double"), branch="b")
    t2.delete_where("id = 0")  # cow rewrite on main
    with pytest.raises(MergeConflictError, match="full-rewrite"):
        t2.merge_branch("b", into="main", keys=["id"])


def test_merge_replay_survives_source_expiry(spark, vt):
    """After a three-way merge, expiring the source branch's manifests
    must not delete data dirs the replayed commits still reference."""
    vt.create_branch("b")
    vt.append(spark.createDataFrame([(100, -1.0)], "id long, v double"), branch="b")
    vt.delete_where("id >= 9", mode="mor")  # diverge main
    vt.merge_branch("b", into="main", keys=["id"])
    vt.delete_ref("branch", "b")
    vt.compact()  # main head becomes a full snapshot
    vt.expire_versions(keep_last=2)
    assert 100 in {r.id for r in vt.read().collect()}
    # replayed layer version itself still readable if retained
    ms = vt._manifests()
    assert all(
        m.get("data_dir") is None or len(vt.spark.read.parquet(m["data_dir"]).columns) > 0
        for m in ms
    )


def test_versioned_catalog_atomic_cross_table_merge(spark, tmp_path):
    """Nessie's catalog-level pitch: one branch versions several tables;
    the merge applies every table's changes or none (validate-then-
    apply: a conflict on ANY table aborts before any pointer moves)."""
    from walden_spark.timetravel import MergeConflictError, VersionedCatalog

    cat = VersionedCatalog(spark, str(tmp_path / "cat"))
    a, b = cat.table("a"), cat.table("b")
    a.write(spark.createDataFrame([(i, 0.0) for i in range(5)], "id long, v double"))
    b.write(spark.createDataFrame([(i, "x") for i in range(5)], "id long, s string"))
    pins = cat.create_branch("etl", ["a", "b"])
    assert pins == {"a": 0, "b": 0}
    with pytest.raises(Exception):
        cat.create_branch("etl", ["a"])  # ref file is the claim
    # partial failure rolls back: table a has no 'stale' branch after b
    # (which already carries one) aborts the catalog create
    b.create_branch("stale")
    with pytest.raises(ValueError):
        cat.create_branch("stale", ["a", "b"])
    with pytest.raises(ValueError):
        a.head("stale")  # a's branch was rolled back

    # commit on BOTH tables on the branch
    a.write(a.read(branch="etl").filter("id < 3"), branch="etl")
    b.write(b.read(branch="etl").filter("id >= 3"), branch="etl")
    assert cat.head("etl") == {"a": 1, "b": 1}

    # diverge table b on main → whole-catalog merge aborts, nothing moves
    b.write(b.read(branch="main").filter("id <> 0"), branch="main")
    with pytest.raises(MergeConflictError, match="no table was merged"):
        cat.merge("etl", into="main")
    assert a.head("main") == 0 and b.head("main") == 2  # untouched

    # fresh catalog where both tables fast-forward: merged together
    cat2 = VersionedCatalog(spark, str(tmp_path / "cat2"))
    for n in ("x", "y"):
        cat2.table(n).write(spark.createDataFrame([(1, 1.0)], "id long, v double"))
    cat2.create_branch("etl", ["x", "y"])
    cat2.table("x").append(spark.createDataFrame([(2, 2.0)], "id long, v double"), branch="etl")
    cat2.table("y").append(spark.createDataFrame([(3, 3.0)], "id long, v double"), branch="etl")
    out = cat2.merge("etl", into="main")
    assert out == {"x": 1, "y": 1}
    assert cat2.table("x").read(branch="main").count() == 2
    assert cat2.table("y").read(branch="main").count() == 2


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    """Delta SHALLOW CLONE analog: the clone references the source's
    files (zero copy, O(manifest chain) incl. MoR layers), reads equal
    the source at clone time, both sides then diverge freely — and the
    clone's own GC never deletes source-owned dirs."""
    import os

    from walden_spark.timetravel import VersionedTable

    src = VersionedTable(spark, str(tmp_path / "clsrc"))
    src.write(spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, v double"))
    src.delete_keys(spark.createDataFrame([(0,), (1,)], "id long"), on=["id"])  # MoR layer
    want = sorted(r.id for r in src.read().collect())

    clone = src.shallow_clone(str(tmp_path / "clone"))
    assert sorted(r.id for r in clone.read().collect()) == want
    # zero copy: the clone directory holds no data files of its own
    assert not os.path.isdir(str(tmp_path / "clone" / "data"))
    with pytest.raises(ValueError, match="not empty"):
        src.shallow_clone(str(tmp_path / "clone"))

    # divergence both ways
    clone.append(spark.createDataFrame([(100, 1.0)], "id long, v double"))
    src.append(spark.createDataFrame([(200, 2.0)], "id long, v double"))
    assert 100 not in {r.id for r in src.read().collect()}
    assert 200 not in {r.id for r in clone.read().collect()}
    assert sorted(r.id for r in clone.read().collect()) == want + [100]

    # the clone's GC must not delete SOURCE data it references
    clone.compact()
    clone.expire_versions(keep_last=1)
    assert sorted(r.id for r in src.read().collect()) == want + [200]

    # cloning a pinned VERSION clones that snapshot, not the head
    c0 = src.shallow_clone(str(tmp_path / "clone0"), version=0)
    assert c0.read().count() == 10


def test_partition_spec_evolution_prunes_per_layer(spark, tmp_path):
    """Iceberg partition SPEC EVOLUTION: each layer's manifest records
    its own transform; changing the spec is a metadata decision on the
    next append, never a rewrite — and scan() prunes every layer under
    the spec its files were written with (day-partitioned base, month-
    partitioned appends here)."""
    from walden_spark.timetravel import VersionedTable

    base = spark.sql(
        "SELECT id, timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,CAST(id AS INT),0,0,0) AS ts "
        "FROM range(0, 10)"  # 10 daily rows in Jan
    )
    later = spark.sql(
        "SELECT id, timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0,0) + make_interval(0,CAST(id - 100 AS INT),0,0,0,0,0) AS ts "
        "FROM range(100, 103)"  # monthly rows from Mar
    )
    t = VersionedTable(spark, str(tmp_path / "specevo"))
    t.write(base, partition_day="ts")
    t.append(later, partition_time=("ts", "month"))
    assert set(t.read().columns) == {"id", "ts"}  # both hidden fields invisible
    assert t.read().count() == 13

    got = t.scan(filters=[("ts", ">=", "2024-03-01 00:00:00")])
    assert sorted(r.id for r in got.collect()) == [100, 101, 102]
    plan = got._jdf.queryExecution().executedPlan().toString()
    # each side of the union prunes under ITS OWN spec
    assert "walden_p_day" in plan and "walden_p_time" in plan

    early = t.scan(filters=[("ts", "<", "2024-01-05 00:00:00")])
    assert sorted(r.id for r in early.collect()) == [0, 1, 2, 3]


def test_catalog_branch_schema_change_merges_atomically(spark, tmp_path):
    """VERDICT r05 next-round #8: table SCHEMAS are branch-pinned —
    a schema change is a lineage commit like any data commit, so a
    branch that renames a column on one table and writes data to
    another merges ALL-OR-NOTHING: the fast-forward publishes rename +
    data together (under one set of CAS claims), and a diverged table
    aborts the whole merge with neither schema nor data moved."""
    from walden_spark.timetravel import MergeConflictError, VersionedCatalog

    cat = VersionedCatalog(spark, str(tmp_path / "scat"))
    a, b = cat.table("a"), cat.table("b")
    a.write(spark.createDataFrame([(1, 1.0)], "id long, v double"))
    b.write(spark.createDataFrame([(1, "x")], "id long, s string"))
    cat.create_branch("dev", ["a", "b"])
    # branch work: rename on a (+ data under the NEW name), data on b
    a.rename_column("v", "val", branch="dev")
    a.append(spark.createDataFrame([(2, 2.0)], "id long, val double"), branch="dev")
    b.append(spark.createDataFrame([(2, "y")], "id long, s string"), branch="dev")
    # main still serves the OLD schema until the merge publishes
    assert a.read(branch="main").columns == ["id", "v"]
    out = cat.merge("dev", into="main")
    assert a.read(branch="main").columns == ["id", "val"]
    assert a.read(branch="main").count() == 2
    assert sorted(r.s for r in b.read(branch="main").collect()) == ["x", "y"]
    # scan filters on the renamed column still prune into pre-rename files
    assert sorted(r.id for r in a.scan(filters=[("val", ">=", 1.0)]).collect()) == [1, 2]

    # conflict case: rename staged on a branch + concurrent main commit
    # on the SAME table → whole merge aborts; schema and data unmoved
    cat2 = VersionedCatalog(spark, str(tmp_path / "scat2"))
    x, y = cat2.table("x"), cat2.table("y")
    x.write(spark.createDataFrame([(1, 1.0)], "id long, v double"))
    y.write(spark.createDataFrame([(1, "x")], "id long, s string"))
    cat2.create_branch("dev", ["x", "y"])
    x.rename_column("v", "val", branch="dev")
    y.append(spark.createDataFrame([(2, "y")], "id long, s string"), branch="dev")
    x.append(spark.createDataFrame([(9, 9.0)], "id long, v double"))  # main moves
    with pytest.raises(MergeConflictError):
        cat2.merge("dev", into="main")
    assert x.read(branch="main").columns == ["id", "v"]  # schema unmoved
    assert y.read(branch="main").count() == 1            # data unmoved


def test_sql_time_travel_syntax(spark, tmp_path):
    """Trino/Iceberg `FOR VERSION AS OF` / `FOR TIMESTAMP AS OF` SQL
    surface over a registered VersionedTable, including branch/tag
    names as quoted versions."""
    from walden_spark.session import WaldenSession

    ws = WaldenSession(spark)
    t = VersionedTable(spark, str(tmp_path / "sqltt"))
    t.write(spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, v double"))
    t.create_tag("release-0")
    t.delete_where("id >= 5")                       # v1
    ws.register_versioned("tt", t.path)

    assert ws.sql("SELECT COUNT(*) AS n FROM tt").collect()[0].n == 5
    assert ws.sql("SELECT COUNT(*) AS n FROM tt FOR VERSION AS OF 0").collect()[0].n == 10
    assert ws.sql("SELECT COUNT(*) AS n FROM tt FOR VERSION AS OF 'release-0'").collect()[0].n == 10
    import datetime

    # a probe instant strictly between the two commits (a fixed offset
    # from v0 flaked when v1 committed faster than the offset)
    ts_v0, ts_v1 = (m["timestamp"] for m in t._manifests())
    iso = datetime.datetime.fromtimestamp(
        (ts_v0 + ts_v1) / 2, tz=datetime.timezone.utc
    ).isoformat()
    q = f"SELECT COUNT(*) AS n FROM tt FOR TIMESTAMP AS OF TIMESTAMP '{iso}'"
    assert ws.sql(q).collect()[0].n == 10
    # joins mixing travel and current state work in one statement
    both = ws.sql(
        "SELECT COUNT(*) AS n FROM tt a JOIN (SELECT id FROM tt FOR VERSION AS OF 0) b ON a.id = b.id"
    ).collect()[0].n
    assert both == 5
    with pytest.raises(ValueError):
        ws.sql("SELECT * FROM tt FOR VERSION AS OF 'no-such-ref'")


def test_sql_dml_on_versioned_table(spark, tmp_path):
    """Trino allow_dml-on-Iceberg surface: DELETE / UPDATE / INSERT
    issued as SQL against a registered versioned table commit
    merge-on-read snapshots; SELECT sees the new state, time travel
    still serves every prior version."""
    from walden_spark.session import WaldenSession

    ws = WaldenSession(spark)
    t = VersionedTable(spark, str(tmp_path / "dml"))
    t.write(spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, v double"))
    ws.register_versioned("vdml", t.path)

    r = ws.sql("DELETE FROM vdml WHERE id >= 8").collect()[0]
    assert (r.table, r.version) == ("vdml", 1)
    assert ws.sql("SELECT COUNT(*) AS n FROM vdml").collect()[0].n == 8

    ws.sql("UPDATE vdml SET v = v * 10 WHERE id < 2")
    got = {r.id: r.v for r in ws.sql("SELECT id, v FROM vdml").collect()}
    assert got[0] == 0.0 and got[1] == 10.0 and got[5] == 5.0

    ws.sql("INSERT INTO vdml VALUES (100, 1.5), (101, 2.5)")
    assert ws.sql("SELECT COUNT(*) AS n FROM vdml").collect()[0].n == 10
    ws.sql("INSERT INTO vdml SELECT id + 200, v FROM vdml WHERE id < 2")
    assert ws.sql("SELECT COUNT(*) AS n FROM vdml").collect()[0].n == 12

    # history intact through the SQL DML stack
    assert ws.sql("SELECT COUNT(*) AS n FROM vdml FOR VERSION AS OF 0").collect()[0].n == 10
    assert ws.sql("SELECT COUNT(*) AS n FROM vdml FOR VERSION AS OF 1").collect()[0].n == 8
    ops = [m["operation"] for m in t._manifests()]
    assert ops == ["write", "delete_mor", "update_mor", "append", "append"]
    # DML on non-registered names falls through to Spark untouched
    import pytest as _pt

    with _pt.raises(Exception):
        ws.sql("DELETE FROM not_registered WHERE x = 1")


def test_sql_time_travel_naive_literal_is_utc(spark, tmp_path):
    """A naive FOR TIMESTAMP AS OF literal means UTC (manifests record
    UTC, session TZ is UTC) — it must resolve the same snapshot on ANY
    host timezone. Pre-r05, fromisoformat(...).timestamp() read naive
    literals in the host's LOCAL zone (ADVICE r04 medium)."""
    import datetime
    import os
    import time as _time

    from walden_spark.session import WaldenSession

    ws = WaldenSession(spark)
    t = VersionedTable(spark, str(tmp_path / "tztt"))
    t.write(spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, v double"))
    t.delete_where("id >= 5")
    ws.register_versioned("tz_tt", t.path)
    ts_v0, ts_v1 = (m["timestamp"] for m in t._manifests())
    naive_utc = (
        datetime.datetime.fromtimestamp((ts_v0 + ts_v1) / 2, tz=datetime.timezone.utc)
        .replace(tzinfo=None)
        .isoformat()
    )
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "Pacific/Kiritimati"  # UTC+14, no DST
    _time.tzset()
    try:
        q = f"SELECT COUNT(*) AS n FROM tz_tt FOR TIMESTAMP AS OF TIMESTAMP '{naive_utc}'"
        assert ws.sql(q).collect()[0].n == 10
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()


def test_remove_orphans(spark, vt, tmp_path):
    """Orphan cleanup: an unreferenced staged dir (crashed writer
    debris) is removed once past the age horizon; referenced snapshot
    dirs and fresh stages survive."""
    import os
    import time

    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    orphan = f"{vt.path}/data/v=99-deadbeef"
    df.write.parquet(orphan)
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    fresh = f"{vt.path}/data/v=98-cafecafe"
    df.write.parquet(fresh)  # in-flight stage: younger than horizon

    removed = vt.remove_orphans(older_than_s=3600)
    assert removed == [orphan]
    assert not os.path.exists(orphan)
    assert os.path.exists(fresh)           # too young to reap
    assert vt.read().count() == 10         # committed data untouched


def test_hidden_bucket_partitioning(spark, tmp_path):
    """Iceberg bucket transform: point lookups on the source column
    prune to one bucket directory the reader never sees."""
    t = VersionedTable(spark, str(tmp_path / "bucketed"))
    df = spark.range(10_000).select(
        F.col("id").alias("user_id"), (F.col("id") % 13).cast("double").alias("v")
    )
    t.write(df, partition_bucket=("user_id", 16))
    out = t.read()
    assert set(out.columns) == {"user_id", "v"}

    hit = t.scan(filters=[("user_id", "=", 4242)])
    rows = hit.collect()
    assert [(r.user_id, r.v) for r in rows] == [(4242, float(4242 % 13))]
    plan = hit._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "walden_p_bucket" in pf, "equality filter must prune to one bucket"

    several = t.scan(filters=[("user_id", "in", [1, 2, 9999])])
    assert sorted(r.user_id for r in several.collect()) == [1, 2, 9999]


def test_scan_pruning_never_changes_results(spark, tmp_path):
    """Property: for ANY combination of range/equality/IN filters,
    scan(filters) must return exactly read().filter(same predicate) —
    file pruning may only skip files that provably hold no matches."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    t = VersionedTable(spark, str(tmp_path / "prop"))
    t.write(_mk(spark, 500).repartitionByRange(6, "id"))

    flt = st.one_of(
        st.tuples(st.just("id"), st.sampled_from([">=", ">", "<=", "<", "="]),
                  st.integers(-50, 550)),
        st.tuples(st.just("id"), st.just("in"),
                  st.lists(st.integers(0, 520), min_size=1, max_size=5)),
        st.tuples(st.just("v"), st.sampled_from([">=", "<"]),
                  st.integers(0, 7).map(float)),
    )

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(filters=st.lists(flt, min_size=1, max_size=3))
    def run(filters):
        from walden_spark.timetravel import _filters_to_column

        got = {tuple(r) for r in t.scan(filters=filters).collect()}
        want = {
            tuple(r)
            for r in t.read().filter(_filters_to_column(filters)).collect()
        }
        assert got == want, filters

    run()


def test_scan_pruning_through_delete_stack_property(spark, tmp_path):
    """Property: scan(filters) ≡ read().filter(...) THROUGH a stack of
    equality-delete + position-delete + append layers — file pruning in
    the base may never interact wrongly with delete-layer anti-joins."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from walden_spark.timetravel import _filters_to_column

    t = VersionedTable(spark, str(tmp_path / "delprop"))
    t.write(_mk(spark, 400).repartitionByRange(5, "id"))
    t.delete_keys(
        spark.createDataFrame([(i,) for i in range(0, 400, 7)], "id long"), on=["id"]
    )
    t.delete_positions_where("id % 11 = 3")
    t.append(spark.createDataFrame([(500 + i, -1.0) for i in range(20)], "id long, v double"))

    flt = st.one_of(
        st.tuples(st.just("id"), st.sampled_from([">=", ">", "<=", "<", "="]),
                  st.integers(-10, 540)),
        st.tuples(st.just("id"), st.just("in"),
                  st.lists(st.integers(0, 520), min_size=1, max_size=5)),
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(filters=st.lists(flt, min_size=1, max_size=2))
    def run(filters):
        got = {tuple(r) for r in t.scan(filters=filters).collect()}
        want = {
            tuple(r) for r in t.read().filter(_filters_to_column(filters)).collect()
        }
        assert got == want, filters

    run()


def test_sort_by_write_makes_pruning_selective(spark, tmp_path):
    """Iceberg write-ordering premise, measured: range-clustered files
    carry disjoint stat ranges, so a point/range scan skips most files;
    the same data written unclustered prunes nothing."""
    data = _mk(spark, 4000).withColumn("id", (F.col("id") * 7919) % 4000)  # scrambled
    messy = VersionedTable(spark, str(tmp_path / "messy"))
    messy.write(data.repartition(8))                       # value ranges overlap
    tidy = VersionedTable(spark, str(tmp_path / "tidy"))
    tidy.write(data, sort_by=["id"], n_files=8)            # disjoint ranges

    flt = [("id", ">=", 3600)]
    n_messy = len(messy.scan(filters=flt).inputFiles())
    n_tidy = len(tidy.scan(filters=flt).inputFiles())
    assert n_messy == 8                                    # nothing skippable
    assert n_tidy <= 2                                     # ~1/8 of the table
    assert (
        sorted(r.id for r in tidy.scan(filters=flt).collect())
        == sorted(r.id for r in messy.scan(filters=flt).collect())
    )


def test_timestamp_stats_prune_exact_boundaries(spark, tmp_path):
    """Manifest pruning on a timestamp column at exact file boundaries:
    Spark's TIMESTAMP_MICROS footers yield tz-aware stats while filter
    literals are naive — the pre-r05 isoformat-string compare mis-
    ordered them and silently PRUNED matching files. Stats are now UTC
    epoch micros; a boundary-equal filter must keep the file."""
    import datetime

    t = VersionedTable(spark, str(tmp_path / "tsstats"))
    rows = spark.sql(
        "SELECT id, timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,CAST(id AS INT),0) AS ts "
        "FROM range(0, 240)"  # 4 hours of minutely rows
    )
    t.write(rows, sort_by=["ts"], n_files=4)
    m = t._manifests()[-1]
    stats = m["files"][0]["stats"]["ts"]
    assert isinstance(stats[0], dict) and isinstance(stats[0]["v"], int)

    # file 0 spans minutes [0, 60): its min is exactly 00:00:00
    lo = datetime.datetime(2024, 3, 1, 0, 0, 0)  # naive literal
    hit = t.scan(filters=[("ts", "<=", lo)])
    assert len(hit.inputFiles()) == 1
    assert hit.count() == 1                       # the boundary row itself
    eq = t.scan(filters=[("ts", "=", datetime.datetime(2024, 3, 1, 2, 0, 0))])
    assert eq.count() == 1
    # range query still prunes: last hour only touches the last file(s)
    late = t.scan(filters=[("ts", ">=", datetime.datetime(2024, 3, 1, 3, 0, 0))])
    assert late.count() == 60
    assert len(late.inputFiles()) <= 2


def test_distributed_stats_collection(spark, tmp_path):
    """A snapshot with more files than the distribution threshold must
    produce identical manifest stats via the executor fan-out path."""
    from walden_spark import timetravel as tt

    t = VersionedTable(spark, str(tmp_path / "manyfiles"))
    t.write(_mk(spark, 2000).repartitionByRange(80, "id"))  # 80 > threshold
    m = t._manifests()[-1]
    assert len(m["files"]) == 80
    driver_side = tt._collect_file_stats(m["data_dir"], spark=None)
    assert m["files"] == driver_side  # same stats either path
    assert len(t.scan(filters=[("id", ">=", 1975)]).inputFiles()) <= 2


def test_append_schema_evolution(spark, vt):
    """MoR append with a new column: refused without the flag; with it,
    readers see the widened schema with NULL backfill, and historical
    versions keep their original schema."""
    widened = spark.createDataFrame(
        [(100, 1.0, "x")], "id long, v double, tag string"
    )
    with pytest.raises(ValueError, match="schema drift"):
        vt.append(widened)
    vt.append(widened, allow_schema_evolution=True)
    cur = vt.read()
    assert set(cur.columns) == {"id", "v", "tag"}
    by_id = {r.id: r.tag for r in cur.collect()}
    assert by_id[100] == "x" and by_id[0] is None   # old rows NULL-backfilled
    assert set(vt.read(version=0).columns) == {"id", "v"}  # history keeps schema

    # dropping a column is also evolution: batch without 'v'
    narrow = spark.createDataFrame([(200, "y")], "id long, tag string")
    vt.append(narrow, allow_schema_evolution=True)
    got = {r.id: (r.v, r.tag) for r in vt.read().collect()}
    assert got[200] == (None, "y")
    assert got[100] == (1.0, "x")


def test_history_metadata_columns(spark, vt):
    """history() exposes lineage, layer kind, and write accounting."""
    vt.append(spark.createDataFrame([(50, 5.0)], "id long, v double"))
    vt.delete_where("id >= 5", mode="mor")
    h = {r.version: r for r in vt.history().collect()}
    assert h[0].operation == "write" and not h[0].merge_on_read
    assert h[0].n_rows_written == 10 and h[0].n_files > 0
    assert h[1].operation == "append" and h[1].merge_on_read
    assert h[1].n_rows_written == 1 and h[1].parent == 0
    assert h[2].operation == "delete_mor" and h[2].predicate == "id >= 5"
    assert h[2].n_files == 0 and h[2].n_rows_written == 0
    assert all(r.branch == "main" for r in h.values())


def test_rename_column_tracked_across_snapshots(spark, vt):
    """Field-id-style RENAME: metadata-only commit; pre-rename
    snapshots keep the old name, post-rename reads and appends use the
    new one, and delete layers on either side of the rename bind to
    the names as of their own commit."""
    vt.delete_keys(spark.createDataFrame([(9,)], "id long"), on=["id"])  # v1
    v_ren = vt.rename_column("v", "score")                               # v2
    assert v_ren == 2
    head = vt.read()
    assert head.columns == ["id", "score"]
    assert head.count() == 9
    # time travel: pre-rename version still shows the old name
    assert vt.read(version=1).columns == ["id", "v"]
    assert vt.read(version=0).count() == 10
    # appends after the rename are written under the new name
    vt.append(spark.createDataFrame([(100, 1.5)], "id long, score double"))
    got = {r.id: r.score for r in vt.read().collect()}
    assert got[100] == 1.5 and got[0] == 0.0
    # equality delete AFTER the rename still hits pre-rename rows
    vt.delete_keys(spark.createDataFrame([(3,)], "id long"), on=["id"])
    assert vt.read().filter("id = 3").count() == 0
    # predicate delete referencing the NEW name applies to old rows too
    vt.delete_where("score > 7.5", mode="mor")
    assert sorted(r.id for r in vt.read().collect()) == [0, 1, 2, 4, 5, 6, 7, 100]
    # compact materializes under the head schema; history stays intact
    vt.compact()
    assert vt.read().columns == ["id", "score"]
    assert vt.read(version=0).columns == ["id", "v"]


def test_rename_column_validation_and_merge_conflict(spark, vt):
    with pytest.raises(ValueError):
        vt.rename_column("nope", "x")
    with pytest.raises(ValueError):
        vt.rename_column("v", "id")
    # a rename on a divergent branch conflicts in a keyed three-way
    # merge (schema changes are not key-mergeable)
    from walden_spark.timetravel import MergeConflictError

    vt.create_branch("dev")
    vt.rename_column("v", "score", branch="dev")
    vt.delete_keys(spark.createDataFrame([(0,)], "id long"), on=["id"])  # main diverges
    with pytest.raises(MergeConflictError):
        vt.merge_branch("dev", into="main", keys=["id"])


def test_rename_scan_filters_translate_to_old_files(spark, tmp_path):
    """scan() on the new name prunes pre-rename files: filters are
    translated back to the old physical name below the rename layer, so
    footer-stat pruning keeps firing on old files AND the residual
    predicate binds correctly on both sides of the rename."""
    t = VersionedTable(spark, str(tmp_path / "tblr"))
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], "id long, metric double"
    )
    t.write(df, sort_by=["id"], n_files=8)
    t.rename_column("id", "row_id")
    t.append(
        spark.createDataFrame([(5000, 1.0)], "row_id long, metric double")
    )
    got = t.scan(filters=[("row_id", ">=", 900)])
    assert got.columns == ["row_id", "metric"]
    assert sorted(r.row_id for r in got.collect()) == list(range(900, 1000)) + [5000]
    # equivalence with read().filter() — the scan-pruning contract
    want = t.read().filter("row_id >= 900")
    assert sorted(r.row_id for r in want.collect()) == sorted(
        r.row_id for r in got.collect()
    )


def test_sql_alter_table_rename_column(spark, tmp_path):
    """Iceberg ALTER TABLE ... RENAME COLUMN through the SQL surface:
    metadata-only commit, new name live for SELECT and later DML, old
    name intact under time travel."""
    from walden_spark.session import WaldenSession

    ws = WaldenSession(spark)
    t = VersionedTable(spark, str(tmp_path / "ren"))
    t.write(spark.createDataFrame([(i, float(i)) for i in range(5)], "id long, v double"))
    ws.register_versioned("vren", t.path)

    r = ws.sql("ALTER TABLE vren RENAME COLUMN v TO score").collect()[0]
    assert (r.table, r.version) == ("vren", 1)
    assert ws.sql("SELECT id, score FROM vren WHERE score >= 3").count() == 2
    ws.sql("UPDATE vren SET score = score + 100 WHERE id = 0")
    assert ws.sql("SELECT score FROM vren WHERE id = 0").collect()[0].score == 100.0
    # pre-rename snapshot serves the old name
    assert ws.sql(
        "SELECT v FROM vren FOR VERSION AS OF 0 WHERE id = 0"
    ).collect()[0].v == 0.0
    # non-registered tables fall through to Spark
    import pytest as _pt

    with _pt.raises(Exception):
        ws.sql("ALTER TABLE not_registered RENAME COLUMN a TO b")


def test_zorder_rewrite_skips_on_every_dimension(spark, tmp_path):
    """rewrite_zorder: after the Morton-curve rewrite, footer stats
    prune files for narrow range filters on EACH clustered dimension;
    a linear sort_by layout only ever prunes its leading column. Also:
    the rewrite is a plain snapshot — row content is unchanged."""
    from walden_spark.timetravel import _file_may_match
    import random

    rng = random.Random(7)
    rows = [(rng.randrange(10_000), rng.randrange(10_000)) for _ in range(40_000)]
    df = spark.createDataFrame(rows, "x long, y long")

    lin = VersionedTable(spark, str(tmp_path / "lin"))
    lin.write(df, sort_by=["x"], n_files=16)
    zo = VersionedTable(spark, str(tmp_path / "zo"))
    zo.write(df)
    zo.rewrite_zorder(["x", "y"], bits=4, n_files=16)

    def kept(t, filters):
        files = t._manifests()[-1]["files"]
        return sum(_file_may_match(f["stats"], filters) for f in files), len(files)

    xf = [("x", ">=", 4000), ("x", "<=", 4600)]
    yf = [("y", ">=", 4000), ("y", "<=", 4600)]
    lx, ln = kept(lin, xf)
    ly, _ = kept(lin, yf)
    zx, zn = kept(zo, xf)
    zy, _ = kept(zo, yf)
    # linear: leading dim prunes hard, second dim prunes nothing
    assert lx <= ln // 4
    assert ly == ln
    # zorder: BOTH dims prune. Bound at 2/3 rather than 1/2 —
    # approxQuantile's cross-partition merge order varies run to run,
    # shifting Morton bucket boundaries slightly, and the 1/2 bound sat
    # on that noise margin (one suite-order flake in r12); the claim
    # under test is "each dimension prunes" vs linear's ly == ln, which
    # 2/3 still proves with room
    assert zx <= (2 * zn) // 3
    assert zy <= (2 * zn) // 3
    # correctness: scan ≡ read+filter through the clustered layout
    got = sorted((r.x, r.y) for r in zo.scan(filters=xf + yf).collect())
    want = sorted(
        (r.x, r.y)
        for r in zo.read().filter("x between 4000 and 4600 and y between 4000 and 4600").collect()
    )
    assert got == want and len(got) > 0
    assert zo.read().count() == 40_000


def test_versioned_catalog_branch_versioned_views(spark, tmp_path):
    """Catalog refs version VIEWS with the tables (Nessie versions view
    metadata as commits): a branch evolves a view against its own table
    pins; merge three-ways the view set — source-only edits land,
    both-sides edits conflict and abort with no partial state."""
    from walden_spark.timetravel import MergeConflictError, VersionedCatalog

    cat = VersionedCatalog(spark, str(tmp_path / "cat"))
    t = cat.table("orders_t")
    t.write(spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, v double"))
    cat.create_view("big", "SELECT id, v FROM orders_t WHERE v >= 5")
    assert cat.read_view("big").count() == 5

    cat.create_branch("etl", ["orders_t"])
    # branch evolves the view AND the data; main sees neither
    cat.create_view("big", "SELECT id, v FROM orders_t WHERE v >= 8", branch="etl")
    cat.table("orders_t").delete_keys(
        spark.createDataFrame([(9,)], "id long"), on=["id"], branch="etl"
    )
    assert cat.read_view("big", branch="etl").count() == 1   # v8 only (9 deleted)
    assert cat.read_view("big").count() == 5                 # main untouched
    # a NEW view created only on the branch merges in too
    cat.create_view("tiny", "SELECT id FROM orders_t WHERE v < 1", branch="etl")

    cat.merge("etl")
    assert cat.read_view("big").count() == 1
    assert cat.read_view("tiny").count() == 1
    assert "tiny" in cat.views()

    # conflict: both sides edit the same view after a fresh branch
    cat.create_branch("etl2", ["orders_t"])
    cat.create_view("big", "SELECT id FROM orders_t", branch="etl2")
    cat.create_view("big", "SELECT v FROM orders_t")  # main edits too
    with pytest.raises(MergeConflictError):
        cat.merge("etl2")
    # aborted cleanly: main's own edit still served
    assert cat.views()["big"] == "SELECT v FROM orders_t"


def test_read_changes_cdf(spark, vt):
    """Change data feed: (from, to] semantics, insert/delete rows per
    commit; MoR layers replay O(delta); compact emits nothing; CoW
    rewrites fall back to an exact multiset diff."""
    vt.append(spark.createDataFrame([(100, 1.0)], "id long, v double"))        # v1
    vt.delete_keys(spark.createDataFrame([(0,), (1,)], "id long"), on=["id"])  # v2
    vt.update_where({"v": "v + 0.5"}, "id = 2", mode="mor")                    # v3
    vt.compact()                                                               # v4
    vt.delete_where(F.col("id") >= 100)                                        # v5 CoW

    ch = vt.read_changes(0).collect()
    got = sorted((r._commit_version, r._change_type, r.id) for r in ch)
    assert got == [
        (1, "insert", 100),
        (2, "delete", 0), (2, "delete", 1),
        (3, "delete", 2), (3, "insert", 2),
        (5, "delete", 100),
    ]
    # post-image of the update carried the new value
    post = [r.v for r in ch if r._commit_version == 3 and r._change_type == "insert"]
    assert post == [2.5]
    # sub-range: only v2's deletes
    sub = vt.read_changes(1, 2).collect()
    assert sorted(r.id for r in sub) == [0, 1]
    assert {r._change_type for r in sub} == {"delete"}
    # empty range over a physical-only rewrite
    assert vt.read_changes(3, 4).count() == 0
    # CDF replay reconstructs the head state from the base snapshot
    base = {r.id: r.v for r in vt.read(version=0).collect()}
    for r in sorted(ch, key=lambda r: r._commit_version):
        if r._change_type == "delete":
            base.pop(r.id)
        else:
            base[r.id] = r.v
    head = {r.id: r.v for r in vt.read().collect()}
    assert base == head


def test_read_changes_eq_delete_run_matches_key_set(spark, tmp_path, monkeypatch):
    """Consecutive equality deletes on the key SET (a, b), given as
    ['a', 'b'] and then ['b', 'a'], form one run: read_changes takes
    the batched run path and returns exactly the materialized feed."""
    t = VersionedTable(spark, str(tmp_path / "eqrun"))
    t.enable_cdf()
    t.write(
        spark.createDataFrame(
            [(a, b, float(10 * a + b)) for a in range(4) for b in range(3)],
            "a long, b long, v double",
        )
    )
    t.delete_keys(spark.createDataFrame([(0, 1), (2, 2)], "a long, b long"), on=["a", "b"])
    t.delete_keys(spark.createDataFrame([(0, 1), (2, 3)], "b long, a long"), on=["b", "a"])
    runs = []
    real = VersionedTable._eq_delete_run_changes

    def spy(self, run, by_v, head_cols):
        runs.append([m["version"] for m in run])
        return real(self, run, by_v, head_cols)

    monkeypatch.setattr(VersionedTable, "_eq_delete_run_changes", spy)
    got = sorted(t.read_changes(0).collect())
    assert runs == [[1, 2]]
    assert got == sorted(t.read_cdf(0).collect())
    assert sorted((r.a, r.b, r._change_type, r._commit_version) for r in got) == [
        (0, 1, "delete", 1), (1, 0, "delete", 2), (2, 2, "delete", 1), (3, 2, "delete", 2),
    ]


def test_read_changes_upsert_and_rename_guard(spark, vt):
    vt.upsert_keys(
        spark.createDataFrame([(1, 10.0), (50, 5.0)], "id long, v double"), on=["id"]
    )  # v1
    ch = vt.read_changes(0, 1).collect()
    got = sorted((r._change_type, r.id, r.v) for r in ch)
    assert got == [("delete", 1, 1.0), ("insert", 1, 10.0), ("insert", 50, 5.0)]
    vt.rename_column("v", "score")  # v2
    with pytest.raises(ValueError, match="rename"):
        vt.read_changes(0)
    # after the rename, changes read fine in the new schema
    vt.delete_keys(spark.createDataFrame([(50,)], "id long"), on=["id"])  # v3
    ch2 = vt.read_changes(2).collect()
    assert [(r._change_type, r.id, r.score) for r in ch2] == [("delete", 50, 5.0)]


def test_incremental_agg_view_refresh(spark, tmp_path):
    """Incremental MV maintenance over the change feed: refresh folds
    only the delta (insert = +x, delete = -x per group), commits only
    touched groups (upsert/delete_keys — no MV rewrite after the first
    materialization), equals the full recompute after every step, and
    drops a group whose row count reaches zero."""
    from walden_spark.timetravel import IncrementalAggView, VersionedTable

    src = VersionedTable(spark, str(tmp_path / "src"))
    rows = [(i, i % 3, i * 10) for i in range(12)]
    src.write(spark.createDataFrame(rows, "id long, grp long, amount long"))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"),
        group_by=["grp"], sums={"total": "amount"},
    )

    def check():
        got = {(r.grp): (r.total, r.n_rows) for r in mv.read().collect()}
        want = {
            r.grp: (r.total, r.n_rows)
            for r in src.read()
            .groupBy("grp")
            .agg(
                F.sum("amount").alias("total"),
                F.count(F.lit(1)).alias("n_rows"),
            )
            .collect()
        }
        assert got == want, (got, want)

    mv.refresh()
    check()
    # delta ops on the source, then incremental refreshes
    src.append(spark.createDataFrame([(100, 0, 5), (101, 7, 9)], "id long, grp long, amount long"))
    src.delete_keys(spark.createDataFrame([(3,), (6,)], "id long"), on=["id"])
    mv.refresh()
    check()
    src.upsert_keys(
        spark.createDataFrame([(0, 0, 1000), (102, 7, 1)], "id long, grp long, amount long"),
        on=["id"],
    )
    mv.refresh()
    check()
    # group elimination: remove every grp=7 row → group vanishes from MV
    src.delete_keys(spark.createDataFrame([(101,), (102,)], "id long"), on=["id"])
    mv.refresh()
    check()
    assert mv.read().filter("grp = 7").count() == 0
    # refresh history after materialization is MoR-only on the MV table
    ops = [m["operation"] for m in mv.table._manifests()]
    assert ops[0] == "mv_materialize"
    assert all(op in ("upsert_mor", "delete_keys_mor") for op in ops[1:])
    # idempotent when source hasn't moved
    v = mv.refresh()
    assert v == src.current_version() and len(mv.table._manifests()) == len(ops)


def test_sql_maintenance_statements(spark, tmp_path):
    """Delta/Trino-style SQL maintenance on versioned tables:
    OPTIMIZE (compact), OPTIMIZE ... ZORDER BY (clustering rewrite),
    VACUUM RETAIN n VERSIONS (expiry + orphan sweep), DESCRIBE
    HISTORY. Non-registered names fall through to Spark."""
    from walden_spark.session import WaldenSession

    ws = WaldenSession(spark)
    t = VersionedTable(spark, str(tmp_path / "maint"))
    t.write(spark.createDataFrame([(i, i % 50) for i in range(2000)], "x long, y long"))
    ws.register_versioned("vm", t.path)

    ws.sql("DELETE FROM vm WHERE x >= 1500")                     # v1 MoR
    r = ws.sql("OPTIMIZE vm").collect()[0]
    assert (r.table, r.version) == ("vm", 2)
    assert t._manifests()[-1]["operation"] == "compact"

    r = ws.sql("OPTIMIZE vm ZORDER BY (x, y)").collect()[0]
    assert r.version == 3
    assert t._manifests()[-1]["operation"] == "zorder"
    assert ws.sql("SELECT COUNT(*) AS n FROM vm").collect()[0].n == 1500

    hist = ws.sql("DESCRIBE HISTORY vm")
    ops = [row.operation for row in hist.orderBy("version").collect()]
    assert ops == ["write", "delete_mor", "compact", "zorder"]

    r = ws.sql("VACUUM vm RETAIN 2 VERSIONS").collect()[0]
    assert r.expired_versions >= 1
    assert ws.sql("SELECT COUNT(*) AS n FROM vm").collect()[0].n == 1500

    import pytest as _pt

    with _pt.raises(Exception):
        ws.sql("OPTIMIZE not_registered")


def test_sql_merge_into_versioned_table(spark, tmp_path):
    """MERGE INTO ... USING ... ON ... WHEN MATCHED THEN UPDATE SET *
    [WHEN NOT MATCHED THEN INSERT *] commits one merge snapshot
    (upsert-by-key subset of the Trino/Delta MERGE grammar)."""
    from walden_spark.session import WaldenSession

    ws = WaldenSession(spark)
    t = VersionedTable(spark, str(tmp_path / "mrg"))
    t.write(spark.createDataFrame([(i, float(i)) for i in range(5)], "id long, v double"))
    ws.register_versioned("vt_m", t.path)
    spark.createDataFrame(
        [(1, 100.0), (99, 9.9)], "id long, v double"
    ).createOrReplaceTempView("src_m")

    r = ws.sql(
        "MERGE INTO vt_m t USING src_m s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    ).collect()[0]
    assert (r.table, r.version) == ("vt_m", 1)
    got = {row.id: row.v for row in ws.sql("SELECT * FROM vt_m").collect()}
    assert got[1] == 100.0 and got[99] == 9.9 and len(got) == 6

    # matched-only: no insert clause → id 98 not added
    spark.createDataFrame([(0, -1.0), (98, 8.0)], "id long, v double").createOrReplaceTempView("src_m2")
    ws.sql("MERGE INTO vt_m t USING src_m2 s ON t.id = s.id WHEN MATCHED THEN UPDATE SET *")
    got = {row.id: row.v for row in ws.sql("SELECT * FROM vt_m").collect()}
    assert got[0] == -1.0 and 98 not in got

    # alias-less form routes too (table names act as their aliases)
    spark.createDataFrame([(2, 22.0)], "id long, v double").createOrReplaceTempView("src_m3")
    ws.sql("MERGE INTO vt_m USING src_m3 ON vt_m.id = src_m3.id WHEN MATCHED THEN UPDATE SET *")
    got = {row.id: row.v for row in ws.sql("SELECT * FROM vt_m").collect()}
    assert got[2] == 22.0

    # non-equi ON clause falls through to Spark (which rejects it)
    import pytest as _pt

    with _pt.raises(Exception):
        ws.sql("MERGE INTO vt_m t USING src_m s ON t.id > s.id WHEN MATCHED THEN UPDATE SET *")

    # WHEN MATCHED THEN DELETE (CDC-apply): matched keys retract as one
    # equality-delete commit; unmatched source keys are no-ops
    spark.createDataFrame([(0,), (1,), (777,)], "id long").createOrReplaceTempView("src_del")
    ws.sql("MERGE INTO vt_m t USING src_del s ON t.id = s.id WHEN MATCHED THEN DELETE")
    got = {row.id for row in ws.sql("SELECT * FROM vt_m").collect()}
    assert 0 not in got and 1 not in got and 777 not in got and 2 in got

    # WHEN NOT MATCHED BY SOURCE THEN DELETE (full-sync): rows whose
    # key the source no longer carries are removed
    spark.createDataFrame([(2,), (3,)], "id long").createOrReplaceTempView("src_sync")
    ws.sql(
        "MERGE INTO vt_m t USING src_sync s ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    got = {row.id for row in ws.sql("SELECT * FROM vt_m").collect()}
    assert got == {2, 3}


def test_incremental_mv_refresh_single_commit_and_crash_safe(spark, tmp_path):
    """VERDICT r05 "What's wrong" #2: a refresh that both retracts
    emptied groups and updates live ones lands as ONE commit (emptied
    groups ride the same upsert layer as extra equality-delete keys),
    and the source watermark is stamped INSIDE that commit — so a crash
    between the commit and the state-file write cannot double-apply the
    change range on the next refresh."""
    from walden_spark.timetravel import IncrementalAggView, VersionedTable

    src = VersionedTable(spark, str(tmp_path / "csrc"))
    src.write(
        spark.createDataFrame(
            [(i, i % 3, 10) for i in range(9)], "id long, grp long, amt long"
        )
    )
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "cmv"), group_by=["grp"], sums={"total": "amt"}
    )
    mv.refresh()

    def full():
        return {
            r.grp: (r.total, r.n_rows)
            for r in src.read()
            .groupBy("grp")
            .agg(F.sum("amt").alias("total"), F.count(F.lit(1)).alias("n_rows"))
            .collect()
        }

    # one source commit that empties grp=2 AND grows grp=0
    src.delete_keys(spark.createDataFrame([(2,), (5,), (8,)], "id long"), on=["id"])
    src.append(spark.createDataFrame([(100, 0, 7)], "id long, grp long, amt long"))
    n_before = len(mv.table._manifests())

    # crash between the view commit and the state-file write
    real_set = mv._set_last_refreshed
    def boom(v):
        raise RuntimeError("crash before state write")
    mv._set_last_refreshed = boom  # type: ignore[method-assign]
    with pytest.raises(RuntimeError, match="crash"):
        mv.refresh()
    mv._set_last_refreshed = real_set  # type: ignore[method-assign]

    # exactly ONE commit landed, retraction + upserts together, and the
    # view already reflects the source even though the state file is stale
    ms = mv.table._manifests()
    assert len(ms) == n_before + 1
    assert ms[-1]["operation"] == "upsert_mor" and ms[-1].get("extra_delete_dir")
    assert {r.grp: (r.total, r.n_rows) for r in mv.read().collect()} == full()
    assert mv.read().filter("grp = 2").count() == 0

    # the recovery refresh is a NO-OP (watermark read from the commit
    # manifest, not the stale state file) — no double-applied deltas
    assert mv.refresh() == ms[-1]["view_source_version"]
    assert len(mv.table._manifests()) == n_before + 1
    assert {r.grp: (r.total, r.n_rows) for r in mv.read().collect()} == full()

    # and the feed keeps working after recovery
    src.append(spark.createDataFrame([(101, 1, 3)], "id long, grp long, amt long"))
    mv.refresh()
    assert {r.grp: (r.total, r.n_rows) for r in mv.read().collect()} == full()


def test_cdf_files_match_computed_changes_random_ops(spark, tmp_path):
    """Property: for ANY op sequence on a cdf-enabled table, the
    MATERIALIZED change feed (read_cdf — files staged at commit time)
    is multiset-equal to the COMPUTED one (read_changes — replayed from
    layer semantics) over every commit range both can serve. Inputs
    include full-snapshot restores to v0 (restore's own exceptAll diff),
    a two-column-key table whose deletes and upserts name the key in
    reverse column order, and a closing full rewrite that drops or adds
    a column. Both feeds must also net to the head: inserts minus
    deletes over the whole history is the head snapshot."""
    from collections import Counter

    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    op = st.one_of(
        st.tuples(st.just("append"), st.lists(st.integers(200, 240), min_size=1, max_size=3)),
        st.tuples(st.just("delete"), st.lists(st.integers(0, 25), min_size=1, max_size=3)),
        st.tuples(st.just("upsert"), st.lists(st.integers(0, 30), min_size=1, max_size=3)),
        st.tuples(st.just("pdelete"), st.integers(0, 20)),
        st.tuples(st.just("rewrite"), st.integers(1, 9)),
        st.tuples(st.just("restore"), st.just(0)),
    )
    counter = [0]

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        ops=st.lists(op, min_size=1, max_size=4),
        two_key=st.booleans(),
        reshape=st.sampled_from([None, "drop", "add"]),
    )
    @example(
        ops=[("delete", [1, 2]), ("restore", 0), ("upsert", [2, 3])],
        two_key=True,
        reshape=None,
    )
    @example(ops=[("upsert", [4])], two_key=False, reshape="drop")
    @example(ops=[("delete", [5])], two_key=True, reshape="add")
    def run(ops, two_key, reshape):
        counter[0] += 1
        t = VersionedTable(spark, str(tmp_path / f"cdfeq{counter[0]}"))
        t.enable_cdf()
        # two-key table: key (id, g), always passed as on=["g", "id"]
        schema = "id long, g long, v double" if two_key else "id long, v double"
        on = ["g", "id"] if two_key else ["id"]

        def rows(pairs):
            return spark.createDataFrame(
                [(i, i % 3, v) if two_key else (i, v) for i, v in pairs], schema
            )

        def keys(ids):
            return rows((k, 0.0) for k in set(ids)).select(*on)

        t.write(rows((i, float(i)) for i in range(30)))
        fresh = [500]
        for kind, arg in ops:
            if kind == "append":
                fresh[0] += 1
                t.append(rows((fresh[0] * 100 + j, float(k)) for j, k in enumerate(arg)))
            elif kind == "delete":
                t.delete_keys(keys(arg), on=on)
            elif kind == "upsert":
                t.upsert_keys(rows((k, float(k) + 0.5) for k in set(arg)), on=on)
            elif kind == "pdelete":
                t.delete_where(f"id % 7 = {arg % 7}", mode="mor")
            elif kind == "restore":
                t.restore(arg)
            else:
                t.write(
                    t.read().filter(f"id % 11 <> {arg}"), operation="rewrite"
                )
        # full rewrites that change the column set (write() records no
        # schema-change flag for them, so change reads cross them)
        if reshape == "drop":
            t.write(t.read().drop("v").filter("id % 11 <> 3"), operation="rewrite")
        elif reshape == "add":
            t.write(
                t.read().withColumn("w", F.expr("IF(id % 2 = 0, id, NULL)")),
                operation="rewrite",
            )
        head = t.head("main")
        # multisets, not sorted lists: an added column holds NULLs
        mat = Counter(map(tuple, t.read_cdf(0, head).collect()))
        comp = Counter(map(tuple, t.read_changes(0, head).collect()))
        assert mat == comp
        for feed in (t.read_cdf, t.read_changes):
            ch = feed(-1, head).collect()
            net = Counter(r[:-2] for r in ch if r[-2] == "insert")
            net.subtract(r[:-2] for r in ch if r[-2] == "delete")
            assert +net == Counter(map(tuple, t.read().collect()))
            assert not -net  # no row deleted more often than inserted

    run()


def test_table_changes_tvf_sql(spark, tmp_path):
    """Delta's table_changes('tbl', from[, to]) TVF: served from the
    materialized feed on cdf-enabled tables, computed otherwise.
    `from` is INCLUSIVE, matching Delta's startingVersion — a query
    ported from the reference stack gets identical results (ADVICE
    r06 #2: the engine-level read_cdf baseline is exclusive; the TVF
    maps from → from-1)."""
    from walden_spark.session import WaldenSession

    ws = WaldenSession(spark)
    t = VersionedTable(spark, str(tmp_path / "tvf"))
    t.enable_cdf()
    t.write(spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double"))
    t.delete_keys(spark.createDataFrame([(1,)], "id long"), on=["id"])
    ws.register_versioned("tvf_t", t.path)
    got = {
        (r.id, r._change_type, r._commit_version)
        for r in ws.sql(
            "SELECT id, _change_type, _commit_version FROM table_changes('tvf_t', 0)"
        ).collect()
    }
    # inclusive: version 0's inserts are part of the feed
    assert got == {(1, "insert", 0), (2, "insert", 0), (1, "delete", 1)}
    got = {
        (r.id, r._change_type, r._commit_version)
        for r in ws.sql(
            "SELECT id, _change_type, _commit_version FROM table_changes('tvf_t', 1)"
        ).collect()
    }
    assert got == {(1, "delete", 1)}
    # computed path for tables without CDF files
    t2 = VersionedTable(spark, str(tmp_path / "tvf2"))
    t2.write(spark.createDataFrame([(9, 9.0)], "id long, v double"))
    t2.append(spark.createDataFrame([(10, 1.0)], "id long, v double"))
    ws.register_versioned("tvf_u", t2.path)
    got = {
        (r.id, r._change_type)
        for r in ws.sql(
            "SELECT id, _change_type FROM table_changes('tvf_u', 0, 1)"
        ).collect()
    }
    assert got == {(9, "insert"), (10, "insert")}
    got = {
        (r.id, r._change_type)
        for r in ws.sql(
            "SELECT id, _change_type FROM table_changes('tvf_u', 1, 1)"
        ).collect()
    }
    assert got == {(10, "insert")}


def test_table_changes_literal_not_rewritten(spark, tmp_path):
    """The TEXT table_changes('t', 0) inside a string literal is data,
    not a TVF call — it must survive the rewrite verbatim (ADVICE
    r06 #4: same literal-clobbering class as tbl$files)."""
    from walden_spark.session import WaldenSession

    ws = WaldenSession(spark)
    t = VersionedTable(spark, str(tmp_path / "tvf_lit"))
    t.enable_cdf()
    t.write(spark.createDataFrame([(1,)], "id long"))
    t.append(spark.createDataFrame([(2,)], "id long"))
    ws.register_versioned("tvf_lit", t.path)
    rows = ws.sql(
        "SELECT 'table_changes(''tvf_lit'', 0)' AS note, id "
        "FROM table_changes('tvf_lit', 1)"
    ).collect()
    assert {(r.note, r.id) for r in rows} == {("table_changes('tvf_lit', 0)", 2)}


def test_incremental_mv_random_ops_match_full_recompute(spark, tmp_path):
    """Property: for ANY sequence of append / delete_keys / upsert
    commits with refreshes interleaved at random points, the
    incremental view equals the full recompute at every refresh —
    including refreshes that fold several commits at once."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from walden_spark.timetravel import IncrementalAggView

    op = st.one_of(
        st.tuples(st.just("append"), st.lists(st.integers(200, 260), min_size=1, max_size=3)),
        st.tuples(st.just("delete"), st.lists(st.integers(0, 30), min_size=1, max_size=3)),
        st.tuples(st.just("upsert"), st.lists(st.integers(0, 40), min_size=1, max_size=3)),
        st.tuples(st.just("refresh"), st.just(0)),
    )
    counter = [0]

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(op, min_size=1, max_size=5))
    def run(ops):
        counter[0] += 1
        src = VersionedTable(spark, str(tmp_path / f"imvsrc{counter[0]}"))
        src.write(
            spark.createDataFrame(
                [(i, i % 4, i) for i in range(20)], "id long, grp long, amt long"
            )
        )
        mv = IncrementalAggView(
            spark, src, str(tmp_path / f"imv{counter[0]}"),
            group_by=["grp"], sums={"total": "amt"},
        )
        mv.refresh()
        fresh = [300]

        def check():
            got = {r.grp: (r.total, r.n_rows) for r in mv.read().collect()}
            want = {
                r.grp: (r.total, r.n_rows)
                for r in src.read()
                .groupBy("grp")
                .agg(F.sum("amt").alias("total"), F.count(F.lit(1)).alias("n_rows"))
                .collect()
            }
            assert got == want, (got, want)

        for kind, arg in ops:
            if kind == "append":
                fresh[0] += len(arg)
                rows = [(fresh[0] * 1000 + j, k % 4, k) for j, k in enumerate(arg)]
                src.append(spark.createDataFrame(rows, "id long, grp long, amt long"))
            elif kind == "delete":
                src.delete_keys(
                    spark.createDataFrame([(k,) for k in set(arg)], "id long"), on=["id"]
                )
            elif kind == "upsert":
                rows = [(k, (k + 1) % 4, k * 7) for k in sorted(set(arg))]
                src.upsert_keys(
                    spark.createDataFrame(rows, "id long, grp long, amt long"), on=["id"]
                )
            else:
                mv.refresh()
                check()
        mv.refresh()
        check()

    run()


def test_read_changes_rejects_cross_branch_range(spark, vt):
    """A (from, to] range whose endpoints sit on different lineages
    must error — not silently replay the whole history as changes."""
    vt.create_branch("side")
    vt.append(spark.createDataFrame([(50, 5.0)], "id long, v double"), branch="side")  # v1 on side
    vt.append(spark.createDataFrame([(60, 6.0)], "id long, v double"))                  # v2 on main
    with pytest.raises(ValueError, match="ancestor"):
        vt.read_changes(1, 2)  # v1 is side's, not main's ancestor chain
    assert [r.id for r in vt.read_changes(0, 2).collect()] == [60]


def test_metadata_tables_sql(spark, tmp_path):
    """Iceberg metadata-table parity: tbl$files / tbl$snapshots /
    tbl$partitions resolve from manifests (no data scan) through both
    the Python API and the SQL idiom."""
    from walden_spark.session import WaldenSession

    ws = WaldenSession(spark)
    t = VersionedTable(spark, str(tmp_path / "meta"))
    t.write(
        spark.createDataFrame(
            [(i, f"2024-01-{(i % 3) + 1:02d} 00:00:00") for i in range(30)],
            "id long, ts_s string",
        ).selectExpr("id", "CAST(ts_s AS TIMESTAMP) AS ts"),
        partition_day="ts",
    )
    t.delete_keys(spark.createDataFrame([(0,)], "id long"), on=["id"])
    ws.register_versioned("vmeta", t.path)

    files = ws.sql('SELECT content, record_count FROM "vmeta$files"').collect()
    contents = {r.content for r in files}
    assert contents == {"data", "equality-deletes"}
    assert sum(r.record_count for r in files if r.content == "data") == 30

    snaps = ws.sql("SELECT version, operation FROM vmeta$snapshots ORDER BY version").collect()
    assert [r.operation for r in snaps] == ["write", "delete_keys_mor"]

    parts = {r.partition: r.file_count for r in ws.sql('SELECT * FROM "vmeta$partitions"').collect()}
    day_keys = {k for k in parts if k and k.startswith("2024-01-")}
    assert len(day_keys) == 3  # three hidden day partitions
    # python API parity
    assert t.files().count() == len(files)

    # ADVICE r05 #5: a tbl$kind token inside a STRING LITERAL is data,
    # not a table reference — it must pass through untouched, and an
    # unknown $suffix must fall through to Spark instead of raising
    lit = ws.sql("SELECT 'vmeta$files' AS s, 'vmeta$bogus' AS b").collect()[0]
    assert lit.s == "vmeta$files" and lit.b == "vmeta$bogus"
    # escaped-quote literal ('' = one quote) keeps the splitter aligned
    esc = ws.sql("SELECT 'it''s vmeta$files' AS s").collect()[0]
    assert esc.s == "it's vmeta$files"
    assert t.partitions().count() == len(parts)


def test_restore_table(spark, tmp_path):
    """RESTORE: a new snapshot whose content equals the restored
    version (shared data files, zero movement); the bad commits stay
    in history; works for full AND merge-on-read restore points."""
    from walden_spark.session import WaldenSession

    ws = WaldenSession(spark)
    t = VersionedTable(spark, str(tmp_path / "rst"))
    t.write(spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, v double"))
    t.append(spark.createDataFrame([(100, 1.0)], "id long, v double"))   # v1 (MoR)
    t.delete_where("id < 100", mode="mor")                               # v2 (the bad commit)
    assert t.read().count() == 1
    ws.register_versioned("vrst", t.path)

    r = ws.sql("RESTORE TABLE vrst TO VERSION AS OF 1").collect()[0]
    assert (r.table, r.version) == ("vrst", 3)
    assert ws.sql("SELECT COUNT(*) AS n FROM vrst").collect()[0].n == 11
    # audit trail intact: the bad delete remains in history
    ops = [row.operation for row in t.history().orderBy("version").collect()]
    assert ops == ["write", "append", "delete_mor", "restore"]
    # and the restore point composes: its MoR base chain still applies
    assert sorted(r2.id for r2 in t.read().collect()) == list(range(10)) + [100]
    # restoring a FULL snapshot works too
    t.restore(0)
    assert t.read().count() == 10
    # time travel still serves every version including the bad one
    assert t.read(version=2).count() == 1


def test_read_changes_rejects_mor_restore_range(spark, vt):
    vt.append(spark.createDataFrame([(100, 1.0)], "id long, v double"))  # v1
    vt.delete_where("id < 100", mode="mor")                              # v2
    vt.restore(1)                                                        # v3 (MoR restore)
    with pytest.raises(ValueError, match="restore"):
        vt.read_changes(0)
    # a full-snapshot restore diffs exactly (exceptAll vs branch parent)
    vt.compact()                                                         # v4 (full)
    vt.delete_where("id >= 100")                                         # v5 CoW (full)
    vt.restore(4)                                                        # v6 full restore
    ch = vt.read_changes(4)
    got = sorted((r._commit_version, r._change_type, r.id) for r in ch.collect())
    assert got == [(5, "delete", 100), (6, "insert", 100)]


def test_incremental_mv_ignores_side_branches(spark, tmp_path):
    """refresh() tracks the view's branch head, not the newest
    manifest: commits on a side branch of the source must not leak
    into (or crash) the view."""
    from walden_spark.timetravel import IncrementalAggView, VersionedTable

    src = VersionedTable(spark, str(tmp_path / "bsrc"))
    src.write(spark.createDataFrame([(i, i % 2, 1) for i in range(6)], "id long, grp long, amt long"))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "bmv"), group_by=["grp"], sums={"total": "amt"}
    )
    mv.refresh()
    src.create_branch("exp")
    src.append(
        spark.createDataFrame([(100, 0, 999)], "id long, grp long, amt long"),
        branch="exp",
    )  # newest manifest now lives on the side branch
    src.append(spark.createDataFrame([(200, 1, 5)], "id long, grp long, amt long"))
    mv.refresh()
    got = {r.grp: r.total for r in mv.read().collect()}
    assert got == {0: 3, 1: 8}  # 999 from the branch never leaked


def test_scan_or_filters(spark, tmp_path):
    """OR expression nodes in scan(): ("or", left, right) composes
    with AND tuples; footer-stat pruning recurses through both
    branches (a file is skipped only when BOTH sides are impossible);
    result always equals read().filter()."""
    from walden_spark.timetravel import _file_may_match

    t = VersionedTable(spark, str(tmp_path / "orscan"))
    df = spark.createDataFrame(
        [(i, float(i % 100)) for i in range(4000)], "id long, v double"
    )
    t.write(df, sort_by=["id"], n_files=8)

    filt = [("or", [("id", "<", 100)], [("id", ">=", 3900)]), ("v", ">=", 50.0)]
    got = sorted(r.id for r in t.scan(filters=filt).collect())
    want = sorted(
        r.id
        for r in t.read().filter("(id < 100 OR id >= 3900) AND v >= 50").collect()
    )
    assert got == want and len(got) > 0

    # pruning recurses: middle files (both OR branches impossible) skipped
    files = t._manifests()[-1]["files"]
    kept = [f for f in files if _file_may_match(f["stats"], filt)]
    assert 0 < len(kept) < len(files)

    # OR composed with a rename: filters translate inside both branches
    t.rename_column("id", "row_id")
    filt2 = [("or", [("row_id", "<", 50)], [("row_id", ">", 3950)])]
    got2 = sorted(r.row_id for r in t.scan(filters=filt2).collect())
    assert got2 == list(range(50)) + list(range(3951, 4000))


def test_scan_negation_and_null_ops(spark, tmp_path):
    """!=, not in, is [not] null in scan filters: result equals
    read().filter(); a constant file is pruned by a != on its value."""
    from walden_spark.timetravel import _file_may_match

    t = VersionedTable(spark, str(tmp_path / "negscan"))
    rows = [(i, float(i) if i % 10 else None) for i in range(100)]
    t.write(spark.createDataFrame(rows, "id long, v double"))

    got = sorted(
        r.id for r in t.scan(filters=[("id", "not in", [1, 2, 3]), ("v", "is not null",
        None)]).collect()
    )
    want = sorted(
        r.id for r in t.read().filter("id NOT IN (1,2,3) AND v IS NOT NULL").collect()
    )
    assert got == want
    assert t.scan(filters=[("v", "is null", None)]).count() == 10
    assert t.scan(filters=[("id", "!=", 5)]).count() == 99
    # a constant file prunes under != / not in
    assert not _file_may_match({"id": [7, 7]}, [("id", "!=", 7)])
    assert not _file_may_match({"id": [7, 7]}, [("id", "not in", [6, 7])])
    assert _file_may_match({"id": [5, 9]}, [("id", "!=", 7)])


def test_merge_after_mor_restore_uses_branch_lineage(spark, vt):
    """ADVICE r05 #1: a merge-on-read restore records its branch
    position in ``restore_parent`` (its raw ``parent`` is the MoR BASE
    chain). Ancestry walks must follow the branch lineage, or a merge
    after the restore computes a stale merge base and replays the
    rolled-back main commits as divergence — spurious key-overlap
    conflicts here."""
    from walden_spark.timetravel import VersionedTable

    def df(*ids):
        return spark.createDataFrame([(i, float(i)) for i in ids], "id long, v double")

    vt.upsert_keys(df(50), on=["id"])        # v1 (MoR)
    vt.upsert_keys(df(60), on=["id"])        # v2 (MoR)
    vt.create_branch("dev")                  # dev at v2
    vt.upsert_keys(df(100), on=["id"], branch="dev")  # v3, touches id=100 only
    v_restore = vt.restore(1)                # MoR restore: main back to v1 content
    assert vt.read(branch="main").filter("id = 60").count() == 0
    # merge base must be v2 (true common ancestor on branch lineage),
    # NOT v0 — with a stale base, main's own v1/v2 keys (50, 60) would
    # count as dev-side changes and overlap the restore's replay
    assert vt._ancestors(v_restore) == {v_restore, 2, 1, 0}
    merged = vt.merge_branch("dev", keys=["id"])
    got = sorted(r.id for r in vt.read(branch="main").collect())
    assert 100 in got and 60 not in got and 50 in got
    # read_changes across the restore still refuses with the HONEST
    # error (pre-fix: pre-restore ancestors raised 'not an ancestor')
    with pytest.raises(ValueError, match="merge-on-read restore"):
        vt.read_changes(1, v_restore)
    # history stays audit-complete through the fixed lineage
    real = VersionedTable(spark, vt.path)
    assert 2 in real._ancestors(merged)


def test_expire_sweeps_spent_cas_claims(spark, vt):
    """Spent CAS transition claims below the retention horizon are
    swept by expire_versions (they can never be legitimately
    re-claimed: heads only move forward), and the table keeps
    committing normally afterward."""
    import os

    for i in range(5):
        vt.append(spark.createDataFrame([(100 + i, 1.0)], "id long, v double"))
    cas_dir = f"{vt.path}/_refs/_cas/branch=main"
    n_before = len(os.listdir(cas_dir))
    assert n_before >= 5
    dropped = vt.compact() and vt.expire_versions(keep_last=1)
    assert dropped
    assert len(os.listdir(cas_dir)) < n_before
    vt.append(spark.createDataFrame([(999, 9.0)], "id long, v double"))
    assert vt.read(branch="main").filter("id = 999").count() == 1


def test_publish_cas_blocks_stale_ref_move(spark, vt):
    """VERDICT r05 #1: a branch publish that validated against a head
    the concurrent-commit protocol has since moved past must LOSE, not
    silently orphan the commit. The transition claim a commit spends is
    exactly what blocks the stale publisher — even one that never
    re-reads the head."""
    from walden_spark.timetravel import ConcurrentWriteError

    vt.create_branch("dev")                       # dev at v0
    dev_head = vt.write(
        spark.createDataFrame([(50, 5.0)], "id long, v double"),
        operation="dev_work",
        branch="dev",
    )
    # writer M validates: main(v0) is an ancestor of dev(v1) → ff OK.
    # Before M publishes, a commit lands on main (spends from=v0):
    main_head = vt.append(spark.createDataFrame([(99, 9.0)], "id long, v double"))
    # M's publish, built on the stale validation, must abort:
    with pytest.raises(ConcurrentWriteError):
        vt._cas_ref_move("main", 0, dev_head)
    assert vt.head("main") == main_head           # concurrent commit survives
    # and the honest path — re-validating — sees the divergence:
    from walden_spark.timetravel import MergeConflictError

    with pytest.raises(MergeConflictError):
        vt.merge_branch("dev")


def test_commit_fork_same_parent_is_serialized(spark, vt):
    """The residual fork the manifest claim alone can't catch: writer B
    reads manifests AFTER writer A's manifest claim but refs BEFORE A's
    pointer move — distinct versions, same parent. The CAS transition
    claim makes B lose cleanly, with its manifest and staged data rolled
    back (VERDICT r05 #1)."""
    from walden_spark.timetravel import ConcurrentWriteError, VersionedTable

    other = VersionedTable(spark, vt.path)
    refs_frozen = other._read_refs()              # stale refs: head = v0
    other._read_refs = lambda: refs_frozen  # type: ignore[method-assign]
    v_a = vt.append(spark.createDataFrame([(100, 1.0)], "id long, v double"))
    # B sees A's manifest (live _manifests) → computes v=2, parent=v0
    with pytest.raises(ConcurrentWriteError):
        other.write(
            spark.createDataFrame([(200, 2.0)], "id long, v double"),
            operation="writer_b",
        )
    real = VersionedTable(spark, vt.path)
    assert real.head("main") == v_a
    assert [m["version"] for m in real._manifests()] == [0, v_a]  # B's rolled back
    import os

    assert not [d for d in os.listdir(f"{vt.path}/data") if d.startswith("v=2-")]
    # the table is NOT wedged: the next writer proceeds from the real head
    v_next = real.append(spark.createDataFrame([(300, 3.0)], "id long, v double"))
    assert real.head("main") == v_next


def test_transaction_abort_releases_claims(spark, tmp_path):
    """A multi-table transaction that aborts after claiming some
    tables' transitions must release them — the survivors' next
    commits proceed; nothing is wedged (VERDICT r05 #1, txn phase 2)."""
    from walden_spark.session import WaldenSession
    from walden_spark.timetravel import MergeConflictError

    ws = WaldenSession(spark)
    t1 = VersionedTable(spark, str(tmp_path / "ca1"))
    t2 = VersionedTable(spark, str(tmp_path / "ca2"))
    t1.write(spark.createDataFrame([(1, 1.0)], "id long, v double"))
    t2.write(spark.createDataFrame([(1, 1.0)], "id long, v double"))
    # phase 1 validates in sorted name order: "aa_clean" is claimed
    # first, then "zz_dirty" conflicts → the aa_clean claim MUST be
    # released on abort or its main branch is wedged forever
    ws.register_versioned("aa_clean", t1.path)
    ws.register_versioned("zz_dirty", t2.path)
    with pytest.raises(MergeConflictError):
        with ws.transaction():
            ws.sql("INSERT INTO aa_clean VALUES (2, 2.0)")
            ws.sql("INSERT INTO zz_dirty VALUES (2, 2.0)")
            t2.append(spark.createDataFrame([(9, 9.0)], "id long, v double"))
    # nothing published, nothing wedged: the released table accepts the
    # very transition (same expected head) the txn had claimed. main
    # explicitly — default read() serves the newest manifest, which is
    # the aborted txn's dangling (unreferenced) staged commit.
    assert sorted(r.id for r in t1.read(branch="main").collect()) == [1]
    assert sorted(r.id for r in t2.read(branch="main").collect()) == [1, 9]
    t1.append(spark.createDataFrame([(3, 3.0)], "id long, v double"))
    assert sorted(r.id for r in t1.read(branch="main").collect()) == [1, 3]


def test_dead_writer_claim_rolled_forward(spark, vt, monkeypatch):
    """ADVICE r06 #1 (liveness): a writer that dies BETWEEN its claim
    create and its pointer move must not wedge the branch. The next
    writer finds head==expected with an aged claim whose `to` manifest
    exists → completes the dead writer's publish and aborts retryably;
    its own retry then lands on the rolled-forward head."""
    from walden_spark.timetravel import ConcurrentWriteError, VersionedTable

    dead = VersionedTable(spark, vt.path)

    def dying(ref_type, name, version, overwrite):
        raise RuntimeError("writer died before the pointer move")

    monkeypatch.setattr(dead, "_write_ref", dying)
    with pytest.raises(RuntimeError):
        dead.append(spark.createDataFrame([(50, 5.0)], "id long, v double"))
    # wedged state: manifest v1 + from=v0 claim exist, head still v0
    assert vt.head("main") == 0
    assert [m["version"] for m in vt._manifests()] == [0, 1]
    # a young claim is NOT raided (could be a live txn mid-publish):
    with pytest.raises(ConcurrentWriteError):
        vt.append(spark.createDataFrame([(60, 6.0)], "id long, v double"))
    assert vt.head("main") == 0
    # once aged past the repair horizon, the next writer repairs it
    monkeypatch.setattr(VersionedTable, "CLAIM_REPAIR_AGE_S", 0.0)
    with pytest.raises(ConcurrentWriteError):
        vt.append(spark.createDataFrame([(60, 6.0)], "id long, v double"))
    assert vt.head("main") == 1          # dead writer's publish completed
    assert vt.read(branch="main").filter("id = 50").count() == 1
    # and the advised retry now SUCCEEDS — the branch is unwedged
    v = vt.append(spark.createDataFrame([(60, 6.0)], "id long, v double"))
    assert vt.head("main") == v
    assert sorted(
        r.id for r in vt.read(branch="main").filter("id >= 50").collect()
    ) == [50, 60]


def test_dead_claim_without_manifest_taken_over(spark, vt, monkeypatch):
    """ADVICE r06 #1, the other arm: an aged claim at the live head
    whose `to` manifest no longer exists (rolled back or expired) is a
    dead tombstone — the next writer takes the slot over and commits
    in ONE attempt."""
    import time as _time

    from walden_spark.timetravel import VersionedTable

    vt._write_json(
        f"{vt._refs_dir}/_cas/branch=main/from=00000000.json",
        {"to": 99, "claimed": _time.time() - 9999.0},
        overwrite=False,
    )
    monkeypatch.setattr(VersionedTable, "CLAIM_REPAIR_AGE_S", 60.0)
    v = vt.append(spark.createDataFrame([(70, 7.0)], "id long, v double"))
    assert vt.head("main") == v
    assert vt.read(branch="main").filter("id = 70").count() == 1


def test_stale_merge_claim_not_rolled_forward(spark, vt, monkeypatch):
    """ADVICE r07 #1: a dead catalog-merge owner's claim records the
    merge SOURCE head as `to` — a manifest that always exists but is
    NOT a descendant of the target's diverged head. Repair must
    RELEASE such a claim, never 'complete' it by fast-forwarding
    `into` to src (which would silently drop the target branch's
    divergent commits)."""
    import time as _time

    from walden_spark.timetravel import VersionedTable

    vt.create_branch("b")
    vt.append(
        spark.createDataFrame([(100, -1.0)], "id long, v double"), branch="b"
    )
    vt.delete_where("id >= 9", mode="mor")  # diverge main (v: mor delete)
    src_head, dst_head = vt.head("b"), vt.head("main")
    # the dead catalog-merge owner's claim: from=dst, to=src (the shape
    # _merge_catalog's phase 2a writes for a three_way plan)
    vt._write_json(
        f"{vt._refs_dir}/_cas/branch=main/from={dst_head:08d}.json",
        {"to": src_head, "claimed": _time.time() - 9999.0},
        overwrite=False,
    )
    monkeypatch.setattr(VersionedTable, "CLAIM_REPAIR_AGE_S", 60.0)
    v = vt.append(spark.createDataFrame([(200, 2.0)], "id long, v double"))
    # the repair released the merge claim (one-attempt commit) and did
    # NOT move main to the source head: the divergent mor-delete commit
    # is still on main's chain and still applies
    assert vt.head("main") == v
    assert dst_head in vt._ancestors(v)
    got = sorted(r.id for r in vt.read(branch="main").collect())
    assert got == [0, 1, 2, 3, 4, 5, 6, 7, 8, 200]  # id=9 deleted, no 100


def test_raided_live_merge_aborts_instead_of_overwriting(spark, vt):
    """The flip side of merge-claim release: a still-live merge whose
    claim was repaired away must ABORT its publish (unwinding the
    replayed manifests), not blind-overwrite a pointer a new writer
    may have moved since."""
    from walden_spark.timetravel import ConcurrentWriteError

    vt.create_branch("b")
    vt.append(
        spark.createDataFrame([(100, -1.0)], "id long, v double"), branch="b"
    )
    vt.delete_where("id >= 9", mode="mor")
    src_head, dst_head = vt.head("b"), vt.head("main")
    n_before = len(vt._manifests())
    with pytest.raises(ConcurrentWriteError, match="repaired away"):
        vt._merge_three_way(
            "b", src_head, "main", dst_head, ["id"],
            _claim_held=True,
            _claim=f"{vt._refs_dir}/_cas/branch=main/from=gone.json",
        )
    assert vt.head("main") == dst_head          # pointer untouched
    assert len(vt._manifests()) == n_before      # replay unwound
    assert not [m for m in vt._manifests() if m.get("merged_from")]


def test_claim_without_to_released_not_typeerror(spark, vt, monkeypatch):
    """ADVICE r07 #2: a malformed claim payload missing `to` must reach
    the release path, not raise TypeError from int(None) inside the
    conflict handler."""
    import time as _time

    from walden_spark.timetravel import VersionedTable

    head = vt.head("main")
    vt._write_json(
        f"{vt._refs_dir}/_cas/branch=main/from={head:08d}.json",
        {"claimed": _time.time() - 9999.0},
        overwrite=False,
    )
    monkeypatch.setattr(VersionedTable, "CLAIM_REPAIR_AGE_S", 60.0)
    v = vt.append(spark.createDataFrame([(300, 3.0)], "id long, v double"))
    assert vt.head("main") == v
    assert vt.read(branch="main").filter("id = 300").count() == 1


def test_swept_claim_stale_writer_still_aborts(spark, vt):
    """VERDICT r06 'Next' #4: after expire_versions sweeps spent
    claims, a stale writer CAN re-create a from=<old-head> claim — the
    head re-read under the claim is what aborts it. This pins that the
    re-read is load-bearing post-sweep."""
    from walden_spark.timetravel import ConcurrentWriteError

    for i in range(5):
        vt.append(spark.createDataFrame([(100 + i, 1.0)], "id long, v double"))
    vt.compact()
    assert vt.expire_versions(keep_last=1)
    head = vt.head("main")
    # the from=00000001 transition was spent by the v1→v2 commit and
    # its claim swept; a stale writer re-claims it and must still lose
    with pytest.raises(ConcurrentWriteError):
        vt._cas_ref_move("main", 1, 2)
    assert vt.head("main") == head


def test_upsert_cas_loss_cleans_extra_delete_dir(spark, vt):
    """ADVICE r06 #5: a CAS-lost upsert_keys(also_delete=...) must
    remove its staged ed=* dir along with the manifest/data/cdf — a hot
    retrying incremental-MV refresh under contention would otherwise
    leak one orphan dir per lost race until remove_orphans."""
    import os

    from walden_spark.timetravel import ConcurrentWriteError, VersionedTable

    other = VersionedTable(spark, vt.path)
    refs_frozen = other._read_refs()              # stale refs: head = v0
    other._read_refs = lambda: refs_frozen  # type: ignore[method-assign]
    vt.append(spark.createDataFrame([(100, 1.0)], "id long, v double"))
    with pytest.raises(ConcurrentWriteError):
        other.upsert_keys(
            spark.createDataFrame([(0, 9.0)], "id long, v double"),
            on=["id"],
            also_delete=spark.createDataFrame([(1,)], "id long"),
        )
    assert not [
        d for d in os.listdir(f"{vt.path}/data") if d.startswith("ed=")
    ], "CAS-lost upsert leaked its staged extra-delete dir"


def test_manifest_checkpoint_roundtrip(spark, tmp_path):
    """VERDICT r06 'Next' #1: past CHECKPOINT_INTERVAL commits the
    writer rolls a checkpoint; a FRESH process (cache cleared, new
    instance) reads the same manifests through checkpoint + tail, and
    every time-travel surface still resolves."""
    import os

    from walden_spark.timetravel import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "ckpt"))
    t.CHECKPOINT_INTERVAL = 5
    t.write(spark.createDataFrame([(0, 0.0)], "id long, v double"))
    for i in range(1, 7):
        t.append(spark.createDataFrame([(i, float(i))], "id long, v double"))
    vdir = f"{t.path}/_versions"
    ckpts = [n for n in os.listdir(vdir) if n.startswith("checkpoint-")]
    assert len(ckpts) == 1, "auto-checkpoint must fire past the interval"
    expected = [m["version"] for m in t._manifests()]
    # fresh process: no cache, new instance — checkpoint accelerates
    tablelog._MANIFEST_CACHE.clear()
    fresh = VersionedTable(spark, t.path)
    assert [m["version"] for m in fresh._manifests()] == expected
    assert fresh.head("main") == expected[-1]
    assert fresh.read(version=3).count() == 4  # time travel through ckpt
    assert sorted(r.id for r in fresh.read(branch="main").collect()) == list(range(7))


def test_manifest_checkpoint_never_resurrects_expired(spark, tmp_path):
    """A checkpoint is pure read acceleration — loose files stay
    authoritative. After expire_versions drops snapshots, a reader
    (even one holding the old checkpoint in cache) must NOT see them,
    and expire refreshes the checkpoint over the survivors."""
    import os

    from walden_spark.timetravel import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "ckpt_exp"))
    t.CHECKPOINT_INTERVAL = 4
    t.write(spark.createDataFrame([(0, 0.0)], "id long, v double"))
    for i in range(1, 6):
        t.append(spark.createDataFrame([(i, float(i))], "id long, v double"))
    assert any(
        n.startswith("checkpoint-") for n in os.listdir(f"{t.path}/_versions")
    )
    t.compact()
    dropped = t.expire_versions(keep_last=1)
    assert dropped
    live = {m["version"] for m in t._manifests()}
    assert not (set(dropped) & live)
    tablelog._MANIFEST_CACHE.clear()
    fresh = VersionedTable(spark, t.path)
    assert {m["version"] for m in fresh._manifests()} == live
    with pytest.raises(ValueError):
        fresh.read(version=dropped[0])
    # the refreshed checkpoint carries only survivors
    ckpts = [
        n for n in os.listdir(f"{t.path}/_versions") if n.startswith("checkpoint-")
    ]
    assert len(ckpts) == 1
    import json as _json

    with open(f"{t.path}/_versions/{ckpts[0]}") as f:
        payload = _json.load(f)
    assert {e["manifest"]["version"] for e in payload["entries"]} == live


def test_manifest_cache_sees_rolled_back_name_recreated(spark, vt):
    """A CAS-lost commit rolls its manifest back; the SAME filename is
    re-created by the next commit with different content — readers
    (cached or fresh) must serve the new content, never the rolled-back
    one."""
    from walden_spark.timetravel import ConcurrentWriteError, VersionedTable

    other = VersionedTable(spark, vt.path)
    refs_frozen = other._read_refs()
    other._read_refs = lambda: refs_frozen  # type: ignore[method-assign]
    vt.append(spark.createDataFrame([(100, 1.0)], "id long, v double"))
    vt._manifests()  # warm the cache with v0, v1
    with pytest.raises(ConcurrentWriteError):
        other.write(
            spark.createDataFrame([(777, 7.0)], "id long, v double"),
            operation="loser",
        )
    v2 = vt.append(spark.createDataFrame([(200, 2.0)], "id long, v double"))
    assert v2 == 2  # the rolled-back name v00000002.json, re-created
    ms = vt._manifests()
    assert ms[-1]["operation"] == "append"  # not the rolled-back "loser"
    assert vt.read(branch="main").filter("id = 777").count() == 0
    assert vt.read(branch="main").filter("id = 200").count() == 1


def test_manifest_remote_read_path(spark, tmp_path, monkeypatch):
    """The thread-pooled JVM read path (what a real object store hits):
    force the local fast-path off and verify identical results."""
    from walden_spark.timetravel import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "jvmread"))
    t.write(spark.createDataFrame([(0, 0.0)], "id long, v double"))
    for i in range(1, 3):
        t.append(spark.createDataFrame([(i, float(i))], "id long, v double"))
    expected = [m["version"] for m in t._manifests()]
    _force_io(monkeypatch, tablelog.HadoopIO)
    tablelog._MANIFEST_CACHE.clear()
    fresh = VersionedTable(spark, t.path)
    assert [m["version"] for m in fresh._manifests()] == expected
    assert fresh.checkpoint() is not None
    tablelog._MANIFEST_CACHE.clear()
    assert [m["version"] for m in fresh._manifests()] == expected


def test_streaming_tail_ignores_checkpoint_files(spark, tmp_path):
    """The pure-Python tail reader must not trip over checkpoint files
    in _versions, and its per-poll cache must still see new commits."""
    from walden_spark.timetravel import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "tailckpt"))
    t.write(spark.createDataFrame([(0, 0.0)], "id long, v double"))
    for i in range(1, 3):
        t.append(spark.createDataFrame([(i, float(i))], "id long, v double"))
    assert t.checkpoint() is not None
    ms = tablelog.manifests(t.path)  # no session: the tail reader's call
    assert [m["version"] for m in ms] == [0, 1, 2]
    ms2 = tablelog.manifests(t.path)  # cached poll
    assert [m["version"] for m in ms2] == [0, 1, 2]
    t.append(spark.createDataFrame([(9, 9.0)], "id long, v double"))
    assert [m["version"] for m in tablelog.manifests(t.path)] == [0, 1, 2, 3]


def test_add_files_zero_copy_convert(spark, tmp_path):
    """Iceberg add_files / Delta CONVERT analog: external parquet dirs
    become snapshot layers with zero bytes copied; the table versions,
    DMLs, and GCs over them while NEVER deleting the external data
    (the shallow-clone own-root rule)."""
    import os

    from walden_spark.timetravel import VersionedTable

    ext1 = str(tmp_path / "lake1")
    ext2 = str(tmp_path / "lake2")
    spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, v double"
    ).write.parquet(ext1)
    spark.createDataFrame(
        [(i, -1.0) for i in range(100, 105)], "id long, v double"
    ).write.parquet(ext2)
    t = VersionedTable(spark, str(tmp_path / "conv"))
    v0 = t.add_files(ext1)                      # initial convert
    assert v0 == 0
    assert sorted(r.id for r in t.read().collect()) == list(range(10))
    v1 = t.add_files(ext2)                      # incremental add
    assert {r.id for r in t.read().collect()} == set(range(10)) | set(
        range(100, 105)
    )
    t.delete_where("id >= 100", mode="mor")     # DML over external layers
    assert sorted(r.id for r in t.read().collect()) == list(range(10))
    # schema drift refused
    bad = str(tmp_path / "lake_bad")
    spark.createDataFrame([(1, "x")], "id long, s string").write.parquet(bad)
    with pytest.raises(ValueError):
        t.add_files(bad)
    # time travel reaches the pre-delete state
    assert {r.id for r in t.read(version=v1).collect()} >= set(range(100, 105))
    # GC never touches external dirs: compact + aggressive expire
    t.compact()
    t.expire_versions(keep_last=1)
    t.remove_orphans(older_than_s=0.0)
    assert os.path.isdir(ext1) and any(
        f.endswith(".parquet") for f in os.listdir(ext1)
    ), "expire must never delete external data"
    assert sorted(r.id for r in t.read().collect()) == list(range(10))


def test_tail_reader_uri_io_path(spark, tmp_path, monkeypatch):
    """The streaming tail reader's pyarrow.fs IO path (what an
    s3://-rooted table exercises), forced onto file:// URIs —
    manifests, branch head, cdf marker, and data-file walks must all
    match the os-level fast path byte for byte."""
    from walden_spark.timetravel import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "uriio"))
    t.enable_cdf()
    t.write(spark.createDataFrame([(0, 0.0), (1, 1.0)], "id long, v double"))
    t.append(spark.createDataFrame([(2, 2.0)], "id long, v double"))
    assert t.checkpoint() is not None
    uri = "file://" + t.path
    local_ms = tablelog.manifests(t.path)
    local_files = tablelog.walk_parquet(local_ms[-1]["data_dir"])
    _force_io(monkeypatch, lambda spark: tablelog.ArrowIO())
    tablelog._MANIFEST_CACHE.clear()
    uri_ms = tablelog.manifests(uri)
    assert [m["version"] for m in uri_ms] == [m["version"] for m in local_ms] == [0, 1]
    refs = tablelog.read_refs(uri)
    assert tablelog.resolve_head(refs, lambda: uri_ms, "main") == 1
    assert tablelog.exists(f"{uri}/_cdf_enabled.json")
    uri_files = tablelog.walk_parquet("file://" + local_ms[-1]["data_dir"])
    assert [f.rsplit("/", 1)[-1] for f in uri_files] == [
        f.rsplit("/", 1)[-1] for f in local_files
    ]
    import pyarrow.parquet as pq

    assert sum(pq.read_table(f).num_rows for f in uri_files) == 1


@pytest.mark.parametrize("backend", ["os", "hadoop", "arrow"])
def test_table_log_backend_parity(spark, tmp_path, monkeypatch, backend):
    """One checkpointed, branched table read through each table-log
    backend on file:// URIs — os as selected, Hadoop and pyarrow.fs
    forced through the seam: manifests, refs, branch heads and the
    parquet walk must all equal the bare-path reads."""
    t = VersionedTable(spark, str(tmp_path / "parity"))
    schema = "id long, v double"
    t.write(spark.createDataFrame([(0, 0.0), (1, 1.0)], schema))
    t.append(spark.createDataFrame([(2, 2.0)], schema))
    t.create_branch("audit")
    t.append(spark.createDataFrame([(3, 3.0)], schema), branch="audit")
    t.create_tag("release")
    assert t.checkpoint() is not None
    t.append(spark.createDataFrame([(4, 4.0)], schema))  # tail past the checkpoint

    def snapshot(root, data_prefix):
        ms = tablelog.manifests(root, spark)
        refs = tablelog.read_refs(root, spark)
        heads = {b: tablelog.resolve_head(refs, lambda: ms, b) for b in ("main", "audit")}
        walks = [
            tablelog.walk_parquet(data_prefix + m["data_dir"], spark)
            for m in ms
            if m.get("data_dir")
        ]
        return ms, refs, heads, walks

    expected = snapshot(t.path, "")
    assert expected[2] == {"main": 3, "audit": 2}
    assert tablelog.manifest_log(t.path)[1] == 2  # the checkpoint is in play
    if backend == "hadoop":
        _force_io(monkeypatch, tablelog.HadoopIO)
    elif backend == "arrow":
        _force_io(monkeypatch, lambda spark: tablelog.ArrowIO())
    tablelog._MANIFEST_CACHE.clear()
    ms, refs, heads, walks = snapshot("file://" + t.path, "file://")
    assert (ms, refs, heads) == expected[:3]
    assert walks == [["file://" + f for f in w] for w in expected[3]]
    assert all(walks)


def test_sql_export_and_add_files(spark, tmp_path):
    """SQL surface for the interop pair: EXPORT TABLE ... TO 'dir'
    round-trips through ALTER TABLE ... ADD FILES 'dir' on a second
    table with zero bytes rewritten by the engine."""
    from walden_spark.session import WaldenSession
    from walden_spark.timetravel import VersionedTable

    ws = WaldenSession(spark)
    t = VersionedTable(spark, str(tmp_path / "sqlexp"))
    t.write(spark.createDataFrame([(i, float(i)) for i in range(8)], "id long, v double"))
    t.delete_keys(spark.createDataFrame([(3,)], "id long"), on=["id"])
    ws.register_versioned("sqlexp", t.path)
    dest = str(tmp_path / "sqlexp_out")
    res = ws.sql(f"EXPORT TABLE sqlexp TO '{dest}'").collect()[0]
    assert res.table == "sqlexp" and res.version == 1
    # import into a fresh table via SQL
    t2 = VersionedTable(spark, str(tmp_path / "sqlimp"))
    t2.write(spark.createDataFrame([(99, 9.0)], "id long, v double"))
    ws.register_versioned("sqlimp", t2.path)
    ws.sql(f"ALTER TABLE sqlimp ADD FILES '{dest}'")
    got = sorted(r.id for r in ws.sql("SELECT id FROM sqlimp").collect())
    assert got == [0, 1, 2, 4, 5, 6, 7, 99]
    # historic export: VERSION AS OF pre-delete
    dest0 = str(tmp_path / "sqlexp_v0")
    res0 = ws.sql(f"EXPORT TABLE sqlexp VERSION AS OF 0 TO '{dest0}'").collect()[0]
    assert res0.version == 0
    assert spark.read.parquet(dest0).count() == 8


def test_export_snapshot_duckdb_reads(spark, tmp_path):
    """The exported snapshot is readable by an EXTERNAL engine with no
    repo code: DuckDB's read_parquet over the exported files equals
    the engine's own read() of the same version — through MoR deletes,
    an upsert, and a rename (VERDICT r06 'Next' #3: proves versioned
    state is not engine-locked)."""
    import duckdb

    from walden_spark.timetravel import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "exp"))
    t.write(
        spark.createDataFrame(
            [(i, float(i), f"n{i}") for i in range(20)], "id long, v double, name string"
        )
    )
    t.delete_keys(spark.createDataFrame([(3,), (7,)], "id long"), on=["id"])
    t.upsert_keys(
        spark.createDataFrame([(5, 55.0, "n5x"), (99, 9.0, "n99")], "id long, v double, name string"),
        on=["id"],
    )
    t.rename_column("name", "label")
    dest = str(tmp_path / "exported")
    info = t.export_snapshot(dest)
    assert info["version"] == t.head("main")
    engine = sorted(
        (r.id, r.v, r.label) for r in t.read(branch="main").collect()
    )
    external = duckdb.sql(
        f"SELECT id, v, label FROM read_parquet('{dest}/*.parquet') ORDER BY id"
    ).fetchall()
    assert [tuple(r) for r in external] == engine
    # historic version export: pre-delete state, original column name
    dest0 = str(tmp_path / "exported_v0")
    t.export_snapshot(dest0, version=0)
    n0 = duckdb.sql(
        f"SELECT COUNT(*), MIN(name), MAX(id) FROM read_parquet('{dest0}/*.parquet')"
    ).fetchone()
    assert n0 == (20, "n0", 19)


def test_checkpoint_cache_random_ops_consistent(spark, tmp_path):
    """Model check of the r07 metadata plane: under random sequences
    of append / MoR-delete / compact / expire / checkpoint interleaved
    with cache clears, the warm-cached view, a fresh instance's
    checkpoint-accelerated view, and the pure-Python streaming tail
    reader must all agree on the manifest set after EVERY op, and the
    table must read back exactly a dict model's content."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op = st.one_of(
        st.tuples(st.just("append"), st.integers(1, 3)),
        st.tuples(st.just("delete"), st.integers(2, 4), st.integers(0, 3)),
        st.tuples(st.just("compact"), st.just(0)),
        st.tuples(st.just("expire"), st.integers(1, 3)),
        st.tuples(st.just("checkpoint"), st.just(0)),
        st.tuples(st.just("cache_clear"), st.just(0)),
    )
    counter = [0]

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(op, min_size=2, max_size=6))
    def run(ops):
        counter[0] += 1
        t = VersionedTable(spark, str(tmp_path / f"ckptmodel{counter[0]}"))
        t.CHECKPOINT_INTERVAL = 3  # force frequent auto-checkpoints
        model = {i: float(i) for i in range(10)}
        t.write(spark.createDataFrame(sorted(model.items()), "id long, v double"))
        nxt = [100]
        for o in ops:
            if o[0] == "append":
                rows = [(nxt[0] + j, -1.0) for j in range(o[1])]
                nxt[0] += o[1]
                t.append(spark.createDataFrame(rows, "id long, v double"))
                model.update(rows)
            elif o[0] == "delete":
                _, k, r = o
                t.delete_where(f"id % {k} = {r}", mode="mor")
                model = {i: v for i, v in model.items() if i % k != r}
            elif o[0] == "compact":
                t.compact()
            elif o[0] == "expire":
                t.expire_versions(keep_last=o[1])
            elif o[0] == "checkpoint":
                t.checkpoint()
            elif o[0] == "cache_clear":
                tablelog._MANIFEST_CACHE.clear()
            warm = [m["version"] for m in t._manifests()]
            tablelog._MANIFEST_CACHE.clear()
            fresh = VersionedTable(spark, t.path)
            assert [m["version"] for m in fresh._manifests()] == warm
            # the session-less read the streaming tail reader makes
            assert [m["version"] for m in tablelog.manifests(t.path)] == warm
            got = {r.id: r.v for r in t.read(branch="main").collect()}
            assert got == model

    run()


def test_concurrent_writers_serialize_and_survive(spark, tmp_path):
    """Commit storm: N threads each land M append batches using the
    advised re-read-and-retry loop. Every batch must commit exactly
    once, the final head must equal the total commit count (linear
    history, no forks, no lost updates), and no thread may wedge —
    pure-contention complement to the dead-writer repair tests."""
    from concurrent.futures import ThreadPoolExecutor

    from walden_spark.timetravel import ConcurrentWriteError, VersionedTable

    t = VersionedTable(spark, str(tmp_path / "storm"))
    t.write(spark.createDataFrame([(0, 0.0)], "id long, v double"))
    n_writers, n_batches = 4, 3

    def worker(w: int) -> int:
        vt = VersionedTable(spark, t.path)
        done = 0
        while done < n_batches:
            df = spark.createDataFrame(
                [(1000 + w * 100 + done, float(w))], "id long, v double"
            )
            try:
                vt.append(df)
                done += 1
            except ConcurrentWriteError:
                continue  # the advised retry: re-read happens inside append
        return done

    with ThreadPoolExecutor(max_workers=n_writers) as pool:
        assert all(r == n_batches for r in pool.map(worker, range(n_writers)))
    ids = sorted(r.id for r in t.read(branch="main").collect())
    expected = sorted(
        [0] + [1000 + w * 100 + k for w in range(n_writers) for k in range(n_batches)]
    )
    assert ids == expected
    # Version numbers are CLAIM-unique, not dense: a pointer-CAS loser
    # rolls its manifest back AFTER a concurrent writer may have read
    # max-version past it (the documented numbering race in write()'s
    # publish comment), so the head can legitimately exceed the commit
    # count under contention. The invariants: the head IS the max
    # retained version, and its parent chain holds exactly one commit
    # per successful append.
    head = t.head("main")
    manifests = t._manifests()
    assert head == max(m["version"] for m in manifests)
    assert head >= n_writers * n_batches
    chain = 0
    by_v = {m["version"]: m for m in manifests}
    v = head
    while by_v[v].get("parent") is not None:
        v = by_v[v]["parent"]
        chain += 1
    assert v == 0 and chain == n_writers * n_batches


def test_concurrent_writers_serialize_forced_jvm(spark, tmp_path, monkeypatch):
    """VERDICT r07 #2: the commit storm through the FORCED-JVM write
    path — every claim/manifest/ref IO runs fs.create()/fs.delete()
    via Hadoop (what hdfs:// and s3a:// deployments execute), so the
    non-os branch's serializability and its exception taxonomy
    (Hadoop FileAlreadyExistsException → FileExistsError →
    ConcurrentWriteError) are pinned, not assumed. NOTE the matching
    deployment contract in SCALING.md: on S3 this atomicity requires
    S3A conditional create (Hadoop 3.4.1+,
    fs.s3a.create.conditional.enabled=true)."""
    from concurrent.futures import ThreadPoolExecutor

    from walden_spark.timetravel import ConcurrentWriteError, VersionedTable

    t = VersionedTable(spark, str(tmp_path / "jvmstorm"))
    t.write(spark.createDataFrame([(0, 0.0)], "id long, v double"))
    _force_io(monkeypatch, tablelog.HadoopIO)
    n_writers, n_batches = 3, 2

    def worker(w: int) -> int:
        vt = VersionedTable(spark, t.path)
        done = 0
        while done < n_batches:
            df = spark.createDataFrame(
                [(1000 + w * 100 + done, float(w))], "id long, v double"
            )
            try:
                vt.append(df)
                done += 1
            except ConcurrentWriteError:
                continue
        return done

    with ThreadPoolExecutor(max_workers=n_writers) as pool:
        assert all(r == n_batches for r in pool.map(worker, range(n_writers)))
    monkeypatch.undo()
    tablelog._MANIFEST_CACHE.clear()
    ids = sorted(r.id for r in t.read(branch="main").collect())
    expected = sorted(
        [0] + [1000 + w * 100 + k for w in range(n_writers) for k in range(n_batches)]
    )
    assert ids == expected
    # Version numbers are CLAIM-unique, not dense: a pointer-CAS loser
    # rolls its manifest back AFTER a concurrent writer may have read
    # max-version past it (the documented numbering race in write()'s
    # publish comment), so the head can legitimately exceed the commit
    # count under contention. The invariants: the head IS the max
    # retained version, and its parent chain holds exactly one commit
    # per successful append.
    head = t.head("main")
    manifests = t._manifests()
    assert head == max(m["version"] for m in manifests)
    assert head >= n_writers * n_batches
    chain = 0
    by_v = {m["version"]: m for m in manifests}
    v = head
    while by_v[v].get("parent") is not None:
        v = by_v[v]["parent"]
        chain += 1
    assert v == 0 and chain == n_writers * n_batches


def test_dead_writer_repair_forced_jvm(spark, tmp_path, monkeypatch):
    """Claim-repair arms through the FORCED-JVM path: the repair's
    fs.open/exists/delete and the roll-forward _write_ref all run via
    Hadoop, mirroring test_dead_writer_claim_rolled_forward."""
    from walden_spark.timetravel import ConcurrentWriteError, VersionedTable

    t = VersionedTable(spark, str(tmp_path / "jvmrepair"))
    t.write(spark.createDataFrame([(0, 0.0)], "id long, v double"))
    _force_io(monkeypatch, tablelog.HadoopIO)
    dead = VersionedTable(spark, t.path)

    def dying(ref_type, name, version, overwrite):
        raise RuntimeError("writer died before the pointer move")

    monkeypatch.setattr(dead, "_write_ref", dying)
    with pytest.raises(RuntimeError):
        dead.append(spark.createDataFrame([(50, 5.0)], "id long, v double"))
    vt = VersionedTable(spark, t.path)
    assert vt.head("main") == 0
    monkeypatch.setattr(VersionedTable, "CLAIM_REPAIR_AGE_S", 0.0)
    with pytest.raises(ConcurrentWriteError):
        vt.append(spark.createDataFrame([(60, 6.0)], "id long, v double"))
    assert vt.head("main") == 1  # dead writer's publish completed via JVM IO
    v = vt.append(spark.createDataFrame([(60, 6.0)], "id long, v double"))
    assert vt.head("main") == v
    monkeypatch.undo()
    tablelog._MANIFEST_CACHE.clear()
    assert sorted(
        r.id for r in t.read(branch="main").filter("id >= 50").collect()
    ) == [50, 60]


def test_reader_sees_consistent_snapshots_under_writes(spark, tmp_path):
    """Snapshot isolation under live commits: while a writer lands
    appends, concurrent readers must never error and must always see
    a CONSISTENT prefix (exactly 1 + k rows for some completed commit
    count k, never a torn in-between)."""
    from concurrent.futures import ThreadPoolExecutor

    from walden_spark.timetravel import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "snapiso"))
    t.write(spark.createDataFrame([(0, 0.0)], "id long, v double"))
    n_commits = 6

    def writer() -> int:
        for k in range(1, n_commits + 1):
            t.append(spark.createDataFrame([(k, float(k))], "id long, v double"))
        return n_commits

    def reader() -> list[int]:
        rt = VersionedTable(spark, t.path)
        counts = []
        for _ in range(12):
            rows = sorted(r.id for r in rt.read(branch="main").collect())
            assert rows == list(range(len(rows))), f"torn read: {rows}"
            counts.append(len(rows))
        return counts

    with ThreadPoolExecutor(max_workers=3) as pool:
        w = pool.submit(writer)
        r1 = pool.submit(reader)
        r2 = pool.submit(reader)
        assert w.result() == n_commits
        for res in (r1.result(), r2.result()):
            assert all(1 <= c <= 1 + n_commits for c in res)
            assert res == sorted(res), f"head went backwards: {res}"
    assert sorted(r.id for r in t.read(branch="main").collect()) == list(
        range(1 + n_commits)
    )


def test_remove_orphans_sweeps_stale_tmp_files(spark, vt):
    """A writer that crashed between its temp-file write and the
    atomic replace/link leaves *.tmp-* debris in _versions/_refs;
    remove_orphans sweeps it past the age horizon (and never touches
    live metadata)."""
    import os

    with open(f"{vt.path}/_versions/v00000000.json.tmp-dead", "w") as f:
        f.write("{}")
    with open(f"{vt.path}/_refs/branch=main.json.tmp-dead", "w") as f:
        f.write("{}")
    removed = vt.remove_orphans(older_than_s=0.0)
    assert len([p for p in removed if ".tmp-" in p]) == 2
    assert os.path.isfile(f"{vt.path}/_versions/v00000000.json")
    assert vt.head("main") == 0
    assert vt.read(branch="main").count() == 10


def test_manifests_metadata_table_and_describe_detail(spark, tmp_path):
    """tbl$manifests (Iceberg $manifests analog + checkpoint coverage)
    and DESCRIBE DETAIL (Delta analog) — table facts served from
    manifests only, through both the API and SQL."""
    from walden_spark.session import WaldenSession
    from walden_spark.timetravel import VersionedTable

    ws = WaldenSession(spark)
    t = VersionedTable(spark, str(tmp_path / "detail"))
    t.CHECKPOINT_INTERVAL = 2
    t.write(
        spark.createDataFrame([(i, float(i)) for i in range(6)], "id long, v double")
    )
    t.append(spark.createDataFrame([(6, 6.0)], "id long, v double"))
    t.delete_keys(spark.createDataFrame([(0,)], "id long"), on=["id"])
    ws.register_versioned("dtl", t.path)
    man = {r.version: r for r in ws.sql("SELECT * FROM dtl$manifests").collect()}
    assert set(man) == {0, 1, 2}
    assert man[0].operation == "write" and not man[0].is_mor
    assert man[1].operation == "append" and man[1].is_mor
    assert man[2].is_mor and man[2].n_files >= 1  # delete-key file
    assert man[0].in_checkpoint and man[1].in_checkpoint  # interval=2 fired
    det = ws.sql("DESCRIBE DETAIL dtl").collect()[0]
    assert det.format == "parquet" and det.location == t.path
    assert det.num_versions == 3 and det.head_version == 2
    assert det.num_files >= 3  # base files + append + delete-key file
    assert det.num_rows >= 8   # physical rows incl. delete keys
    assert det.partition_transform is None
    # partitioned head reports its spec
    t2 = VersionedTable(spark, str(tmp_path / "detail_p"))
    t2.write(
        spark.createDataFrame([(1, 7)], "id long, user_id int"),
        partition_bucket=("user_id", 4),
    )
    d2 = t2.detail().collect()[0]
    assert d2.partition_transform == "bucket" and d2.partition_source == "user_id"


def test_cross_process_commit_race(spark, tmp_path):
    """Two ENGINE PROCESSES (separate JVMs, separate Python runtimes,
    no shared caches) commit to the same table concurrently with the
    advised retry loop — the filesystem claim protocol alone must
    serialize them: every batch lands exactly once, linear history,
    nobody wedges."""
    import subprocess
    import sys
    import textwrap

    from walden_spark.timetravel import ConcurrentWriteError, VersionedTable

    t = VersionedTable(spark, str(tmp_path / "xproc"))
    t.write(spark.createDataFrame([(0, 0.0)], "id long, v double"))
    helper = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repr('/root/repo')})
        from pyspark.sql import SparkSession
        from walden_spark.timetravel import ConcurrentWriteError, VersionedTable

        spark = (SparkSession.builder.master("local[2]")
                 .appName("xproc_writer")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.session.timeZone", "UTC").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        vt = VersionedTable(spark, {repr(t.path)})
        done = 0
        while done < 3:
            df = spark.createDataFrame([(2000 + done, 2.0)], "id long, v double")
            try:
                vt.append(df)
                done += 1
            except ConcurrentWriteError:
                continue
        print("OK", done)
        """
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", helper],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    try:
        done = 0
        while done < 3:
            df = spark.createDataFrame([(1000 + done, 1.0)], "id long, v double")
            try:
                t.append(df)
                done += 1
            except ConcurrentWriteError:
                continue
        out, _ = proc.communicate(timeout=240)
        assert "OK 3" in out, f"subprocess writer failed: {out!r}"
    finally:
        if proc.poll() is None:
            proc.kill()
    ids = sorted(r.id for r in t.read(branch="main").collect())
    assert ids == [0, 1000, 1001, 1002, 2000, 2001, 2002]
    assert t.head("main") == 6


def test_export_matches_engine_under_random_ops(spark, tmp_path):
    """Property: after ANY random sequence of append / MoR-delete /
    update / compact commits, the exported snapshot read by an
    EXTERNAL engine (DuckDB, no repo code) equals the engine's own
    resolved read — the interop claim under arbitrary delete stacks,
    not just the hand-picked lifecycle."""
    import duckdb
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op = st.one_of(
        st.tuples(st.just("append"), st.integers(1, 4)),
        st.tuples(st.just("delete"), st.integers(2, 5), st.integers(0, 4)),
        st.tuples(st.just("update"), st.integers(1, 40), st.integers(1, 9)),
        st.tuples(st.just("compact"), st.just(0)),
    )
    counter = [0]

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(op, min_size=1, max_size=4))
    def run(ops):
        counter[0] += 1
        t = VersionedTable(spark, str(tmp_path / f"expmodel{counter[0]}"))
        model = {i: float(i % 3) for i in range(25)}
        t.write(spark.createDataFrame(sorted(model.items()), "id long, v double"))
        nxt = [100]
        for o in ops:
            if o[0] == "append":
                rows = [(nxt[0] + j, -1.0) for j in range(o[1])]
                nxt[0] += o[1]
                t.append(spark.createDataFrame(rows, "id long, v double"))
                model.update(rows)
            elif o[0] == "delete":
                _, k, r = o
                t.delete_where(f"id % {k} = {r}", mode="mor")
                model = {i: v for i, v in model.items() if i % k != r}
            elif o[0] == "update":
                _, x, c = o
                t.update_where({"v": f"v + {c}"}, f"id < {x}", mode="mor")
                model = {i: (v + c if i < x else v) for i, v in model.items()}
            else:
                t.compact()
        dest = str(tmp_path / f"expmodel{counter[0]}_out")
        t.export_snapshot(dest)
        external = duckdb.sql(
            f"SELECT id, v FROM read_parquet('{dest}/*.parquet') ORDER BY id"
        ).fetchall()
        assert [tuple(r) for r in external] == sorted(model.items())

    run()


def test_sql_transactions(spark, tmp_path):
    """Multi-statement transactions over the SQL session: intermediate
    state invisible to main but read-your-writes inside the block;
    commit publishes every touched table's pointer; an exception (or a
    concurrent commit) rolls everything back with nothing published."""
    from walden_spark.session import WaldenSession
    from walden_spark.timetravel import MergeConflictError

    ws = WaldenSession(spark)
    t1 = VersionedTable(spark, str(tmp_path / "tx1"))
    t2 = VersionedTable(spark, str(tmp_path / "tx2"))
    t1.write(spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, v double"))
    t2.write(spark.createDataFrame([(0, 0.0)], "id long, v double"))
    ws.register_versioned("vt1", t1.path)
    ws.register_versioned("vt2", t2.path)

    with ws.transaction():
        ws.sql("DELETE FROM vt1 WHERE id >= 5")
        # read-your-writes inside the block...
        assert ws.sql("SELECT COUNT(*) AS n FROM vt1").collect()[0].n == 5
        ws.sql("INSERT INTO vt2 VALUES (1, 1.5)")
        # ...while main still serves the pre-transaction state
        assert t1.read(branch="main").count() == 10
    # committed: both tables published together
    assert ws.sql("SELECT COUNT(*) AS n FROM vt1").collect()[0].n == 5
    assert ws.sql("SELECT COUNT(*) AS n FROM vt2").collect()[0].n == 2

    # rollback on exception: nothing published, views restored
    try:
        with ws.transaction():
            ws.sql("DELETE FROM vt1 WHERE id = 0")
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert ws.sql("SELECT COUNT(*) AS n FROM vt1").collect()[0].n == 5

    # optimistic conflict: a concurrent main commit aborts the txn
    with pytest.raises(MergeConflictError):
        with ws.transaction():
            ws.sql("DELETE FROM vt1 WHERE id = 1")
            t1.append(spark.createDataFrame([(99, 9.0)], "id long, v double"))  # concurrent writer
    assert sorted(r.id for r in t1.read().collect()) == [0, 1, 2, 3, 4, 99]

    # maintenance refuses inside a transaction — ALL of it: RESTORE
    # would commit straight to main mid-transaction and VACUUM could GC
    # versions the staged branch builds on (ADVICE r05 #4)
    with pytest.raises(RuntimeError, match="maintenance"):
        with ws.transaction():
            ws.sql("OPTIMIZE vt1")
    with pytest.raises(RuntimeError, match="maintenance"):
        with ws.transaction():
            ws.sql("RESTORE TABLE vt1 TO VERSION AS OF 0")
    with pytest.raises(RuntimeError, match="maintenance"):
        with ws.transaction():
            ws.sql("VACUUM vt1")


def test_transaction_snapshot_isolation(spark, tmp_path):
    """Views pin at transaction start: a concurrent commit on an
    UNTOUCHED table is invisible inside the block, visible after."""
    from walden_spark.session import WaldenSession

    ws = WaldenSession(spark)
    t = VersionedTable(spark, str(tmp_path / "si"))
    t.write(spark.createDataFrame([(1, 1.0)], "id long, v double"))
    ws.register_versioned("vsi", t.path)
    with ws.transaction():
        t.append(spark.createDataFrame([(2, 2.0)], "id long, v double"))  # concurrent
        assert ws.sql("SELECT COUNT(*) AS n FROM vsi").collect()[0].n == 1
    assert ws.sql("SELECT COUNT(*) AS n FROM vsi").collect()[0].n == 2


def test_show_stats_for(spark, tmp_path):
    """SHOW STATS FOR: per-column min/max + row count served from
    manifest footer stats, composing across MoR append layers."""
    from walden_spark.session import WaldenSession

    ws = WaldenSession(spark)
    t = VersionedTable(spark, str(tmp_path / "st"))
    t.write(spark.createDataFrame([(i, float(i) * 2) for i in range(100)], "id long, v double"))
    t.append(spark.createDataFrame([(500, -1.0)], "id long, v double"))
    ws.register_versioned("vst", t.path)
    stats = {r.column_name: r for r in ws.sql("SHOW STATS FOR vst").collect()}
    assert stats["id"].low_value == "0" and stats["id"].high_value == "500"
    assert stats["v"].low_value == "-1.0" and stats["v"].high_value == "198.0"
    assert stats["id"].row_count == 101


def test_maybe_compact_policy(spark, vt):
    """Auto-compaction fires only past the layer/file thresholds, is a
    cheap no-op on a healthy table, and preserves content."""
    assert vt.maybe_compact(max_layers=8, max_files=64) is None  # healthy
    for i in range(4):
        vt.append(
            spark.createDataFrame([(100 + i, 1.0)], "id long, v double")
        )
    # 5 layers (base + 4 MoR appends) <= 8: still a no-op
    assert vt.maybe_compact(max_layers=8, max_files=64) is None
    before = sorted(r.id for r in vt.read().collect())
    v = vt.maybe_compact(max_layers=3, max_files=64)
    assert v is not None and vt.head("main") == v
    assert vt._manifests()[-1]["operation"] == "compact"
    assert sorted(r.id for r in vt.read().collect()) == before
    # freshly compacted: healthy again
    assert vt.maybe_compact(max_layers=3, max_files=64) is None


def test_claim_heartbeat_resets_repair_clock(spark, vt, monkeypatch):
    """VERDICT r08 #6 (unit arm): without a heartbeat an aged claim is
    repairable; after the owner heartbeats, the same claim is young
    again and a repairer leaves it alone."""
    import time as _time

    from walden_spark.timetravel import VersionedTable

    monkeypatch.setattr(VersionedTable, "CLAIM_REPAIR_AGE_S", 0.25)
    head = vt.head("main")
    # claim whose `to` manifest doesn't exist: a stale one is RELEASED
    # by the repairer (the roll-forward arm needs the manifest)
    claim = vt._cas_claim("main", head, 9999)
    _time.sleep(0.3)
    vt._claim_heartbeat(claim)  # owner is alive: refresh
    rival = VersionedTable(spark, vt.path)
    assert rival._repair_stale_claim("main", head, claim) is False
    assert os.path.exists(claim), "heartbeated claim must survive the repairer"
    _time.sleep(0.3)  # now let it genuinely go stale: repair releases
    assert rival._repair_stale_claim("main", head, claim) is True
    assert not os.path.exists(claim)
    # heartbeat on a vanished claim is a no-op, not an error
    vt._claim_heartbeat(claim)
    assert not os.path.exists(claim)


def test_claim_heartbeat_cannot_resurrect_or_clobber(spark, vt, monkeypatch):
    """ADVICE r09 #2 (TOCTOU): after a legitimate raid releases a stale
    claim and a RIVAL re-claims the same transition, the original
    owner's heartbeat must be a no-op — it may neither resurrect its
    deleted claim nor refresh/clobber the rival's — and the original
    owner's merge publish re-check must abort on the token mismatch."""
    import time as _time

    from walden_spark.timetravel import VersionedTable

    monkeypatch.setattr(VersionedTable, "CLAIM_REPAIR_AGE_S", 0.2)
    head = vt.head("main")
    claim = vt._cas_claim("main", head, 9999)
    _time.sleep(0.3)  # owner stalls past the repair age
    repairer = VersionedTable(spark, vt.path)
    assert repairer._repair_stale_claim("main", head, claim) is True
    assert not os.path.exists(claim)
    # heartbeat on the raided (deleted) claim must NOT resurrect it
    vt._claim_heartbeat(claim)
    assert not os.path.exists(claim), "heartbeat resurrected a raided claim"
    # a rival re-claims the same transition
    rival = VersionedTable(spark, vt.path)
    rival_claim = rival._cas_claim("main", head, 9999)
    assert rival_claim == claim  # same slot, new owner token
    # the original owner's heartbeat must leave the rival's claim alone
    vt._claim_heartbeat(claim)
    payload = tablelog.read_json(claim)
    assert payload["owner"] == rival._owned_claims[rival_claim]
    assert payload["owner"] != vt._owned_claims[claim]
    if os.path.exists(claim + ".hb"):  # any sidecar must not be the old owner's
        assert tablelog.read_json(claim + ".hb")["owner"] != vt._owned_claims[claim]


def test_jvm_path_heartbeat_storm_never_raided(spark, tmp_path, monkeypatch):
    """ADVICE r09 #1, forced-JVM arm: on the Hadoop path the old
    in-place heartbeat rewrite went through fs.create(overwrite=true),
    which truncates before the new bytes land — a hammering repairer
    could read the empty window as 'claim vanished' and raid a LIVE
    claim. With the create-once claim + sidecar design, a repairer
    hammering through the JVM IO path while the owner heartbeats
    through the same path must never raid."""
    import threading
    import time as _time

    from walden_spark import timetravel as tt
    from walden_spark.timetravel import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "jvmheartbeat"))
    t.write(spark.createDataFrame([(0, 0.0)], "id long, v double"))
    _force_io(monkeypatch, tablelog.HadoopIO)
    # age >> heartbeat interval: the protocol's liveness guarantee is
    # "no raid while heartbeats land inside the age", and the age must
    # absorb heartbeat-call stalls (each heartbeat is two py4j round
    # trips that stretch to hundreds of ms under suite load — a 0.3 s
    # age with 0.1 s beats raided legitimately when the full suite ran
    # alongside). Production sizes this in minutes; 2 s vs 0.1 s keeps
    # the same ratio discipline without faking tightness the protocol
    # never promises.
    monkeypatch.setattr(VersionedTable, "CLAIM_REPAIR_AGE_S", 2.0)
    owner = VersionedTable(spark, t.path)
    head = owner.head("main")
    claim = owner._cas_claim("main", head, 9999)
    rival = VersionedTable(spark, t.path)
    stop = threading.Event()
    raids: list[bool] = []

    def hammer():
        while not stop.is_set():
            raids.append(rival._repair_stale_claim("main", head, claim))

    th = threading.Thread(target=hammer, daemon=True)
    th.start()
    try:
        # attempt-driven, not wall-clock-driven: under host load each
        # py4j repair round-trip can take hundreds of ms, so a fixed
        # 2.5 s window sometimes saw <20 attempts (flaked 1-in-~14);
        # heartbeat every 0.1 s (well inside the 0.3 s age) until the
        # hammer has genuinely hammered, with a generous safety cap
        deadline = _time.time() + 30
        while len(raids) < 20 and _time.time() < deadline:
            owner._claim_heartbeat(claim)
            _time.sleep(0.1)
    finally:
        stop.set()
        th.join(timeout=10)
    assert len(raids) >= 20, "repairer must actually have hammered"
    assert not any(raids), "a live heartbeated claim was raided on the JVM path"
    assert tablelog.exists(claim, spark)  # through the forced Hadoop backend
    owner._cas_release(claim)


def test_torn_heartbeat_sidecar_reads_as_live(spark, vt, monkeypatch):
    """ADVICE r09 #1: an unparsable heartbeat sidecar means a heartbeat
    is being written at this instant — the repairer must treat the
    claim as LIVE, never as a free slot. And an unparsable-but-present
    CLAIM file (torn read) is likewise live, not vanished."""
    import time as _time

    from walden_spark.timetravel import VersionedTable

    monkeypatch.setattr(VersionedTable, "CLAIM_REPAIR_AGE_S", 0.2)
    head = vt.head("main")
    claim = vt._cas_claim("main", head, 9999)
    _time.sleep(0.3)  # aged past the repair horizon
    # torn sidecar: half-written JSON (what a truncate-then-write
    # fs.create(overwrite=true) exposes mid-heartbeat)
    local_hb = claim + ".hb"
    with open(local_hb, "w", encoding="utf-8") as f:
        f.write('{"owner": "abc", "clai')
    rival = VersionedTable(spark, vt.path)
    assert rival._repair_stale_claim("main", head, claim) is False
    assert os.path.exists(claim), "repairer raided a claim with an in-flight heartbeat"
    # torn CLAIM file: present but unparsable — live, not free
    import os as _os

    _os.unlink(local_hb)
    with open(claim, "w", encoding="utf-8") as f:
        f.write('{"to": 9999, "claim')
    assert rival._repair_stale_claim("main", head, claim) is False
    assert os.path.exists(claim)
    # restore a well-formed stale claim: now the raid legitimately fires
    vt._write_json(
        claim,
        {"to": 9999, "claimed": _time.time() - 10, "owner": "dead"},
        overwrite=True,
    )
    assert rival._repair_stale_claim("main", head, claim) is True
    assert not os.path.exists(claim)


def test_permanently_torn_sidecar_or_claim_eventually_repairs(spark, vt, monkeypatch):
    """ADVICE r10 #1: the torn-read-is-live grace is BOUNDED. A sidecar
    or claim file that stays unparsable past CLAIM_REPAIR_AGE_S was
    torn by a crash mid-write, not by an in-flight write — the slot
    must eventually repair instead of wedging forever (liveness). Age
    is judged by the file's own modification time, so a LIVE owner —
    whose heartbeats keep refreshing the sidecar — is never raided."""
    import os as _os
    import time as _time

    from walden_spark.timetravel import VersionedTable

    monkeypatch.setattr(VersionedTable, "CLAIM_REPAIR_AGE_S", 0.2)
    head = vt.head("main")
    rival = VersionedTable(spark, vt.path)
    # --- arm 1: permanently torn SIDECAR on an aged claim ---
    claim = vt._cas_claim("main", head, 9999)
    _time.sleep(0.3)  # claim itself aged past the horizon
    local_hb = claim + ".hb"
    with open(local_hb, "w", encoding="utf-8") as f:
        f.write('{"owner": "abc", "clai')  # crash mid-heartbeat
    # fresh torn sidecar: still the in-flight grace — NOT raided
    assert rival._repair_stale_claim("main", head, claim) is False
    old = _time.time() - 10
    _os.utime(local_hb, (old, old))  # now it's been torn for 10 s
    assert rival._repair_stale_claim("main", head, claim) is True
    assert not _os.path.exists(claim), "aged torn sidecar must not wedge the slot"
    assert not _os.path.exists(local_hb)
    # --- arm 2: permanently torn CLAIM file ---
    claim2 = vt._cas_claim("main", head, 9999)
    with open(claim2, "w", encoding="utf-8") as f:
        f.write('{"to": 9999, "claim')  # crash mid-create
    # fresh torn claim: in-flight grace
    assert rival._repair_stale_claim("main", head, claim2) is False
    _os.utime(claim2, (old, old))
    assert rival._repair_stale_claim("main", head, claim2) is True
    assert not _os.path.exists(claim2), "aged torn claim must not wedge the slot"
    # the freed slot is genuinely claimable again
    claim3 = rival._cas_claim("main", head, 9999)
    assert claim3 == claim2
    rival._cas_release(claim3)


def test_slow_merge_outlives_repair_age_and_publishes(spark, vt, monkeypatch):
    """VERDICT r08 #6 (integration arm): a three-way merge whose TOTAL
    publish outlives CLAIM_REPAIR_AGE_S — but whose individual replay
    stages don't — must still publish, because the owner heartbeats the
    held claim between stages and a concurrently hammering repairer
    never sees it stale. (Before the heartbeat, CLAIM_REPAIR_AGE_S had
    to exceed the longest whole publish — the r08 sizing footgun.)"""
    import threading
    import time as _time

    from walden_spark.timetravel import VersionedTable

    monkeypatch.setattr(VersionedTable, "CLAIM_REPAIR_AGE_S", 2.5)
    vt.create_branch("b")
    for i in range(3):  # 3 MoR layers on b => 3 replay stages
        vt.append(
            spark.createDataFrame([(100 + i, -1.0)], "id long, v double"),
            branch="b",
        )
    vt.delete_where("id >= 9", mode="mor")  # disjoint divergence on main
    src_head, dst_head = vt.head("b"), vt.head("main")

    orig = VersionedTable._write_manifest

    def slow_write(self, manifest, overwrite=True):
        if "merged_from" in manifest:  # each replay stage: 1.2 s < 2.5 s
            _time.sleep(1.2)           # total publish: >3.6 s > 2.5 s
        return orig(self, manifest, overwrite)

    monkeypatch.setattr(VersionedTable, "_write_manifest", slow_write)

    claim = vt._cas_claim("main", dst_head, src_head)
    rival = VersionedTable(spark, vt.path)
    stop = threading.Event()
    raids: list[bool] = []

    def hammer():
        while not stop.is_set():
            raids.append(rival._repair_stale_claim("main", dst_head, claim))
            _time.sleep(0.15)

    th = threading.Thread(target=hammer, daemon=True)
    th.start()
    try:
        new_head = vt._merge_three_way(
            "b", src_head, "main", dst_head, ["id"],
            _claim_held=True, _claim=claim,
        )
    finally:
        stop.set()
        th.join(timeout=10)
    assert vt.head("main") == new_head
    merged = vt.read(branch="main")
    assert merged.filter("id >= 100").count() == 3  # b's commits landed
    assert merged.filter("id >= 9 and id < 100").count() == 0
    assert len(raids) >= 5, "repairer must actually have raced the merge"
    assert not any(raids), "no repair may fire on a heartbeated live claim"


def test_add_column_metadata_only(spark, vt):
    """r12 schema evolution DDL: ADD COLUMN is an O(manifest) commit —
    old rows read the default (NULL when omitted), appends after it
    carry the column physically, time travel below shows the old
    schema, and scan() filters on the added column stay exact (they
    defer below the layer instead of touching old footers)."""
    v = vt.add_column("tag", "string")                                   # v1
    assert v == 1
    head = vt.read()
    assert head.columns == ["id", "v", "tag"]
    assert head.filter("tag IS NULL").count() == 10
    assert vt.read(version=0).columns == ["id", "v"]
    # post-add appends carry the column; pre-add rows stay NULL
    vt.append(spark.createDataFrame([(100, 1.5, "new")], "id long, v double, tag string"))
    got = {r.id: r.tag for r in vt.read().collect()}
    assert got[100] == "new" and got[0] is None
    # a non-NULL default backfills old rows only (Iceberg initial-default)
    vt.add_column("src", "string", default="legacy")                     # v3
    vt.append(
        spark.createDataFrame(
            [(200, 2.5, "new2", "fresh")], "id long, v double, tag string, src string"
        )
    )
    by_id = {r.id: r.src for r in vt.read().collect()}
    assert by_id[0] == "legacy" and by_id[100] == "legacy" and by_id[200] == "fresh"
    # scan() on the added column equals read().filter(...)
    got_scan = sorted(r.id for r in vt.scan([("src", "=", "fresh")]).collect())
    assert got_scan == [200]
    got_scan = sorted(r.id for r in vt.scan([("tag", "=", "new")]).collect())
    assert got_scan == [100]
    # mixed filter: pushed column + added column
    got_scan = sorted(
        r.id for r in vt.scan([("id", ">=", 100), ("src", "=", "legacy")]).collect()
    )
    assert got_scan == [100]
    # validation: duplicate name / bad type fail the commit
    import pytest as _pt

    with _pt.raises(ValueError):
        vt.add_column("tag", "string")
    with _pt.raises(Exception):
        vt.add_column("bad", "no_such_type")


def test_drop_column_and_readd(spark, vt):
    """DROP COLUMN projects the column out from its layer upward; time
    travel below still shows it; re-adding the same name is a FRESH
    column — head filters never touch the old column's footer stats."""
    vt.drop_column("v")                                                  # v1
    assert vt.read().columns == ["id"]
    assert vt.read(version=0).columns == ["id", "v"]
    # re-add the same name with a different type and default
    vt.add_column("v", "string", default="none")                         # v2
    head = vt.read()
    assert dict(head.dtypes)["v"] == "string"
    assert head.filter("v = 'none'").count() == 10
    # a head filter on the re-added column must NOT prune by the OLD
    # double column's stats (old files have v in [0,9]; the filter
    # value matches no old stat range yet every row qualifies)
    got = vt.scan([("v", "=", "none")]).count()
    assert got == 10
    import pytest as _pt

    with _pt.raises(ValueError):
        vt.drop_column("nope")


def test_schema_ddl_sql_surface_and_guards(spark, vt):
    """ALTER TABLE ADD/DROP COLUMN at the SQL surface, plus the
    interplay guards: change feeds refuse ranges crossing the DDL and
    keyed merges refuse divergent schema commits."""
    from walden_spark.session import WaldenSession
    from walden_spark.timetravel import MergeConflictError, VersionedTable

    ws = WaldenSession(spark)
    t = VersionedTable(spark, vt.path)
    ws._versioned["evt"] = t
    ws.sql("ALTER TABLE evt ADD COLUMN note STRING DEFAULT 'n/a'")
    assert t.read().filter("note = 'n/a'").count() == 10
    ws.sql("ALTER TABLE evt DROP COLUMN note")
    assert "note" not in t.read().columns
    # CDF: a range crossing the DDL refuses with the schema-change error
    t2 = VersionedTable(spark, vt.path + "_cdf")
    t2.enable_cdf()
    t2.write(spark.createDataFrame([(1, 1.0)], "id long, v double"))     # v0
    t2.add_column("tag", "string")                                       # v1
    t2.append(spark.createDataFrame([(2, 2.0, "x")], "id long, v double, tag string"))
    import pytest as _pt

    with _pt.raises(ValueError, match="schema change"):
        t2.read_changes(0, 2)
    # ...but a post-DDL range serves
    assert t2.read_changes(1, 2).count() == 1
    # keyed merge refuses divergent schema commits
    t.create_branch("dev")
    t.add_column("extra", "int", branch="dev")
    t.delete_keys(spark.createDataFrame([(0,)], "id long"), on=["id"])
    with _pt.raises(MergeConflictError):
        t.merge_branch("dev", keys=["id"])


def test_widen_column_type_promotion(spark, vt):
    """r12: ALTER COLUMN ... TYPE — Iceberg-safe promotions only.
    Metadata-only: old files keep the narrow physical type and read
    through a cast; appends after the widen carry the wide type;
    time travel below shows the narrow schema; scan filters keep
    pushing below the layer (ordering-preserving, so old footer stats
    stay valid)."""
    import pytest as _pt

    t2 = VersionedTable(spark, vt.path + "_widen")
    t2.write(
        spark.createDataFrame([(i, float(i)) for i in range(10)], "id int, v float")
    )                                                                    # v0
    t2.widen_column("id", "bigint")                                      # v1
    t2.widen_column("v", "double")                                       # v2
    head = t2.read()
    assert dict(head.dtypes) == {"id": "bigint", "v": "double"}
    assert dict(t2.read(version=0).dtypes) == {"id": "int", "v": "float"}
    t2.append(
        spark.createDataFrame([(10_000_000_000, 1.5)], "id bigint, v double")
    )                                                                    # v3
    assert t2.read().count() == 11
    # scan pushes the filter below the widen layer and stays exact
    got = sorted(r.id for r in t2.scan([("id", ">=", 8)]).collect())
    assert got == [8, 9, 10_000_000_000]
    # unsafe promotions refuse
    with _pt.raises(ValueError, match="widen"):
        t2.widen_column("id", "int")  # narrowing
    with _pt.raises(ValueError, match="widen"):
        t2.widen_column("v", "string")  # cross-family
    # SQL surface
    from walden_spark.session import WaldenSession

    ws = WaldenSession(spark)
    t3 = VersionedTable(spark, vt.path + "_widen_sql")
    t3.write(spark.createDataFrame([(1, 2)], "a int, b int"))
    ws._versioned["wt"] = t3
    ws.sql("ALTER TABLE wt ALTER COLUMN a TYPE bigint")
    assert dict(t3.read().dtypes)["a"] == "bigint"


def test_compact_manifests_flattens_schema_run(spark, vt):
    """r14 (VERDICT r13 #4): compact_manifests collapses the head's
    consecutive metadata-only schema layers into ONE schema_project
    summary whose parent skips the run — reads equal the uncompacted
    frame exactly, time travel below the run still replays the
    original layers, filters keep pushing through the summary, and
    appends/recompactions compose."""
    for i in range(4):
        vt.add_column(f"c{i}", "int", default=i)          # v1..v4
    vt.widen_column("c1", "bigint")                       # v5
    vt.rename_column("c2", "c2r")                         # v6
    vt.drop_column("c3")                                  # v7
    vt.add_column("s", "string", default="it's 'quoted'") # v8
    pre = vt.read()
    pre_cols, pre_types = pre.columns, dict(pre.dtypes)
    pre_rows = sorted(tuple(r) for r in pre.collect())
    v = vt.compact_manifests()                            # v9
    assert v == 9
    post = vt.read()
    assert post.columns == pre_cols
    assert dict(post.dtypes) == pre_types
    assert sorted(tuple(r) for r in post.collect()) == pre_rows
    # the summary's parent skips the run: head chain = summary -> base
    by_v = {m["version"]: m for m in vt._manifests()}
    assert by_v[9]["parent"] == 0
    assert "schema_project" in by_v[9]
    # time travel to mid-run versions replays the original layers
    assert vt.read(version=4).columns == ["id", "v", "c0", "c1", "c2", "c3"]
    assert vt.read(version=6).columns == ["id", "v", "c0", "c1", "c2r", "c3"]
    # string default survived the SQL-literal quoting round-trip
    assert post.select("s").distinct().collect()[0][0] == "it's 'quoted'"
    # filters: base-backed columns push through the summary (renamed
    # and widened included), added columns defer to the head residual
    assert sorted(r.id for r in vt.scan([("id", "<", 3)]).collect()) == [0, 1, 2]
    assert vt.scan([("c2r", "=", 2)]).count() == 10
    assert vt.scan([("s", "=", "nope")]).count() == 0
    # a single schema layer (or none) is a no-op
    assert vt.compact_manifests() is None
    # appends + further DDL after compaction; recompaction composes
    vt.append(
        spark.createDataFrame(
            [(100, 1.0, 0, 1, 2, "x")],
            "id long, v double, c0 int, c1 bigint, c2r int, s string",
        )
    )
    vt.add_column("d0", "int", default=7)
    vt.add_column("d1", "int")
    v2 = vt.compact_manifests()
    assert v2 is not None
    got = {r.id: (r.d0, r.s) for r in vt.read().collect()}
    assert got[0] == (7, "it's 'quoted'") and got[100] == (7, "x")
    assert vt.read().count() == 11


def test_compact_manifests_recompaction_composes_over_summary(spark, vt):
    """A second compact_manifests whose run ENDS at a prior summary
    re-bases through it: chained safe widenings collapse to one cast
    and values/types equal the layer-by-layer replay."""
    vt.add_column("w", "int", default=5)
    vt.widen_column("w", "bigint")
    assert vt.compact_manifests() is not None
    # the new run sits directly on the old summary
    vt.rename_column("w", "w2")
    vt.add_column("z", "double", default=1.5)
    assert vt.compact_manifests() is not None
    by_v = {m["version"]: m for m in vt._manifests()}
    head = vt.head()
    assert by_v[head]["parent"] == 0  # re-rooted past BOTH runs
    got = vt.read()
    assert dict(got.dtypes)["w2"] == "bigint"
    assert got.filter("w2 = 5 AND z = 1.5").count() == 10


def test_maybe_compact_manifests_policy(spark, vt):
    """Fires only past the layer budget; flat storms stay healthy."""
    for i in range(3):
        vt.add_column(f"p{i}", "int")
    assert vt.maybe_compact_manifests(max_schema_layers=8) is None
    for i in range(3, 10):
        vt.add_column(f"p{i}", "int")
    assert vt.maybe_compact_manifests(max_schema_layers=8) is not None
    run, base_v = vt._schema_run("main")
    assert len(run) == 1 and base_v == 0  # one summary layer on base


def test_optimize_manifests_sql_surface(spark, vt):
    """r14: OPTIMIZE t MANIFESTS maps to compact_manifests() — the
    Iceberg rewrite_manifests analog at the SQL surface; a no-op when
    fewer than two schema layers exist, returning the current head."""
    from walden_spark.session import WaldenSession

    ws = WaldenSession(spark)
    ws.register_versioned("mt", vt.path)
    r = ws.sql("OPTIMIZE mt MANIFESTS").collect()[0]
    assert r.version == vt.current_version()  # no schema layers: no-op
    for i in range(3):
        vt.add_column(f"m{i}", "int", default=i)
    pre = sorted(tuple(x) for x in vt.read().collect())
    r = ws.sql("OPTIMIZE mt MANIFESTS").collect()[0]
    head = {m["version"]: m for m in vt._manifests()}[r.version]
    assert "schema_project" in head and head["parent"] == 0
    assert sorted(tuple(x) for x in vt.read().collect()) == pre
