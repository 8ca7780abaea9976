"""``lake_commits``: one writer on fresh versioned tables.

The op sequence is fixed; the seed draws the corpus and every key,
value and range:

* small commits to an ``events`` table: ``append`` (200 new rows),
  ``upsert_keys`` (150 existing and 50 new keys), ``delete_keys``
  (100 existing keys), each followed by ``maybe_compact``;
* reads of the same table: ``read().count()``, a key-range
  ``scan(filters).count()`` and ``read_as_of(<an earlier commit>)``;
* corpus-prep stages from ``operators`` (each of five stages once),
  whose result is materialised and committed to its own table with
  one large ``VersionedTable.write``.

Cost per op grows with the number of merge-on-read layers and drops at
each compaction, so a fixed op count (not a fixed duration) keeps the
work identical on any host. Loads ``timetravel`` (both write shapes,
reads, compaction, checkpoints) and ``operators``; bypasses
``catalog`` and SQL text. Results are checked against the benchmark's
own model of what it committed, and stage outputs against DuckDB
running the registry's oracle SQL.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np
import pandas as pd
import pyarrow as pa

import fixtures
from common import Op, dir_bytes
from compare import same_rows

# dedup_minhash_lsh is left out: it is the slowest stage (~5 s cold,
# 2-3.5 s warm) and the run-time budget has no room for it.
STAGES = (
    "dedup_exact", "text_quality_score", "text_decontaminate",
    "knn_lsh_bucketed", "text_pretrain_pipeline",
)
N_DOCS, N_VECS = 1000, 500
BASE_ROWS = 2000
# One round of the timed phase: 14 small ops on the events table and the
# five stages, in a fixed interleaving (the seed draws keys, values and
# ranges, not the order, so every run compacts at the same point and
# each read sees the same layer depth).
ROUND = [
    "append", "count", "stage", "upsert", "scan", "append", "stage",
    "delete", "as_of", "upsert", "stage", "append", "count", "stage",
    "delete", "scan", "upsert", "stage", "append",
]
ROUND_SECONDS = 20  # nominal length of one round; --seconds picks the round count
# A scan covers one aligned block of base keys (the seed picks which), so
# every seed prunes all appended files and reads an equal share of the
# base: the scan's cost, one of the ops at p90, does not follow the seed.
SCAN_WIDTH = 500
AS_OF_BACK = 3  # read_as_of targets the snapshot this many commits back
COMMITS = ("append", "upsert", "delete")
SCHEMA = "k long, v long, tag string"


def _frame(keys, values, tag: str) -> pd.DataFrame:
    return pd.DataFrame({"k": np.asarray(keys, dtype=np.int64),
                         "v": np.asarray(values, dtype=np.int64),
                         "tag": [tag] * len(keys)})


class LakeCommits:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    # ---- set-up ----

    def setup(self, d: str) -> None:
        import walden_spark.operators.dedup  # noqa: F401 - registers the stages
        import walden_spark.operators.similarity  # noqa: F401
        import walden_spark.operators.text  # noqa: F401
        from walden_spark.registry import REGISTRY
        from walden_spark.timetravel import VersionedTable

        self.registry = REGISTRY
        fixtures.write_corpus(d, self.ctx.seed, N_DOCS, N_VECS)
        self.fixture_dir = d
        rng = np.random.default_rng([self.ctx.seed, 4])
        base = _frame(np.arange(BASE_ROWS), rng.integers(0, 10**6, BASE_ROWS), "base")
        self.events = VersionedTable(self.spark, f"{d}/events")
        self.events.write(self.spark.createDataFrame(base, SCHEMA))
        self.base = dict(zip(base["k"].tolist(), zip(base["v"].tolist(), base["tag"])))
        self.commit_times = [time.time()]
        self.stage_tables = {s: VersionedTable(self.spark, f"{d}/stage_{s}") for s in STAGES}
        self.checkpoints0 = self._checkpoints()

    def _checkpoints(self) -> int:
        vdir = f"{self.events.path}/_versions"
        return sum(n.startswith("checkpoint-") for n in os.listdir(vdir))

    # ---- ops ----

    def warmup(self) -> None:
        """Every op type once, on scratch tables, so the timed phase
        starts from the freshly built ones."""
        from walden_spark.timetravel import VersionedTable

        saved = self.events, self.commit_times, self.stage_tables
        scratch = f"{self.fixture_dir}/warmup"
        self.events = VersionedTable(self.spark, f"{scratch}/events")
        self.events.write(self.spark.createDataFrame(
            _frame(range(100), range(100), "w"), SCHEMA))
        self.commit_times = [time.time()]
        self.stage_tables = {s: VersionedTable(self.spark, f"{scratch}/stage_{s}")
                             for s in STAGES}
        ops = [
            Op("append", _frame(range(100, 110), range(10), "w")),
            Op("upsert", _frame(range(95, 105), range(10), "w")),
            Op("delete", _frame(range(0, 10), range(10), "w")),
            Op("count", None), Op("scan", (0, 50)), Op("as_of", 0),
        ] + [Op("stage", s) for s in STAGES]
        try:
            for op in ops:
                self.execute(op)
        finally:
            self.events, self.commit_times, self.stage_tables = saved

    def timed_ops(self, rng: random.Random, seconds: int) -> list[Op]:
        """The op sequence, with each op's batch and expected answer
        worked out on an in-memory model before anything is timed."""
        kinds = ROUND * max(1, round(seconds / ROUND_SECONDS))
        stages = iter(STAGES * len(kinds))
        model = dict(self.base)
        self.snapshots = [dict(model)]  # model after each commit, base first
        next_key = BASE_ROWS
        ops = []
        for i, kind in enumerate(kinds):
            tag = f"op{i}"
            live = sorted(model)
            if kind == "append":
                keys = list(range(next_key, next_key + 200))
                next_key += 200
                op = Op(kind, _frame(keys, [rng.randrange(10**6) for _ in keys], tag))
            elif kind == "upsert":
                keys = rng.sample(live, 150) + list(range(next_key, next_key + 50))
                next_key += 50
                op = Op(kind, _frame(keys, [rng.randrange(10**6) for _ in keys], tag))
            elif kind == "delete":
                keys = rng.sample(live, 100)
                op = Op(kind, _frame(keys, [0] * len(keys), tag))
            elif kind == "count":
                op = Op(kind, None, expect=len(model))
            elif kind == "scan":
                lo = SCAN_WIDTH * rng.randrange(BASE_ROWS // SCAN_WIDTH)
                hi = lo + SCAN_WIDTH
                op = Op(kind, (lo, hi), expect=sum(lo <= k < hi for k in live))
            elif kind == "as_of":
                j = max(0, len(self.snapshots) - 1 - AS_OF_BACK)
                op = Op(kind, j, expect=len(self.snapshots[j]))
            else:
                op = Op(kind, next(stages))
            if kind in COMMITS:
                batch = op.args
                if kind == "delete":
                    for k in batch["k"]:
                        del model[k]
                else:
                    model.update(zip(batch["k"].tolist(), zip(batch["v"].tolist(), batch["tag"])))
                op.expect = len(self.snapshots)  # index of its snapshot
                self.snapshots.append(dict(model))
            ops.append(op)
        return ops

    def execute(self, op: Op):
        tr = self.ctx.tracer
        vt = self.events
        if op.kind in COMMITS:
            df = self.spark.createDataFrame(op.args, SCHEMA)
            with tr.span(f"timetravel.{op.kind}"):
                if op.kind == "append":
                    vt.append(df)
                elif op.kind == "upsert":
                    vt.upsert_keys(df, on=["k"])
                else:
                    vt.delete_keys(df.select("k"), on=["k"])
            with tr.span("timetravel.maybe_compact") as rec:
                fired = vt.maybe_compact() is not None
                rec["fired"] = fired
            tr.count("compactions", fired)
            self.commit_times.append(time.time())
            return None
        if op.kind == "stage":
            return self._stage(op.args)
        if op.kind == "count":
            with tr.span("timetravel.read"):
                n = vt.read().count()
        elif op.kind == "scan":
            lo, hi = op.args
            with tr.span("timetravel.scan"):
                n = vt.scan([("k", ">=", lo), ("k", "<", hi)]).count()
        else:
            with tr.span("timetravel.read_as_of"):
                n = vt.read_as_of(self.commit_times[op.args]).count()
        tr.count("reads")
        tr.count("live_files", tr.probe(lambda: len(vt.files().collect())) or 0)
        return n

    def _stage(self, stage: str) -> int:
        tr = self.ctx.tracer
        with tr.span(f"operators.{stage}") as rec:
            df = self.registry[stage].fn(self.spark, self.fixture_dir).persist()
            n = df.count()
        with tr.span("timetravel.write"):
            self.stage_tables[stage].write(df)
        df.unpersist()
        tr.count("rows_in", rec.get("input_records", 0))
        tr.count("rows_out", n)
        return n

    # ---- checks and counters ----

    def verify(self, ops: list[Op]) -> None:
        import duckdb

        for op in ops:
            if op.ok and op.kind in ("count", "scan", "as_of") and op.result != op.expect:
                op.fail(f"read {op.result} rows, model has {op.expect}")
        commits = [op for op in ops if op.kind in COMMITS]
        # the final table, and one sampled snapshot through read_as_of
        sampled = random.Random(self.ctx.seed).choice(commits)
        checks = [
            (commits[-1], -1, self.events.read),
            (sampled, sampled.expect,
             lambda: self.events.read_as_of(self.commit_times[sampled.expect])),
        ]
        for op, j, read in checks:
            want = [(k, v, t) for k, (v, t) in self.snapshots[j].items()]
            try:
                got = [tuple(r) for r in read().collect()]
            except Exception as e:  # an unreadable table fails the check
                got = e
            if not isinstance(got, list) or not same_rows(got, want):
                op.fail("table content differs from the committed model")

        con = duckdb.connect()
        try:
            for name in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"read_parquet('{self.fixture_dir}/{name}.parquet')")
            self.stage_bytes = 0
            for op in ops:
                if op.kind != "stage" or not op.ok:
                    continue
                try:
                    got = self.stage_tables[op.args].read().toArrow()
                except Exception as e:  # an unreadable table fails the check
                    op.fail(f"stage table unreadable: {e}")
                    continue
                self.stage_bytes += got.nbytes
                want = con.execute(self.registry[op.args].oracle).fetchall()
                if not same_rows(zip(*[c.to_pylist() for c in got.columns]), want):
                    op.fail("stage output differs from the DuckDB oracle")
        finally:
            con.close()

    def _table_bytes(self) -> tuple[int, int]:
        data = meta = 0
        for p in [self.events.path] + [t.path for t in self.stage_tables.values()]:
            if os.path.isdir(p):
                d, m = dir_bytes(p)
                data, meta = data + d, meta + m
        return data, meta

    def stored_bytes_per_user_byte(self) -> float:
        """All bytes under the tables over the Arrow size of what they
        hold now (history and metadata are the overhead)."""
        stored = sum(self._table_bytes())
        final = self.snapshots[-1]
        live = pa.table({"k": list(final), "v": [v for v, _ in final.values()],
                         "tag": [t for _, t in final.values()]}).nbytes
        return stored / (live + self.stage_bytes)

    def layer_metrics(self, tracer, ops) -> dict:
        from walden_spark.registry import REGISTRY

        c = tracer.counts
        n_stage = sum(op.kind == "stage" for op in ops)
        lsh = {(r[0], r[1]) for r in self.stage_tables["knn_lsh_bucketed"].read().collect()}
        exact = {(r[0], r[1]) for r in
                 REGISTRY["knn_brute_force"].fn(self.spark, self.fixture_dir).collect()}
        data, meta = self._table_bytes()
        # dedup_exact emits one row per kept document with the number of
        # copies it absorbed, so the copies sum to the rows it grouped
        kept, grouped = self.stage_tables["dedup_exact"].read().selectExpr(
            "count(*)", "sum(n_copies)").first()
        return {
            "timetravel.live_files_per_read": c.get("live_files", 0) / max(c.get("reads", 0), 1),
            "timetravel.compactions": c.get("compactions", 0),
            "timetravel.checkpoints": self._checkpoints() - self.checkpoints0,
            "timetravel.data_bytes": data,
            "timetravel.metadata_bytes": meta,
            "operators.rows_in": c.get("rows_in", 0) / max(n_stage, 1),
            "operators.rows_out": c.get("rows_out", 0) / max(n_stage, 1),
            "operators.dedup_kept_ratio": kept / grouped,
            "operators.ann_recall": len(lsh & exact) / len(exact),
        }
