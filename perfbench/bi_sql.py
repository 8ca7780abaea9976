"""``bi_sql``: the dashboard client.

One op is one answer a BI client waits for. Three kinds interleave in
a fixed pattern; the seed draws every literal:

* ``tpch`` (50%): a TPC-H template with seeded literals, sent through
  ``WaldenSession.sql`` and collected;
* ``dash`` (30%): a dashboard aggregate answered by ``Catalog.serve_agg``
  from the aggregate materialized views built at set-up (one request in
  six asks for a measure no view carries and falls back to the base);
* ``lake`` (20%): SQL over a versioned fact table with a merge-on-read
  append layer and an equality-delete layer, alternately at its head
  and ``FOR VERSION AS OF`` an older snapshot.

Loads ``session``, ``queries`` and ``catalog``; reads ``timetravel``
without writing; never calls ``operators``. Every answer is checked
against DuckDB running the same SQL over the same parquet files.
"""

from __future__ import annotations

import datetime as dt
import random
import statistics
import time

import numpy as np
import pyarrow as pa

import fixtures
from compare import same_rows
from common import Op, dir_bytes

REVENUE = "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))))"
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
OPS_PER_SECOND = 2.25  # fixes the op count for a given --seconds

# Fixed interleaving of op kinds (5 : 3 : 2); the seed draws literals.
MIX = ["tpch", "dash", "tpch", "lake", "tpch", "dash", "tpch", "lake", "tpch", "dash"]
MV_KEYS = ["l_returnflag", "l_linestatus", "ship_year", "ship_month"]
MV_AGGS = {
    "sum_qty": ("sum", "l_quantity"),
    "sum_price": ("sum", "l_extendedprice"),
    "n": ("count", "*"),
    "min_price": ("min", "l_extendedprice"),
    "max_price": ("max", "l_extendedprice"),
}
MVS = {"mv_dash_fine": MV_KEYS, "mv_dash_year": ["ship_year", "l_returnflag"]}
DASH_VIEW = (
    "SELECT l_returnflag, l_linestatus, year(l_shipdate) AS ship_year, "
    "month(l_shipdate) AS ship_month, l_quantity, l_extendedprice, l_discount FROM lineitem"
)
DASH_MEASURES = {
    "sum_qty": ("sum", "l_quantity"),
    "sum_price": ("sum", "l_extendedprice"),
    "n": ("count", "*"),
    "min_price": ("min", "l_extendedprice"),
    "max_price": ("max", "l_extendedprice"),
    "avg_price": ("avg", "l_extendedprice"),
}
SQL_AGG = {"sum": "SUM({})", "min": "MIN({})", "max": "MAX({})", "avg": "AVG({})"}


def _ts(day: dt.date) -> str:
    return f"TIMESTAMP '{day.isoformat()} 00:00:00'"


def _month(rng: random.Random, y0: int, y1: int) -> tuple[dt.date, dt.date]:
    y, m = rng.randint(y0, y1), rng.randint(1, 12)
    m3 = m + 3
    return dt.date(y, m, 1), dt.date(y + (m3 - 1) // 12, (m3 - 1) % 12 + 1, 1)


def _q1(rng):
    d = dt.date(1998, 12, 1) - dt.timedelta(days=rng.randint(60, 120))
    return f"""SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
  SUM(l_extendedprice) AS sum_base_price,
  SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
  SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
  AVG(l_quantity) AS avg_qty, AVG(l_discount) AS avg_disc, COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= {_ts(d)}
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""


def _q3(rng):
    d = dt.date(1995, 3, rng.randint(1, 31))
    seg = rng.choice(fixtures.SEGMENTS)
    return f"""SELECT l_orderkey, {REVENUE} AS revenue, o_orderdate
FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{seg}' AND o_orderdate < {_ts(d)} AND l_shipdate > {_ts(d)}
GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, l_orderkey LIMIT 10"""


def _q4(rng):
    d0, d1 = _month(rng, 1993, 1997)
    flag = rng.choice("ANR")
    return f"""SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
WHERE o_orderdate >= {_ts(d0)} AND o_orderdate < {_ts(d1)}
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = '{flag}')
GROUP BY o_orderpriority ORDER BY o_orderpriority"""


def _q5(rng):
    y = rng.randint(1993, 1997)
    region = rng.choice(fixtures.REGIONS)
    return f"""SELECT n_name, {REVENUE} AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = '{region}' AND o_orderdate >= {_ts(dt.date(y, 1, 1))}
  AND o_orderdate < {_ts(dt.date(y + 1, 1, 1))}
GROUP BY n_name ORDER BY revenue DESC, n_name"""


def _q6(rng):
    y = rng.randint(1993, 1997)
    d = rng.randint(2, 9)
    return f"""SELECT SUM(l_extendedprice * l_discount) AS revenue FROM lineitem
WHERE l_shipdate >= {_ts(dt.date(y, 1, 1))} AND l_shipdate < {_ts(dt.date(y + 1, 1, 1))}
  AND l_discount BETWEEN {(d - 1) / 100:.2f} AND {(d + 1) / 100:.2f}
  AND l_quantity < {rng.randint(24, 25)}"""


def _q10(rng):
    d0, d1 = _month(rng, 1993, 1994)
    return f"""SELECT c_custkey, c_name, {REVENUE} AS revenue, c_acctbal, n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= {_ts(d0)} AND o_orderdate < {_ts(d1)}
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name ORDER BY revenue DESC, c_custkey LIMIT 20"""


def _q14(rng):
    d0, _ = _month(rng, 1993, 1997)
    d1 = (d0 + dt.timedelta(days=32)).replace(day=1)
    return f"""SELECT 100.0 * SUM(CASE WHEN p_type = 'PROMO'
    THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
  / SUM(l_extendedprice * (1 - l_discount)) AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey AND l_shipdate >= {_ts(d0)} AND l_shipdate < {_ts(d1)}"""


def _q18(rng):
    return f"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
  SUM(l_quantity) AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
                     HAVING SUM(l_quantity) > {rng.randint(250, 300)})
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"""


def _q19(rng):
    arms = []
    for size in (5, 10, 15):
        q = rng.randint(1, 30)
        arms.append(
            f"(p_brand = 'Brand#{rng.randint(1, 5)}' AND l_quantity BETWEEN {q} AND {q + 10} "
            f"AND p_size BETWEEN 1 AND {size})"
        )
    return f"""SELECT SUM(l_extendedprice * (1 - l_discount)) AS revenue FROM lineitem, part
WHERE p_partkey = l_partkey AND ({' OR '.join(arms)})"""


TEMPLATES = {"q1": _q1, "q3": _q3, "q4": _q4, "q5": _q5, "q6": _q6,
             "q10": _q10, "q14": _q14, "q18": _q18, "q19": _q19}


def _dash_request(rng: random.Random, i: int):
    """The ``i``-th dashboard request; every sixth asks for a measure no
    view carries, so it falls back to the base table. The numbers of
    keys and measures follow ``i``; the seed picks which."""
    keys = sorted(rng.sample(MV_KEYS, 1 + i % 3))
    names = sorted(rng.sample(sorted(DASH_MEASURES), 2 + i % 3))
    aggs = {k: DASH_MEASURES[k] for k in names}
    if i % 6 == 5:
        aggs["sum_disc"] = ("sum", "l_discount")
    return keys, aggs


def _dash_sql(keys, aggs) -> str:
    cols = [f"CAST(COUNT(*) AS BIGINT) AS {out}" if fn == "count"
            else f"{SQL_AGG[fn].format(src)} AS {out}" for out, (fn, src) in aggs.items()]
    return f"SELECT {', '.join(keys + cols)} FROM li_dash GROUP BY {', '.join(keys)}"


def _lake_sql(rng: random.Random, i: int, n_versions: int) -> str:
    """The ``i``-th versioned-table query: head and older snapshots
    alternate, and the older ones go through the snapshots in turn, so
    the number of layers read does not depend on the seed."""
    if i % 2 == 0:
        a = rng.randint(0, 900)
        return (f"SELECT store, SUM(qty) AS qty, SUM(price_cents) AS revenue, COUNT(*) AS n "
                f"FROM sales_v WHERE product BETWEEN {a} AND {a + 99} GROUP BY store")
    v = (i // 2) % n_versions
    return (f"SELECT product % 10 AS bucket, COUNT(*) AS n, SUM(price_cents) AS revenue "
            f"FROM sales_v FOR VERSION AS OF {v} WHERE store < {rng.randint(5, 45)} "
            f"GROUP BY product % 10")


class BiSql:
    def __init__(self, ctx):
        from walden_spark.catalog import Catalog

        self.ctx = ctx
        self.ws = ctx.ws
        self.spark = ctx.spark
        self.catalog = Catalog(self.spark)
        self.mv_build_s: list[float] = []

    # ---- set-up ----

    def setup(self, d: str) -> None:
        from walden_spark.tables import register_views
        from walden_spark.timetravel import VersionedTable

        fixtures.write_tpch(d, self.ctx.seed)
        register_views(self.spark, d, TPCH_TABLES)
        self.spark.sql(f"CREATE OR REPLACE TEMP VIEW li_dash AS {DASH_VIEW}")
        t0 = time.perf_counter()
        for name, keys in MVS.items():
            self.catalog.drop_table(name)
            self.catalog.create_agg_mv(name, "li_dash", keys, MV_AGGS)
        self.mv_build_s.append(time.perf_counter() - t0)

        # versioned fact table: base, an appended layer, an equality delete
        rng = np.random.default_rng([self.ctx.seed, 3])
        base = fixtures.sales_batch(rng, 0, 20_000)
        added = fixtures.sales_batch(rng, 20_000, 2_000)
        gone = np.sort(rng.choice(22_000, 1_000, replace=False))
        self.sales_path = f"{d}/sales"
        vt = VersionedTable(self.spark, self.sales_path)
        df = self.spark.createDataFrame
        vt.write(df(base.to_pandas()))
        vt.append(df(added.to_pandas()))
        vt.delete_keys(df(gone.reshape(-1, 1).tolist(), "sale_id long"), on=["sale_id"])
        self.ws.register_versioned("sales_v", self.sales_path)
        v1 = pa.concat_tables([base, added])
        self.sales_versions = [base, v1, v1.filter(~np.isin(v1["sale_id"].to_numpy(), gone))]
        self.fixture_dir = d

    # ---- ops ----

    def _ops(self, rng: random.Random, kinds: list[str]) -> list[Op]:
        """Ops for a sequence of kinds; templates are used round-robin."""
        order = sorted(TEMPLATES)
        seen = {"tpch": 0, "dash": 0, "lake": 0}
        ops = []
        for kind in kinds:
            i = seen[kind]
            seen[kind] += 1
            if kind == "tpch":
                ops.append(Op(kind, TEMPLATES[order[i % len(order)]](rng)))
            elif kind == "dash":
                ops.append(Op(kind, _dash_request(rng, i)))
            else:
                ops.append(Op(kind, _lake_sql(rng, i, len(self.sales_versions))))
        return ops

    def warmup(self) -> None:
        """Every template, a view hit and miss, and the head and two
        older snapshots once each, untimed."""
        rng = random.Random(0)
        ops = self._ops(rng, ["tpch"] * len(TEMPLATES) + ["lake"] * 4)
        ops += [Op("dash", _dash_request(rng, i)) for i in (0, 5)]
        for op in ops:
            self.execute(op)

    def timed_ops(self, rng: random.Random, seconds: int) -> list[Op]:
        n = round(OPS_PER_SECOND * seconds)
        return self._ops(rng, [MIX[i % len(MIX)] for i in range(n)])

    def execute(self, op: Op):
        tr = self.ctx.tracer
        if op.kind == "dash":
            keys, aggs = op.args
            with tr.span("catalog.serve_agg"):
                df = self.catalog.serve_agg("li_dash", keys, aggs)
            hit = tr.probe(lambda: "mv_dash" in df._jdf.queryExecution().analyzed().toString())
            tr.count("serve_agg")
            tr.count("mv_hit", float(bool(hit)))
        else:
            with tr.span("session.sql"):
                df = self.ws.sql(op.args)
        with tr.span("queries.exec"):
            return df.collect()

    # ---- checks and counters ----

    def _duck_sql(self, op: Op) -> str:
        if op.kind == "dash":
            return _dash_sql(*op.args)
        if op.kind == "lake":
            sql = op.args
            for v in range(len(self.sales_versions)):
                sql = sql.replace(f"sales_v FOR VERSION AS OF {v} ", f"sales_v{v} ")
            return sql.replace("FROM sales_v ", f"FROM sales_v{len(self.sales_versions) - 1} ")
        return op.args

    def verify(self, ops: list[Op]) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for name in TPCH_TABLES:
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"read_parquet('{self.fixture_dir}/{name}.parquet')")
            con.execute(f"CREATE VIEW li_dash AS {DASH_VIEW}")
            for v, table in enumerate(self.sales_versions):
                con.register(f"sales_v{v}", table)
            answers: dict[str, list] = {}
            for op in ops:
                if not op.ok:
                    continue
                sql = self._duck_sql(op)
                if sql not in answers:
                    answers[sql] = con.execute(sql).fetchall()
                if not same_rows(op.result, answers[sql]):
                    op.fail("result differs from DuckDB")
        finally:
            con.close()

    def stored_bytes_per_user_byte(self) -> float:
        data, meta = dir_bytes(self.sales_path)
        return (data + meta) / self.sales_versions[-1].nbytes

    def layer_metrics(self, tracer, ops) -> dict:
        data, meta = dir_bytes(self.sales_path)
        calls = tracer.counts.get("serve_agg", 0.0)
        return {
            "catalog.mv_hit_ratio": tracer.counts.get("mv_hit", 0.0) / calls if calls else 0.0,
            "catalog.mv_build_s": statistics.median(self.mv_build_s),
            "timetravel.data_bytes": data,
            "timetravel.metadata_bytes": meta,
        }
