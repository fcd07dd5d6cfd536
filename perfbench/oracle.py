"""Output checks: every op's answer against an independent computation.

File workloads are checked with DuckDB over the same generated inputs,
reusing the engine's registered oracle SQL (``queries.ORACLES``) where
one exists for the shape. The lakehouse workload is checked against an
in-memory model of each table, kept version by version.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

from workloads import Op

ABS_TOL = 2e-6
REL_TOL = 1e-9


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return v


def _key(row: dict, cols: list[str]):
    return tuple(
        (0, round(v, 4)) if isinstance(v, float) else (1, "") if v is None else (2, str(v))
        for v in (row[c] for c in cols)
    )


def same_rows(got: list[dict], want: list[dict]) -> bool:
    """Order-insensitive equality over ``want``'s columns; floats compare
    within ``ABS_TOL`` / ``REL_TOL``."""
    if len(got) != len(want):
        return False
    if not want:
        return True
    cols = list(want[0])
    g = sorted(({c: _norm(r[c]) for c in cols} for r in got), key=lambda r: _key(r, cols))
    w = sorted(({c: _norm(r[c]) for c in cols} for r in want), key=lambda r: _key(r, cols))
    for a, b in zip(g, w):
        for c in cols:
            x, y = a[c], b[c]
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=REL_TOL, abs_tol=ABS_TOL):
                    return False
            elif x != y:
                return False
    return True


def _glob(path) -> str:
    return f"read_parquet('{Path(path)}/**/*.parquet')"


def _query(db, sql: str) -> list[dict]:
    cur = db.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def _views(db, **tables) -> None:
    for name, path in tables.items():
        db.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM {_glob(path)}")


def _written(path) -> list[dict]:
    return pq.read_table(str(path)).to_pylist()


class Checker:
    """One DuckDB connection for all of a run's checks."""

    def __init__(self, workload) -> None:
        from spark_etl_framework_spark.queries import ORACLES

        self.w = workload
        self.oracles = ORACLES
        self.db = duckdb.connect()
        self.db.execute("SET threads TO 2")

    def check(self, op: Op) -> bool:
        return getattr(self, f"_{self.w.name}")(op)

    # -- etl_star -------------------------------------------------------------
    def _etl_star(self, op: Op) -> bool:
        p = op.params
        win = f"o_orderdate >= DATE '{p['lo']}' AND o_orderdate < DATE '{p['hi']}'"
        if op.name == "revenue_report":
            sql = f"""
            SELECT c_mktsegment, count(*) AS n,
                   CAST(round(sum(CAST(revenue AS DECIMAL(18,2))), 2) AS DOUBLE) AS rev,
                   CAST(min(rnk) AS INT) AS best
            FROM {_glob(p['src'])} WHERE rnk <= {p['top']} GROUP BY c_mktsegment"""
            return same_rows(op.rows, _query(self.db, sql))
        if op.name == "delay_report":
            sql = f"""
            SELECT o_orderpriority, count(*) AS n, CAST(sum(n_lines) AS BIGINT) AS n_lines,
                   CAST(sum(total_delay) AS BIGINT) AS total_delay, max(n_open) AS n_open
            FROM {_glob(p['src'])} WHERE rn <= {p['top']} GROUP BY o_orderpriority"""
            return same_rows(op.rows, _query(self.db, sql))
        src = Path(p["inputs"])
        _views(self.db, customer=src / "customer", orders=src / "orders", lineitem=src / "lineitem")
        if op.name == "revenue":
            sql = f"""
            WITH rev AS (
                SELECT c_custkey, c_nationkey, c_mktsegment,
                       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                                      * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
                       count(DISTINCT o_orderkey) AS n_orders
                FROM customer JOIN orders ON c_custkey = o_custkey
                     JOIN lineitem ON l_orderkey = o_orderkey
                WHERE {win} AND l_discount BETWEEN {p['disc_lo']} AND {p['disc_hi']}
                GROUP BY c_custkey, c_nationkey, c_mktsegment),
            nd AS (SELECT datediff('day', min(o_orderdate), max(o_orderdate)) AS n_days
                   FROM orders WHERE {win}),
            ranked AS (
                SELECT c_custkey, c_nationkey, c_mktsegment, revenue, n_orders, n_days,
                       revenue / avg(revenue) OVER () AS rev_share,
                       CAST(rank() OVER (PARTITION BY c_nationkey
                                         ORDER BY revenue DESC, c_custkey) AS INT) AS rnk
                FROM rev, nd)
            SELECT * FROM ranked WHERE rev_share >= {p['min_share']}"""
        else:
            sql = f"""
            SELECT * FROM (
            SELECT o_orderpriority, l_suppkey, count(*) AS n_lines,
                   CAST(sum(datediff('day', o_orderdate, l_shipdate)) AS BIGINT) AS total_delay,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
                   (SELECT count(*) FROM orders WHERE o_orderstatus = 'O' AND {win}) AS n_open,
                   CAST(row_number() OVER (PARTITION BY o_orderpriority
                                           ORDER BY count(*) DESC, l_suppkey) AS INT) AS rn
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            WHERE {win} AND l_quantity BETWEEN {p['qmin']} AND {p['qmax']}
            GROUP BY o_orderpriority, l_suppkey)
            WHERE total_delay <= {p['max_delay']} * n_lines"""
        return same_rows(_written(op.out), _query(self.db, sql))

    # -- corpus_ingest --------------------------------------------------------
    def _corpus_ingest(self, op: Op) -> bool:
        if op.name == "read":
            srcs = ", ".join(f"'{s}/**/*.parquet'" for s in op.params["srcs"])
            sql = f"""
            SELECT lang, source, count(*) AS n, CAST(sum(length(text)) AS BIGINT) AS chars
            FROM read_parquet([{srcs}]) GROUP BY lang, source"""
            return same_rows(op.rows, _query(self.db, sql))
        corpus = _glob(self.w.inputs / "corpus")
        batch = _glob(op.params["batch"])
        self.db.execute(
            f"CREATE OR REPLACE TABLE documents AS SELECT * FROM {corpus} UNION ALL SELECT * FROM {batch}"
        )
        adm = _query(self.db, self.oracles["pipeline_lsh_index_probe"])
        keep = [r["doc_id"] for r in adm if not r["is_dup"]]
        self.db.execute(
            f"CREATE OR REPLACE TABLE documents AS SELECT * FROM {batch} "
            f"WHERE doc_id IN (SELECT unnest(?::BIGINT[]))",
            [keep],
        )
        want = _query(self.db, self.oracles["pipeline_containment_writeback"])
        return same_rows(_written(op.out), want)

    # -- iterative_index ------------------------------------------------------
    def _iterative_index(self, op: Op) -> bool:
        # the registered pipeline_ann_index_probe oracle at this workload's m=2
        from spark_etl_framework_spark.queries.vector import _ivfpq_oracle

        if op.name == "read":
            sql = f"""
            SELECT probe_id, count(*) AS n, min(adc_dist) AS best, CAST(max(rn) AS INT) AS k
            FROM {_glob(op.params['src'])} GROUP BY probe_id"""
            return same_rows(op.rows, _query(self.db, sql))
        _views(self.db, embeddings=op.params["emb"])
        ann = same_rows(_written(op.out / "result"), _query(self.db, _ivfpq_oracle(2, 8, 4, 3, 2)))
        graph = Path(op.params["graph"])
        _views(self.db, orders=graph / "orders", lineitem=graph / "lineitem")
        pr = same_rows(op.rows, _query(self.db, self.oracles["graph_pagerank_bipartite"]))
        return ann and pr

    # -- lakehouse_upsert -----------------------------------------------------
    def _lakehouse_upsert(self, op: Op) -> bool:
        # commits are checked by the reads after them and at the end of the run;
        # a read's expected answer is the model as of the read (workloads.make_op)
        return op.kind == "write" or same_rows(op.rows, op.params["want"])


class TableModel:
    """The expected content of one lakehouse table: ``id -> (grp, cents,
    ver)``, plus a copy per committed version for time-travel reads."""

    def __init__(self, rows: dict[int, tuple], version: int) -> None:
        self.rows = rows
        self.history: list[tuple[int, dict]] = [(version, dict(rows))]

    @classmethod
    def from_parquet(cls, path: Path, version: int) -> "TableModel":
        t = pq.read_table(str(path)).to_pydict()
        rows = {
            i: (g, round(a * 100), v)
            for i, g, a, v in zip(t["id"], t["grp"], t["amount"], t["ver"])
        }
        return cls(rows, version)

    @property
    def max_key(self) -> int:
        return max(self.rows)

    def merge(self, batch) -> None:
        t = batch.to_pydict()
        for i, g, a, v in zip(t["id"], t["grp"], t["amount"], t["ver"]):
            self.rows[i] = (g, round(a * 100), v)

    @staticmethod
    def _deleted(i: int, row: tuple, lo: int, hi: int, grp: int) -> bool:
        return lo <= i < hi and row[0] != grp

    def delete(self, lo: int, hi: int, grp: int) -> None:
        self.rows = {i: r for i, r in self.rows.items() if not self._deleted(i, r, lo, hi, grp)}

    def count_deleted(self, lo: int, hi: int, grp: int) -> int:
        return sum(self._deleted(i, r, lo, hi, grp) for i, r in self.rows.items())

    def commit(self, version: int) -> None:
        self.history.append((version, dict(self.rows)))

    @staticmethod
    def as_dicts(rows: dict) -> list[dict]:
        return [
            {"id": i, "grp": g, "amount": c / 100, "ver": v} for i, (g, c, v) in rows.items()
        ]

    def rows_in(self, lo: int, hi: int) -> list[dict]:
        return self.as_dicts({i: r for i, r in self.rows.items() if lo <= i < hi})

    @staticmethod
    def summary(snap: dict) -> list[dict]:
        agg: dict[int, list[int]] = {}
        for g, c, v in snap.values():
            a = agg.setdefault(g, [0, 0, 0])
            a[0] += 1
            a[1] += v
            a[2] += c
        return [{"grp": g, "n": n, "sv": sv, "amt": cents / 100} for g, (n, sv, cents) in agg.items()]

    def matches(self, got: list[dict], rows: dict) -> bool:
        return same_rows(got, self.as_dicts(rows))
