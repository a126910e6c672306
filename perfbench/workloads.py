"""The benchmark's two workloads: statement mixes, how each statement
runs against the engine, and the independent check of its output.

A workload is a list of *units* (one or more operations that must run
in order). Every round runs each unit once, in an order drawn from the
run's seed, so every run attempts whole rounds of the same operations.
Expected results come from DuckDB over the same parquet files (and, for
HS2 metadata, from the parquet footers read with pyarrow); they are
computed after the run, outside every timed interval.
"""

from __future__ import annotations

import itertools
import math
import os
import random
import re
import time
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any, Callable

import duckdb

#: analytic registry mix, one statement of each shape
ANALYTIC = {
    "tpch_q1": "scan-aggregate",
    "tpch_q5": "six-way join",
    "tpch_q21": "exists / anti join",
    "perf_sort_stress": "full sort + limit",
    "pipe_dedup_exact": "dedup operator (fingerprint group-by)",
    "pipe_bm25": "bm25 retrieval",
    "pipe_ann_topk": "Arrow-worker ANN top-k",
}

#: BM25 over a bag with a repeated term. The engine scores the term once
#: per occurrence (operators/retrieval.py does not deduplicate
#: query_terms); the pipe_bm25 oracle shape dedups through its IN list.
BM25_DUP_TERMS = ["spark", "join", "spark"]
_BM25_SCORE_JOIN = "FROM tf JOIN stats USING (tok)"

#: bulk-fetch result size: orderkey window -> ~4 lineitems per order
BULK_ORDER_WINDOW = {"bench": 5000, "smoke": 400}
FETCH_PAGE = 10000


@dataclass
class Op:
    """One statement of the mix.

    ``run(engine)`` executes it (the timed part) and returns
    ``(output, key)``, where ``key`` names the literals it drew.
    ``post(engine, output)`` turns the output into what is checked,
    outside the timed part. ``expect(key)`` computes the expected value
    apart from the engine, after the run; ``same`` compares the two."""

    id: str
    kind: str  # analytic | etl_write | etl_read | short | meta | bulk
    run: Callable[["Engine"], tuple[Any, Any]]
    expect: Callable[[Any], Any]
    same: Callable[[Any, Any], bool] = None  # type: ignore[assignment]
    post: Callable[["Engine", Any], Any] = lambda eng, out: out
    #: expected output under a known engine fault: an execution that
    #: fails its check but matches this is counted as failed without
    #: making the run incorrect
    fault_expect: Callable[[Any], Any] | None = None
    #: rows the statement moved (written, or delivered to the client),
    #: from its checked output; set on the statements rows_per_s rates
    rows: Callable[[Any], int] | None = None

    def __post_init__(self) -> None:
        if self.same is None:
            self.same = same_rows


@dataclass
class Engine:
    """Handles on the running engine, filled in by the set-up."""

    spark: Any = None
    session: Any = None
    server: Any = None
    clients: list = field(default_factory=list)
    data_dir: str = ""
    warehouse: str = ""
    tracer: Any = None

    def observe(self, df) -> None:
        """Keep the statement's DataFrame so the traced mode can read
        Catalyst's phase times once the statement is done (statements
        sent through ``ImpalaSession.sql`` are kept by its wrapper)."""
        if self.tracer.enabled:
            self.tracer.dfs.append(df)


# -- result normalisation ------------------------------------------------


_NUMBER = re.compile(r"^-?\d+(\.\d+)?$")


def _canon(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (float, Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else float(f"{f:.10g}")
    if hasattr(v, "isoformat"):  # datetime / date
        if hasattr(v, "hour"):
            return v.replace(tzinfo=None).isoformat(sep=" ")
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, str) and _NUMBER.match(v):
        # decimals cross the HS2 wire as strings
        return float(f"{float(v):.10g}")
    return v


def canon_rows(rows) -> list[tuple]:
    out = [tuple(_canon(x) for x in r) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return out


def same_rows(got, want) -> bool:
    g, w = canon_rows(got), canon_rows(want)
    if len(g) != len(w):
        return False
    for a, b in zip(g, w):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, (int, float)) and isinstance(y, (int, float)) and not isinstance(x, bool):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def named_rows(rows, cols: list[str]) -> list[tuple]:
    """Reorder row values by column name (the registry queries and their
    oracles agree on names, not necessarily on column order)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(r[i] for i in order) for r in rows]


class Oracle:
    """DuckDB over the run's parquet tables, one connection per run,
    opened at first use (after the run, so it holds no memory while the
    engine is measured)."""

    def __init__(self, data_dir: str, tables: list[str]) -> None:
        self._data_dir, self._tables = data_dir, tables
        self._con = None
        self._memo: dict[str, Any] = {}

    @property
    def con(self):
        if self._con is None:
            self._con = duckdb.connect()
            self._con.execute("SET threads TO 1")
            for t in self._tables:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self._data_dir}/{t}.parquet')")
        return self._con

    def rows(self, sql: str, by_name: bool = False) -> list[tuple]:
        key = f"{by_name}:{sql}"
        if key not in self._memo:
            rel = self.con.sql(sql)
            rows = rel.fetchall()
            self._memo[key] = named_rows(rows, rel.columns) if by_name else rows
        return self._memo[key]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


# -- workload: analytic registry mix + ETL writes, in-process -------------


def _collect(eng: Engine, build: Callable[[], Any]) -> list[tuple]:
    with eng.tracer.span("plans.construct"):
        df = build()
    eng.observe(df)
    return named_rows([tuple(r) for r in df.collect()], df.columns)


def _analytic_op(name: str, oracle: Oracle) -> Op:
    from impala_cut_spark.plans import REGISTRY

    spec = REGISTRY[name]
    return Op(name, "analytic",
              lambda eng: (_collect(eng, lambda: spec.spark(eng.spark, eng.data_dir)), None),
              lambda key: oracle.rows(spec.oracle, by_name=True))


def _bm25_dup_op(oracle: Oracle) -> Op:
    from impala_cut_spark.operators import retrieval
    from impala_cut_spark.plans import REGISTRY
    from impala_cut_spark.plans.pipeline3 import BM25_K, BM25_TERMS
    from impala_cut_spark.sources.catalog import load_table

    def in_list(terms: list[str]) -> str:
        return "(" + ", ".join(f"'{t}'" for t in terms) + ")"

    shape = REGISTRY["pipe_bm25"].oracle
    if in_list(BM25_TERMS) not in shape or _BM25_SCORE_JOIN not in shape:
        raise RuntimeError("pipe_bm25 oracle no longer has the shape this statement rewrites")
    sql = shape.replace(in_list(BM25_TERMS), in_list(list(dict.fromkeys(BM25_DUP_TERMS))))
    # the known fault's output: every occurrence of a query term scores
    # and counts, as if the term list were joined with duplicates
    occurrences = ", ".join(f"('{t}')" for t in BM25_DUP_TERMS)
    doubled = sql.replace(_BM25_SCORE_JOIN,
                          f"{_BM25_SCORE_JOIN} JOIN (VALUES {occurrences}) q(tok) USING (tok)")

    def run(eng: Engine):
        docs = load_table(eng.spark, eng.data_dir, "documents")
        return _collect(eng, lambda: retrieval.bm25_topk(docs, BM25_DUP_TERMS, k=BM25_K)), None

    # operators/retrieval.py does not deduplicate query_terms, so a
    # repeated term is scored and counted twice
    return Op("bm25_repeated_term", "analytic", run, lambda key: oracle.rows(sql, by_name=True),
              fault_expect=lambda key: oracle.rows(doubled, by_name=True))


def table_files(path: str) -> tuple[set[str], int, int]:
    """(partition directories, data files, data bytes) under a table."""
    parts, files, size = set(), 0, 0
    for root, _dirs, names in os.walk(path):
        rel = os.path.relpath(root, path)
        if rel != ".":
            parts.add(rel)
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return parts, files, size


def _sql_rows(eng: Engine, sql: str) -> list[tuple]:
    return [tuple(r) for r in eng.session.sql(sql).collect()]


def analytic_etl(rng: random.Random, oracle: Oracle) -> tuple[list[list[Op]], list[str]]:
    """Units of the in-process workload, plus its untimed preparation
    statements (run once before the first round)."""
    units: list[list[Op]] = [[_analytic_op(n, oracle)] for n in ANALYTIC]
    units.append([_bm25_dup_op(oracle)])

    min_price = rng.randrange(50_000, 100_001, 1000)
    y0 = rng.randrange(1995, 1999)
    where_years = f"year(l_shipdate) BETWEEN {y0} AND {y0 + 3}"
    rounds = itertools.count()
    ctas_name: list[str] = []

    def ctas(eng: Engine):
        ctas_name.append(f"etl_ctas_r{next(rounds)}")
        eng.session.sql(
            f"CREATE TABLE {ctas_name[-1]} STORED AS PARQUET AS SELECT o_orderkey, o_custkey, "
            f"o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders "
            f"WHERE o_totalprice >= {min_price}")
        return ctas_name[-1], None

    def ctas_back(eng: Engine):
        return _sql_rows(eng, "SELECT count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(18,2))) "
                              f"AS s FROM {ctas_name[-1]}"), None

    def insert(eng: Engine):
        eng.session.sql(
            "INSERT OVERWRITE TABLE etl_li PARTITION (ship_year) SELECT l_orderkey, l_partkey, "
            "l_quantity, l_extendedprice, l_returnflag, year(l_shipdate) AS ship_year "
            f"FROM lineitem WHERE {where_years}")
        return "etl_li", None

    def insert_back(eng: Engine):
        return _sql_rows(eng, "SELECT ship_year, count(*) AS n, sum(l_quantity) AS q, "
                              "sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS p "
                              "FROM etl_li GROUP BY ship_year"), None

    def written(eng: Engine, table: str):
        return table_files(os.path.join(eng.warehouse, table))

    units.append([
        Op("etl_ctas", "etl_write", ctas, lambda key: set(),
           same=lambda got, want: got[0] == want and got[1] > 0, post=written,
           rows=lambda out: oracle.rows(
               f"SELECT count(*) FROM orders WHERE o_totalprice >= {min_price}")[0][0]),
        Op("etl_ctas_readback", "etl_read", ctas_back, lambda key: oracle.rows(
            "SELECT count(*), sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders "
            f"WHERE o_totalprice >= {min_price}")),
    ])
    units.append([
        Op("etl_insert_overwrite", "etl_write", insert,
           lambda key: {f"ship_year={y}" for y in range(y0, y0 + 4)},
           same=lambda got, want: got[0] == want and got[1] > 0, post=written,
           rows=lambda out: oracle.rows(
               f"SELECT count(*) FROM lineitem WHERE {where_years}")[0][0]),
        Op("etl_partition_readback", "etl_read", insert_back, lambda key: oracle.rows(
            "SELECT year(l_shipdate), count(*), sum(l_quantity), "
            "sum(CAST(l_extendedprice AS DECIMAL(18,2))) FROM lineitem "
            f"WHERE {where_years} GROUP BY 1")),
    ])
    prep = ["CREATE TABLE etl_li (l_orderkey BIGINT, l_partkey BIGINT, l_quantity DOUBLE, "
            "l_extendedprice DOUBLE, l_returnflag STRING) PARTITIONED BY (ship_year INT) "
            "STORED AS PARQUET"]
    return units, prep


# -- workload: interactive statements and bulk fetch over HS2 -------------

#: (id, Impala SQL, DuckDB twin or None when identical, literal drawer
#: taking (rng, table sizes)). Statements without literals repeat their
#: text every round; the others draw fresh literals each time.
SHORT: list[tuple[str, str, str | None, Callable[[random.Random, dict], dict]]] = [
    ("point_lookup",
     "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = {k}",
     None, lambda r, n: {"k": r.randrange(n["customer"])}),
    ("range_scan",
     "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders "
     "WHERE o_orderkey BETWEEN {k} AND {k} + 20", None,
     lambda r, n: {"k": r.randrange(n["orders"] - 20)}),
    ("dim_agg",
     "SELECT r_name, count(*) AS n FROM region JOIN nation ON r_regionkey = n_regionkey "
     "GROUP BY r_name", None, lambda r, n: {}),
    ("supplier_agg",
     "SELECT s_nationkey, count(*) AS n, sum(CAST(s_acctbal AS DECIMAL(12,2))) AS bal "
     "FROM supplier GROUP BY s_nationkey", None, lambda r, n: {}),
    ("top_orders",
     "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey "
     "LIMIT 10", None, lambda r, n: {}),
    ("top_lines_since",
     "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
     "WHERE l_shipdate >= CAST('{d}' AS TIMESTAMP) "
     "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 5", None,
     lambda r, n: {"d": f"{r.randrange(1995, 2002)}-{r.randrange(1, 13):02d}-01"}),
    ("impala_builtins",
     "SELECT n_name, zeroifnull(CAST(NULL AS INT)) AS z, isnull(NULL, n_regionkey) AS r, "
     "n_nationkey DIV 5 AS g FROM nation WHERE n_nationkey < {k}",
     "SELECT n_name, coalesce(CAST(NULL AS INT), 0) AS z, coalesce(NULL, n_regionkey) AS r, "
     "n_nationkey // 5 AS g FROM nation WHERE n_nationkey < {k}",
     lambda r, n: {"k": r.randrange(1, 26)}),
    ("part_agg",
     "SELECT p_brand, min(p_retailprice) AS mn, count(*) AS n FROM part "
     "WHERE p_size = {s} GROUP BY p_brand", None, lambda r, n: {"s": r.randrange(1, 51)}),
    ("fact_count",
     "SELECT count(*) AS n FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > {q}",
     None, lambda r, n: {"q": r.randrange(1, 50)}),
    ("broadcast_join",
     "SELECT c_mktsegment, count(*) AS n FROM orders JOIN [BROADCAST] customer "
     "ON o_custkey = c_custkey WHERE o_orderpriority = '{p}' GROUP BY c_mktsegment",
     "SELECT c_mktsegment, count(*) AS n FROM orders JOIN customer "
     "ON o_custkey = c_custkey WHERE o_orderpriority = '{p}' GROUP BY c_mktsegment",
     lambda r, n: {"p": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                  "5-LOW"])}),
]

_BULK_SQL = (
    "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, "
    "CAST(l_extendedprice AS DECIMAL(12,2)) AS price_dec, l_returnflag, l_shipdate, "
    "CASE WHEN l_linenumber = 1 THEN NULL ELSE l_tax END AS tax_or_null, "
    "concat(l_returnflag, l_linestatus, '-', CAST(l_suppkey AS {str})) AS tag "
    "FROM lineitem WHERE l_orderkey >= {k} AND l_orderkey < {k2}")
#: bulk column kinds: i(nt), f(loat), d(ecimal), s(tring), t(imestamp)
_BULK_KINDS = "iiiffdstfs"


def hs2_statement(eng: Engine, conn: int, sql: str, page: int = 1024) -> list[tuple]:
    """ExecuteStatement, GetResultSetMetadata, FetchResults until the
    end, CloseOperation: what a JDBC driver sends for one statement."""
    c = eng.clients[conn]
    op = c.execute(sql)
    c.metadata(op)
    rows = []
    while True:
        fr = c.fetch(op, page)
        rows.extend(fr["rows"])
        if not fr["has_more"]:
            break
    c.close_operation(op)
    return rows


def bulk_digest(eng: Engine, rows: list[tuple]) -> tuple:
    """Row count and, per column, (sum or string-length total, NULLs)."""
    cols = []
    for i, kind in enumerate(_BULK_KINDS):
        present = [r[i] for r in rows if r[i] is not None]
        if kind == "i":
            agg: Any = sum(int(v) for v in present)
        elif kind == "f":
            agg = math.fsum(float(v) for v in present)
        elif kind == "d":
            agg = sum((Decimal(v) for v in present), Decimal(0))
        else:
            agg = sum(len(str(v)) for v in present)
        cols.append((agg, len(rows) - len(present)))
    return (len(rows), tuple(cols))


def same_digest(got, want) -> bool:
    if got[0] != want[0]:
        return False
    for kind, (ga, gn), (wa, wn) in zip(_BULK_KINDS, got[1], want[1]):
        if gn != wn:
            return False
        if kind == "f":
            if not math.isclose(ga, wa, rel_tol=1e-9):
                return False
        elif Decimal(ga) != Decimal(wa):
            return False
    return True


def duck_digest(oracle: Oracle, sql: str) -> tuple:
    n = len(_BULK_KINDS)
    aggs = []
    for i, kind in enumerate(_BULK_KINDS):
        aggs.append(f"sum(c{i})" if kind in "ifd" else f"sum(length(CAST(c{i} AS VARCHAR)))")
        aggs.append(f"count(*) - count(c{i})")
    cols = ", ".join(f"c{i}" for i in range(n))
    row = oracle.con.sql(f"SELECT count(*), {', '.join(aggs)} FROM ({sql}) t({cols})").fetchone()
    digest = []
    for i, kind in enumerate(_BULK_KINDS):
        agg = row[1 + 2 * i] or 0
        digest.append((float(agg) if kind == "f" else agg, row[2 + 2 * i]))
    return (row[0], tuple(digest))


def interactive_bulk(rng: random.Random, oracle: Oracle, scale: str, sizes: dict[str, int],
                     footers: dict[str, list[str]]) -> tuple[list[list[Op]], list[str]]:
    """Units of the HS2 workload. Clients 0 and 1 take turns with the
    short statements; client 2 pages the bulk results."""
    units: list[list[Op]] = []
    for i, (sid, sql, twin, draw) in enumerate(SHORT):
        def run(eng: Engine, sql=sql, draw=draw, conn=i % 2):
            lits = draw(rng, sizes)
            return hs2_statement(eng, conn, sql.format(**lits)), lits

        def expect(lits, sql=twin or sql):
            return oracle.rows(sql.format(**lits))

        units.append([Op(f"hs2.{sid}", "short", run, expect)])

    units.append([Op("hs2.set_option", "short",
                     lambda eng: (hs2_statement(eng, 0, "SET mem_limit=2g"), None),
                     lambda key: [])])

    def get_tables(eng: Engine):
        c = eng.clients[1]
        op = c.get_tables()
        rows = c.fetch_all(op)
        c.close_operation(op)
        return sorted(r[2] for r in rows), None

    def get_columns(eng: Engine):
        table = rng.choice(sorted(footers))
        c = eng.clients[0]
        op = c.get_columns(table=table)
        rows = c.fetch_all(op)
        c.close_operation(op)
        return [r[3] for r in sorted(rows, key=lambda r: r[6])], table

    exact = lambda got, want: got == want  # noqa: E731
    units.append([Op("hs2.get_tables", "meta", get_tables, lambda key: sorted(footers),
                     same=exact)])
    units.append([Op("hs2.get_columns", "meta", get_columns, lambda table: footers[table],
                     same=exact)])

    window = BULK_ORDER_WINDOW[scale]

    def bulk(eng: Engine):
        k = rng.randrange(sizes["orders"] - window)
        sql = _BULK_SQL.format(str="STRING", k=k, k2=k + window)
        return hs2_statement(eng, 2, sql, page=FETCH_PAGE), k

    units.append([Op("hs2.bulk_fetch", "bulk", bulk,
                     lambda k: duck_digest(oracle, _BULK_SQL.format(str="VARCHAR", k=k,
                                                                     k2=k + window)),
                     same=same_digest, post=bulk_digest, rows=lambda out: out[0])])
    return units, []
