"""analytics_mix: read-only queries over the sf0.1 star schema and a
small document corpus.

Op: one registered read query, built through its surface (Datalog, SPARQL,
SQL, DataFrame, corpus operator) and collected. Closed loop, one client. A
round runs every gate of :func:`gates` once, in a seeded order; the warm-up
round is part of set-up, so timed rounds see filled plan caches and
fixtures. Every result is compared with the query's DuckDB oracle, computed
before the timed phase.

The gates are :data:`QUERY_GATES`, a cost-stratified fifth of the 42
registered TPC-H, Datalog, SPARQL, SQL, bitemporal and as-of read queries,
and :data:`CORPUS_GATES`, the registered gates of the training-data
operators (quality flags, exact and MinHash-LSH dedup, n-gram pairs resolved
into clusters by connected components, inverted-index search). The corpus is
the documents table with seeded near-duplicate and exact copies.
"""

from __future__ import annotations

import contextlib
import datetime
import math
import os
import statistics

import numpy as np

import gen

SF = 0.1
# the documents table: 500 docs plus 5% near-duplicate and 1% exact copies
DOCS_SF = 0.01
NEAR_DUP_RATE = 0.05
EXACT_DUP_RATE = 0.01
# The 42 registered read queries of the TPC-H, Datalog, SPARQL, SQL,
# bitemporal and as-of families, ranked by their warm wall time at sf0.1 on
# a loaded 4-core box (0.08 s to 5.0 s, 37 s in all): every fifth from the
# third cheapest, 5.7 s of the 37 s warm. A round of all 42 does not fit the
# benchmark's run budget. No bitemporal gate is in the sample; the store's
# reads are bitemporal_ingest's.
QUERY_GATES = [
    "tpch_q16", "events_asof", "sparql_group_agg", "tpch_q15", "tpch_q12",
    "sql_rollup", "tpch_q17", "datalog_recursive_reach",
]
# MinHash-LSH is approximate: its pairs must all be in the exact oracle's
# answer, and the share of that answer it returns is reported as its recall
# instead of being checked. On generated corpora it can miss a pair (29 of
# 30 at seed 23).
LSH_GATE = "dedup_minhash_lsh"
# registered corpus gates and the layer span each runs under
CORPUS_GATES = {
    "text_gopher_filter": "textops.quality",
    "dedup_exact": "dedup.exact",
    LSH_GATE: "dedup.minhash",
    "dedup_clusters": "dedup.clusters",
    "text_search_docs": "text_search.query",
}
# per-layer metrics of layers this workload never calls (printed as 0)
BYPASSED = {
    "catalog.from_store_s", "store.commit_s", "store.versions_rows",
    "store.versions_per_op", "txlog.bytes_per_op", "checkpoint.bytes",
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def gates() -> list[str]:
    """The workload's gates, sorted by name; each must be registered."""
    import __spark_entry__ as entry

    names = QUERY_GATES + list(CORPUS_GATES)
    missing = [g for g in names if g not in entry.queries()]
    if missing:
        raise KeyError(f"gates not registered: {missing}")
    return sorted(names)


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def canonical(cols: list[str], rows) -> tuple:
    """Order-insensitive form of a result: columns sorted by name, values
    normalised, rows sorted (the comparison the oracle mirror makes)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    return tuple(sorted(cols)), tuple(body)


def _decimals(v: float) -> int:
    """The fewest decimal places (up to 6) ``v`` is rounded to, else 9."""
    for k in range(7):
        if abs(v - round(v, k)) <= 1e-9 * max(1.0, abs(v)):
            return k
    return 9


def rounding_tie(got: tuple, want: tuple) -> bool:
    """True when canonical results ``got`` and ``want`` differ only in float
    values that are rounded to k (1..6) decimals and lie exactly one unit of
    the k-th decimal apart. Two engines summing the same doubles in another
    order can land either side of an exact half unit (a revenue sum of
    x.xx50), and each then rounds correctly from where it landed."""
    if got[0] != want[0] or len(got[1]) != len(want[1]) or got == want:
        return False
    for row_a, row_b in zip(got[1], want[1]):
        for a, b in zip(row_a, row_b):
            if a == b:
                continue
            if not (isinstance(a, float) and isinstance(b, float)):
                return False
            k = max(_decimals(a), _decimals(b))
            if not 1 <= k <= 6 or abs(abs(a - b) - 10.0 ** -k) > 1e-9 * max(1.0, abs(b)):
                return False
    return True


class Workload:
    def __init__(self, bench):
        self.b = bench
        self.data = os.path.join(bench.work, "data")
        self.expected: dict[str, tuple] = {}
        self.gates = gates()
        self.ties: list[str] = []
        self.lsh: tuple[int, float] = (0, 0.0)  # pairs, recall

    def prepare(self) -> None:
        b = self.b
        docs, near, exact = gen.corpus(
            gen.documents(DOCS_SF, b.seed), b.seed, NEAR_DUP_RATE, EXACT_DUP_RATE)
        b.info["inputs"] = {
            "sf": b.sf, "rows": gen.write_tables(self.data, b.sf, b.seed, docs),
            "gates": self.gates, "near_dup_rate": NEAR_DUP_RATE,
            "exact_dup_rate": EXACT_DUP_RATE, "near_pairs": len(near),
            "exact_pairs": len(exact)}

    def build(self, i: int) -> None:
        """A fresh catalog: each build reads the data through its own path,
        and the registered queries keep one catalog (and the fixtures
        built on it) per path."""
        from crux_spark.queries import catalog_for

        self.sf_dir = os.path.join(self.b.work, f"data-{i}")
        os.symlink(self.data, self.sf_dir)
        with self.b.tracer.span("catalog.load"):
            cat = catalog_for(self.b.spark, self.sf_dir)
            for t in TABLES:
                cat.table(t)

    def expect(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data}/{t}.parquet')")
            for g in self.gates:
                res = con.sql(sql[g])
                self.expected[g] = canonical(res.columns, res.fetchall())
        finally:
            con.close()

    def round(self, i: int) -> None:
        rng = np.random.default_rng([self.b.seed, 10, i])
        for g in rng.permutation(self.gates):
            self.run_gate(str(g))

    def run_gate(self, g: str) -> None:
        import __spark_entry__ as entry

        b = self.b
        layer = CORPUS_GATES.get(g)
        with b.op("query", g) as op:
            with b.part(op, "read"), (
                    b.tracer.span(layer) if layer else contextlib.nullcontext()):
                with b.tracer.span("datalog.build"):
                    df = entry.queries()[g](b.spark, self.sf_dir)
                rows = b.collect(df)
        if op.error is not None:
            return
        got, want = canonical(df.columns, rows), self.expected[g]
        if g == LSH_GATE:
            found = set(got[1]) & set(want[1])
            self.lsh = (len(got[1]), len(found) / max(len(want[1]), 1))
            if got[0] == want[0] and len(found) == len(got[1]):
                return
        if got == want:
            return
        if rounding_tie(got, self.expected[g]):
            self.ties.append(g)
        else:
            op.fail(f"result differs from the DuckDB oracle ({len(rows)} rows, "
                    f"oracle {len(self.expected[g][1])})")

    def detail(self) -> dict:
        out: dict = {}
        ok = self.b.ok_ops()
        self.b.latency("op", [o.wall for o in ok], out)
        out["rounding_ties"] = self.ties
        out["gate_median_s"] = {g: statistics.median(o.wall for o in ok if o.name == g)
                                for g in sorted({o.name for o in ok})}
        out["gate_warmup_s"] = {o.name: o.wall for o in self.b.ops if o.phase == "warmup"}
        self.b.layers.update({
            "dedup.minhash_pairs": self.lsh[0],
            "dedup.minhash_recall": self.lsh[1],
        })
        return out
