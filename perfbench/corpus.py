"""The corpus half of the dataflow workload: the 23 headline queries,
each fully materialized, over seeded corpus tables; every result is
checked against its DuckDB oracle."""

from __future__ import annotations

import sys

import bench  # imports without side effects
from common import ROOT, median
from crawlspark import queries as Q
from ledger import merge, rows_named

# bench.HEADLINE, grouped by the queries module whose QUERIES owns each
MODULES = {m: [q for q in bench.HEADLINE if q in getattr(Q, m).QUERIES]
           for m in ("relational", "textq", "dedupq", "simq")}
QUERIES = [q for qs in MODULES.values() for q in qs]
SF = 0.01
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def module_of(name: str) -> str:
    return next(m for m, qs in MODULES.items() if name in qs)


def check_against_oracles(ctx, data_dir: str, results: dict) -> None:
    """`results`: query -> its (columns, rows) from every timed pass."""
    import duckdb

    sys.path.insert(0, str(ROOT / "tools"))
    from check_oracle import canon_rows

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    for name in QUERIES:
        passes = [canon_rows(cols, rows) for cols, rows in results.get(name, [])]
        if not passes:
            continue
        res = ctx.op(f"oracle {name}", con.execute, getattr(Q, module_of(name)).ORACLE[name])
        if res is None:
            continue
        want = canon_rows([d[0] for d in res.description], res.fetchall())
        ctx.check(f"{name} equals its DuckDB oracle ({len(want[0])} rows, "
                  f"{len(passes)} passes)", all(p == want for p in passes))
    con.close()


class Corpus:
    def __init__(self, ctx):
        from corpusgen import generate
        from crawlspark.queries import all_queries

        self.ctx = ctx
        data_dir = ctx.wd.sub("corpus")
        with ctx.tracer.span("corpus.generate"):
            generate(data_dir, ctx.seed, SF)
        self.data_dir = str(data_dir)
        self.fns = all_queries()
        self.results: dict[str, list] = {}
        # untimed warm-up, as bench.py: the first query otherwise pays
        # the parquet reader and codegen start-up
        ctx.spark.read.parquet(f"{self.data_dir}/lineitem.parquet").groupBy(
            "l_returnflag").count().collect()

    def _materialize(self, name: str) -> None:
        # collect() computes every row and column (a count would let
        # the optimizer prune columns) and keeps them for the check
        df = self.fns[name](self.ctx.spark, self.data_dir)
        self.results.setdefault(name, []).append((df.columns, [tuple(r) for r in df.collect()]))

    def run_pass(self) -> None:
        for name in QUERIES:
            with self.ctx.tracer.span(f"query.{name}"):
                self.ctx.op(name, self._materialize, name)

    def check(self) -> None:
        check_against_oracles(self.ctx, self.data_dir, self.results)

    def metrics(self) -> dict:
        tr = self.ctx.tracer
        m = {f"query.{q}_s": median(tr.durations(f"query.{q}")) for q in QUERIES}
        for mod, qs in MODULES.items():
            m[f"queries.{mod}_s"] = sum(m[f"query.{q}_s"] for q in qs)
        m["queries.total_s"] = sum(m[f"queries.{mod}_s"] for mod in MODULES)
        return m


def ledger_metrics(ctx, rows) -> dict:
    n_pass = len(ctx.tracer.durations("corpus.pass")) or 1
    out = {}
    for mod, qs in MODULES.items():
        r = merge([x for q in qs for x in rows_named(rows, ctx.tracer.spans, f"query.{q}")])
        out[f"queries.{mod}_executor_cpu_s"] = r.cpu_s / n_pass
        out[f"queries.{mod}_shuffle_mb"] = r.shuffle_mb / n_pass
    return out
