"""Analyst queries: relational catalog entries over the generated sf0.1
driver tables, the traffic the reference hands to Spark SQL.

Per cycle, in seeded order: order_count_distribution (left join + two
aggregations), late_ship_priority (semi-join) and small_qty_revenue
(correlated-threshold join), each built through ``Query.fn`` (relation
resolution via ``plans.registry.table``) and collected like a client.
Their per-query floor — resolving tables, building and planning the plan
— is what a cheaper relation resolution would move.

Check: each result matches its catalog oracle SQL in DuckDB bit-exactly,
compared with tests/oracle_harness.py. Entries whose oracle rounds a
4-dp decimal sum through DOUBLE (``SQL_REV_SUM``) are not in the set:
DuckDB rounds half-way ties of those doubles differently from Spark (on
about 1 group in 2,000), so their check would fail on the oracle's side.
"""

from __future__ import annotations

import random

from workloads import fail

ENTRIES = ("order_count_distribution", "late_ship_priority", "small_qty_revenue")


class StarQueries:
    def __init__(self, ctx):
        from customer_activity_lakehouse_spark.plans import QUERIES

        self.ctx, self.queries = ctx, QUERIES
        self.rng = random.Random(ctx.seed)

    def cycle(self, _i: int) -> list:
        order = list(ENTRIES)
        self.rng.shuffle(order)
        return [(f"star.{name}", catalog_op(self.ctx, self.queries[name]), 0) for name in order]

    def finish(self) -> list[str]:
        from oracle_harness import duckdb_conn

        con = duckdb_conn(self.ctx.tables)
        failures: list[str] = []
        for name in ENTRIES:
            want = con.execute(self.queries[name].oracle).fetchdf()
            check_oracle(self.ctx, f"star.{name}", want, failures)
        return failures


def catalog_op(ctx, query):
    """One catalog entry as an op: build (``Query.fn``), plan, collect."""
    tr = ctx.tracer

    def run():
        with tr.span("plans.build"):
            df = query.fn(ctx.spark, ctx.tables)
        if tr.enabled:  # planning on its own, only when tracing
            with tr.span("spark.catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("spark.sink"):
            return df.toPandas()

    return run


def check_oracle(ctx, kind: str, want, failures: list[str]) -> None:
    """Every op of ``kind`` must equal the oracle frame bit-exactly."""
    from oracle_harness import compare, exact_float_diffs

    if ctx.perturb:
        want = want.iloc[1:]
    for r in ctx.records:
        if r.kind != kind or not r.ok:
            continue
        problems = compare(r.out, want)
        if not problems and exact_float_diffs(r.out, want):
            problems = [f"{exact_float_diffs(r.out, want)} float cells not bit-identical"]
        if problems:
            fail([r], f"{kind} vs oracle: {problems[0]}", failures)
