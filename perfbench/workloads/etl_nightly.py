"""etl_nightly — the reference's own job: one nightly rebuild per op.

Op: ``run_pipeline``'s six steps (CSV → raw parquet → curated star
schema, overwriting the zones like the nightly rebuild) over 100,000
generated transactions, then the two star rollups over ``load_star``:
``revenue_by_category_date`` (date-pruned from a seeded day) and
``customer_segment_revenue``. Write-heavy: ~10 MB of CSV in, ~1,500 files
out (a date partition per day of the year in each zone). Exercises
pipeline, operators.curate, sources.csv and sources.parquet; bypasses
plans, the snapshot layer and the indexes.

The first rebuild in a fresh JVM is about twice as slow as the next ones
and its time swings with JIT compilation, so setup ends with an untimed
warm-up rebuild into the same zones. Its input is the generated
transactions moved onto one day: the same rows and code paths, but two
date partitions instead of ~730, so it costs about half a full rebuild.

Check (every op, outside the timed region): the curated fact's valid-row
count and the per (category, date) revenue and row count equal DuckDB
over the generated CSVs. Revenue is compared to the exact decimal sum
within 0.01, one unit of the 2-dp output, because the pipeline sums
doubles.
"""

from __future__ import annotations

import datetime as dt
import os
import random

from datagen import dir_bytes
from harness import noop_sink
from workloads import fail

N_TXN, N_CUST, N_PROD = 100_000, 10_000, 900
TINY_TXN = 10_000
ANCHOR = "2025-06-30 12:00:00"  # the generator's "now", fixed so inputs depend on the seed only


class EtlNightly:
    def __init__(self, ctx):
        from customer_activity_lakehouse_spark import pipeline as P

        self.ctx, self.P = ctx, P
        spark, tr = ctx.spark, ctx.tracer
        self.n_txn = TINY_TXN if ctx.tiny else N_TXN
        with ctx.phase("generate.fixture_csvs"):
            self.csvs = P.generate_fixture_csvs(spark, ctx.path("in"), n_transactions=self.n_txn,
                                                n_customers=N_CUST, n_products=N_PROD,
                                                seed=ctx.seed, anchor_ts=ANCHOR)
        self.input_bytes = sum(dir_bytes(p) for p in self.csvs)
        rng = random.Random(ctx.seed)
        anchor = dt.date.fromisoformat(ANCHOR[:10])
        self.date_from = (anchor - dt.timedelta(days=rng.randint(30, 120))).isoformat()
        if ctx.trace:
            _trace_pipeline(P, tr)
        self.cfg = P.LakehouseConfig(ctx.path("raw"), ctx.path("curated"))
        with ctx.phase("bench.warmup"):
            self.rebuild(_one_day_copy(self.csvs[0], ctx.path("in_warmup"), anchor))

    def rebuild(self, transactions_csv: str | None = None):
        P, spark, cfg = self.P, self.ctx.spark, self.cfg
        P.run_pipeline(spark, cfg, transactions_csv or self.csvs[0], *self.csvs[1:])
        with self.ctx.tracer.span("pipeline.star_rollup"):
            star = P.load_star(spark, cfg)
            fact = star["fact_customer_transactions"]
            rev = P.revenue_by_category_date(fact, star["dim_product"], self.date_from).collect()
            seg = P.customer_segment_revenue(fact, star["dim_customer"]).collect()
        return rev, seg

    def cycle(self, _i: int) -> list:
        return [("etl_nightly", self.rebuild, self.n_txn)]

    def finish(self) -> list[str]:
        from customer_activity_lakehouse_spark.sources.csv import read_transactions_csv

        ctx = self.ctx
        written = _written(self.cfg)
        ctx.report["bytes_written_per_input_byte"] = written["bytes"] / self.input_bytes
        ctx.report["input_csv_bytes"] = self.input_bytes
        ctx.layers["pipeline.files_written"] = written["files"]
        ctx.layers["pipeline.bytes_written"] = written["bytes"]
        if ctx.trace:  # the CSV scan alone, outside any op
            ctx.tracer.enabled = True
            for _ in range(3):
                with ctx.tracer.span("sources.csv.scan"):
                    noop_sink(read_transactions_csv(ctx.spark, self.csvs[0]))
            ctx.tracer.enabled = False
        return _check(ctx, ctx.spark, self.cfg, self.csvs, self.date_from)


def _one_day_copy(csv_dir: str, out_dir: str, day: dt.date) -> str:
    """The transactions CSV with every parseable timestamp moved to
    ``day - 1`` (unparseable ones kept as they are), as one file."""
    import duckdb

    os.makedirs(out_dir)
    on = (day - dt.timedelta(days=1)).isoformat()
    duckdb.connect().execute(f"""
        COPY (SELECT * REPLACE (
                CASE WHEN try_strptime(transaction_timestamp, '%Y-%m-%d %H:%M:%S') IS NULL
                     THEN transaction_timestamp
                     ELSE '{on}' || substr(transaction_timestamp, 11) END AS transaction_timestamp)
              FROM read_csv('{csv_dir}/*.csv', header=true, all_varchar=true))
        TO '{out_dir}/part-0.csv' (HEADER)""")
    return out_dir


def _trace_pipeline(P, tr) -> None:
    """Record spans around the pipeline's steps: ``run_pipeline`` calls
    them through module globals, so wrapping those globals is enough."""
    names = {
        "ingest_transactions": "pipeline.ingest_transactions",
        "ingest_products": "pipeline.ingest_dims",
        "ingest_customers": "pipeline.ingest_dims",
        "curate_transactions": "pipeline.curate_transactions",
        "curate_customers": "pipeline.curate_dims",
        "curate_products": "pipeline.curate_dims",
    }
    for fn, span in names.items():
        setattr(P, fn, tr.wrap(span, getattr(P, fn)))


def _written(cfg) -> dict:
    """Files and bytes one rebuild leaves in the two zones (each op
    overwrites the previous one's output)."""
    files = 0
    for zone in (cfg.raw_dir, cfg.curated_dir):
        for _root, _dirs, names in os.walk(zone):
            files += len(names)
    return {"files": files, "bytes": dir_bytes(cfg.raw_dir) + dir_bytes(cfg.curated_dir)}


def _check(ctx, spark, cfg, csvs, date_from) -> list[str]:
    import duckdb

    con = duckdb.connect()
    con.execute(f"""
        CREATE VIEW txn AS
        SELECT try_strptime(transaction_timestamp, '%Y-%m-%d %H:%M:%S') AS ts,
               product_id, quantity::BIGINT AS quantity, price::DECIMAL(18,2) AS price
        FROM read_csv('{csvs[0]}/*.csv', header=true, all_varchar=true)""")
    con.execute(f"""
        CREATE VIEW prod AS
        SELECT product_id,
               upper(product_category[1]) || lower(product_category[2:]) AS category
        FROM read_csv('{csvs[1]}/*.csv', header=true, all_varchar=true)""")
    valid = con.execute("SELECT count(*) FROM txn WHERE ts IS NOT NULL").fetchone()[0]
    expect = {
        (cat, day): (float(rev), n)
        for cat, day, rev, n in con.execute(f"""
            SELECT p.category, strftime(t.ts, '%Y-%m-%d') AS day,
                   round(sum(t.quantity * t.price), 2), count(*)
            FROM txn t LEFT JOIN prod p USING (product_id)
            WHERE t.ts IS NOT NULL AND strftime(t.ts, '%Y-%m-%d') >= '{date_from}'
            GROUP BY ALL""").fetchall()
    }
    if ctx.perturb:
        valid += 1
    failures: list[str] = []
    curated = spark.read.parquet(cfg.fact_customer_transactions).count()
    if curated != valid:
        fail(ctx.records, f"valid rows: curated {curated} != DuckDB {valid}", failures)
    for r in ctx.records:
        if not r.ok:
            continue
        rev, _seg = r.out
        got = {(x["product_category"], x["transaction_date"]): (x["revenue"], x["n_transactions"])
               for x in rev}
        bad = [k for k in expect.keys() | got.keys()
               if k not in got or k not in expect
               or got[k][1] != expect[k][1] or abs(got[k][0] - expect[k][0]) > 0.01 + 1e-9]
        if bad:
            fail([r], f"revenue by category/date: {len(bad)} groups differ, e.g. {bad[0]}", failures)
    return failures
