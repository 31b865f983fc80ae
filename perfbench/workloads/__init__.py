"""Workloads, each a closed loop over the op cycles of one or more parts.

A part's constructor builds its inputs from ``ctx.seed`` (setup);
``cycle(i)`` returns its ops for cycle i; ``finish()`` runs the
output checks after the timed region, marks failed ops and returns the
check-failure descriptions."""

from __future__ import annotations

import importlib
from concurrent.futures import ThreadPoolExecutor


# workload -> (scale of the generated driver tables or None, the parts
# whose op cycles it interleaves)
WORKLOADS = {
    "etl_nightly": (None, [("etl_nightly", "EtlNightly")]),
    "tables_serve": (0.1, [("table_maintenance", "TableMaintenance"),
                           ("vector_text_serve", "VectorTextServe"),
                           ("star_queries", "StarQueries")]),
}
TINY_SF = 0.001


def run(name: str, ctx) -> list[str]:
    """Generate the shared driver tables, set the parts up (concurrently:
    independent tables and indexes on one session), run the timed loop
    over their interleaved cycles, check."""
    import datagen

    sf, part_names = WORKLOADS[name]
    if sf is not None:
        ctx.tables = ctx.path("tables")
        with ctx.phase("bench.datagen"):
            ctx.report["table_rows"] = datagen.write_tables(ctx.tables, TINY_SF if ctx.tiny else sf,
                                                            ctx.seed)
    if ctx.trace:
        trace_registry(ctx.tracer)
    classes = [getattr(importlib.import_module(f"workloads.{mod}"), cls) for mod, cls in part_names]
    with ThreadPoolExecutor(len(classes)) as pool:
        parts = [f.result() for f in [pool.submit(c, ctx) for c in classes]]

    def cycle(i: int) -> list:
        ops = [p.cycle(i) for p in parts]
        return [] if not all(ops) else [op for part_ops in ops for op in part_ops]

    ctx.run_timed(cycle)
    return [f for p in parts for f in p.finish()]


def fail(recs, why: str, failures: list[str]) -> None:
    """Mark ``recs`` failed by an output check."""
    for r in recs:
        if r.error is None:
            r.error = f"check: {why}"
    failures.append(why)


def trace_registry(tracer) -> None:
    """Record a ``plans.registry.table`` span around every driver-table
    resolution inside catalog plans. Catalog modules import the registry's
    ``table``/``events_table`` by name, so their module globals are wrapped."""
    import sys

    from customer_activity_lakehouse_spark.plans import registry

    originals = {attr: getattr(registry, attr) for attr in ("table", "events_table")}
    for name, mod in list(sys.modules.items()):
        if mod is registry or not name.startswith("customer_activity_lakehouse_spark.plans."):
            continue
        for attr, fn in originals.items():
            if getattr(mod, attr, None) is fn:
                setattr(mod, attr, tracer.wrap("plans.registry.table", fn))
