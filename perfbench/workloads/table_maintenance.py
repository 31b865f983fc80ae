"""Table maintenance on the snapshot layer: writes beside reads on one table.

One lineitem-derived snapshot table (the first 200k rows of the sf0.1
lineitem in 4 files range-laid on its key ``k``, bloom-indexed on a
second unique key ``uk`` that the layout does not follow) receives seeded change batches staged as parquet
in setup. Per cycle the ops are:

- ``tm.merge``: ``merge_snapshot`` of a range-local 1% batch (updates of
  live keys plus 0.1% new keys);
- ``tm.delete``: ranged ``delete_snapshot`` of 0.5% of the key space;
- ``tm.mv_maintain``: ``maintain_sum_aggregate`` of a per-supplier
  SUM(quantity) materialized view from the change feed;
- ``tm.scd2``: ``apply_changes_scd2`` of a 1%-update / 0.2%-delete batch
  on a 15k-row customer dimension;
- ``tm.point_reads``: 10 bloom-pruned ``read_snapshot`` point lookups;
- ``tm.compact_vacuum``: ``compact_snapshot`` then ``vacuum``.

A NumPy model of the table replays the same batches in setup, so the
checks after the run need no second engine: row count and Σ quantity,
every lookup's exact rows, the MV against a full recompute from the
model, and the SCD2 open rows.
"""

from __future__ import annotations

import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from workloads import fail

TABLE_ROWS = 200_000
# Staged batches; the loop stops when they run out, so a run is one cycle.
# A second cycle would fail its MV maintenance: the first cycle's
# vacuum(keep_last=1) removes versions the MV has not consumed yet.
MAX_CYCLES = 1
LOOKUPS = 10
BASE_FILES = 4
COMPACT_TARGET_MB = 2  # above the ~1.7 MB base files: each OPTIMIZE re-packs the whole table
KINDS = ("tm.merge", "tm.delete", "tm.mv_maintain", "tm.scd2", "tm.point_reads",
         "tm.compact_vacuum")


def _uk(k: np.ndarray) -> np.ndarray:
    """A second unique key uncorrelated with k's range layout (odd
    multiplier mod 2^32 is a bijection)."""
    return np.char.mod("%08x", (k.astype(np.uint64) * np.uint64(2654435761)) % np.uint64(2**32))


class TableMaintenance:
    def __init__(self, ctx):
        from customer_activity_lakehouse_spark.sources import snapshots as snap
        from customer_activity_lakehouse_spark.sources.incremental import maintain_sum_aggregate
        from customer_activity_lakehouse_spark.sources.scd import apply_changes_scd2

        self.ctx, self.snap = ctx, snap
        self.maintain, self.scd2 = maintain_sum_aggregate, apply_changes_scd2
        spark = ctx.spark
        self.tdir, self.mvdir, self.sdir = ctx.path("tm_table"), ctx.path("tm_mv"), ctx.path("tm_scd")
        stage = ctx.path("tm_stage")
        with ctx.phase("bench.stage_batches"):
            li = pq.read_table(os.path.join(ctx.tables, "lineitem.parquet")).slice(0, TABLE_ROWS)
            cust = pq.read_table(os.path.join(ctx.tables, "customer.parquet"))
            self._stage(li, cust, stage)
        with ctx.phase("bench.table_build"):
            base = spark.read.parquet(os.path.join(stage, "base.parquet")).repartitionByRange(BASE_FILES, "k")
            snap.commit_append(spark, self.tdir, base, stats_cols=["k"])
            snap.set_bloom_filter(spark, self.tdir, ["uk"], m_bits=2**19, k=5, backfill=True)
            maintain_sum_aggregate(spark, self.tdir, self.mvdir, ["l_suppkey"], ["quantity"])
            apply_changes_scd2(spark, self.sdir, spark.read.parquet(os.path.join(stage, "scd_0.parquet")),
                               ["k"], "lsn", stats_cols=["k"])
        self.files: dict[str, int] = self._listing()
        self.bytes_written = 0
        ctx.after_op.append(self._observe)

    # ------------------------------------------------------------------ setup

    def _stage(self, li: pa.Table, cust: pa.Table, stage: str) -> None:
        """Base table, per-cycle batches and the model's expected state."""
        rng = np.random.default_rng([self.ctx.seed, 101])
        os.makedirs(stage, exist_ok=True)
        n = li.num_rows
        k = np.arange(n, dtype=np.int64)
        cols = {
            "k": k,
            "uk": _uk(k),
            "l_orderkey": li.column("l_orderkey").to_numpy(),
            "l_suppkey": li.column("l_suppkey").to_numpy(),
            "quantity": li.column("l_quantity").to_numpy().astype(np.int64),
            "price_cents": np.round(li.column("l_extendedprice").to_numpy() * 100).astype(np.int64),
        }
        cap = n + MAX_CYCLES * max(1, n // 1000)
        model = {c: np.zeros(cap, dtype=v.dtype) for c, v in cols.items()}
        for c, v in cols.items():
            model[c][:n] = v
        alive = np.zeros(cap, dtype=bool)
        alive[:n] = True
        self._write(os.path.join(stage, "base.parquet"), cols)

        cust_k = cust.column("c_custkey").to_numpy()
        bal = np.round(cust.column("c_acctbal").to_numpy() * 100).astype(np.int64)
        seg = cust.column("c_mktsegment").to_numpy(zero_copy_only=False)
        c_alive = np.ones(len(cust_k), dtype=bool)
        self._write_scd(os.path.join(stage, "scd_0.parquet"), cust_k, seg, bal, 1,
                        np.array(["insert"] * len(cust_k)))

        self.cycles = []
        nxt = n
        width, del_width, n_ins = max(10, n // 100), max(5, n // 200), max(1, n // 1000)
        for c in range(MAX_CYCLES):
            # merge: update live keys in a seeded window, insert new keys at the tail
            lo = int(rng.integers(0, nxt - width))
            upd = np.flatnonzero(alive[lo:lo + width]) + lo
            model["quantity"][upd] += rng.integers(1, 6, len(upd))
            ins = np.arange(nxt, nxt + n_ins)
            src = rng.integers(0, n, n_ins)
            for col in ("l_orderkey", "l_suppkey", "quantity", "price_cents"):
                model[col][ins] = model[col][src]
            model["k"][ins] = ins
            model["uk"][ins] = _uk(ins)
            alive[ins] = True
            nxt += n_ins
            rows = np.concatenate([upd, ins])
            mpath = os.path.join(stage, f"merge_{c + 1}.parquet")
            self._write(mpath, {col: v[rows] for col, v in model.items()})
            # ranged delete
            dlo = int(rng.integers(0, nxt - del_width))
            dhi = dlo + del_width - 1
            n_del = int(alive[dlo:dhi + 1].sum())
            alive[dlo:dhi + 1] = False
            # SCD2 batch: 1% updates, 0.2% deletes of live customers
            live_c = np.flatnonzero(c_alive)
            pick = rng.choice(live_c, max(2, len(cust_k) // 100 + len(cust_k) // 500), replace=False)
            n_upd = max(1, len(cust_k) // 100)
            up, de = pick[:n_upd], pick[n_upd:]
            bal[up] += rng.integers(1, 10_000, len(up))
            c_alive[de] = False
            spath = os.path.join(stage, f"scd_{c + 1}.parquet")
            self._write_scd(spath, cust_k[pick], seg[pick], bal[pick], c + 2,
                            np.array(["update"] * len(up) + ["delete"] * len(de)))
            # lookups: exact expected rows after this cycle's merge + delete
            probes = rng.choice(np.flatnonzero(alive[:nxt]), LOOKUPS, replace=False)
            expect = [(str(model["uk"][p]), int(model["k"][p]), int(model["quantity"][p]),
                       int(model["price_cents"][p])) for p in probes]
            live_idx = np.flatnonzero(alive[:nxt])
            self.cycles.append({
                "merge": mpath, "merge_rows": len(rows), "delete": (dlo, dhi), "deleted": n_del,
                "scd": spath, "scd_rows": len(pick), "lookups": expect,
                "rows": int(alive.sum()), "sum_qty": int(model["quantity"][live_idx].sum()),
                "mv": np.bincount(model["l_suppkey"][live_idx], weights=model["quantity"][live_idx]),
                "mv_n": np.bincount(model["l_suppkey"][live_idx]),
                "scd_open": int(c_alive.sum()), "scd_bal": int(bal[c_alive].sum()),
            })

    @staticmethod
    def _write(path: str, cols: dict) -> None:
        pq.write_table(pa.table({
            "k": pa.array(cols["k"], pa.int64()),
            "uk": pa.array(cols["uk"].astype(str)),
            "l_orderkey": pa.array(cols["l_orderkey"], pa.int64()),
            "l_suppkey": pa.array(cols["l_suppkey"], pa.int64()),
            "quantity": pa.array(cols["quantity"], pa.int64()),
            "price": _money(cols["price_cents"]),
        }), path)

    @staticmethod
    def _write_scd(path, keys, seg, bal_cents, lsn, change) -> None:
        is_del = change == "delete"
        pq.write_table(pa.table({
            "k": pa.array(keys, pa.int64()),
            "segment": pa.array([None if d else s for d, s in zip(is_del, seg)], pa.string()),
            "bal": _money(bal_cents, null=is_del),
            "lsn": pa.array(np.full(len(keys), lsn), pa.int64()),
            "change_type": pa.array(change.tolist()),
        }), path)

    # ------------------------------------------------------------------ ops

    def cycle(self, i: int) -> list:
        if i >= len(self.cycles):
            return []
        c, spark, snap, tr = self.cycles[i], self.ctx.spark, self.snap, self.ctx.tracer
        lo, hi = c["delete"]

        def merge():
            with tr.span("sources.snapshots.merge"):
                snap.merge_snapshot(spark, self.tdir, spark.read.parquet(c["merge"]), keys=["k"],
                                    stats_cols=["k"])

        def delete():
            with tr.span("sources.snapshots.delete"):
                snap.delete_snapshot(spark, self.tdir, f"k BETWEEN {lo} AND {hi}",
                                     prune_where=("k", lo, hi), stats_cols=["k"])

        def mv():
            with tr.span("sources.incremental.maintain_sum_aggregate"):
                self.maintain(spark, self.tdir, self.mvdir, ["l_suppkey"], ["quantity"])

        def scd():
            with tr.span("sources.scd.apply_changes_scd2"):
                self.scd2(spark, self.sdir, spark.read.parquet(c["scd"]), ["k"], "lsn",
                          stats_cols=["k"])

        def lookups():
            out = []
            for uk, *_ in c["lookups"]:
                with tr.span("sources.snapshots.point_read"):
                    df = snap.read_snapshot(spark, self.tdir, point_where={"uk": uk})
                    out.append(df.where(df.uk == uk).collect())
            return out

        def compact_vacuum():
            with tr.span("sources.snapshots.compact"):
                snap.compact_snapshot(spark, self.tdir, target_file_mb=COMPACT_TARGET_MB,
                                      stats_cols=["k"])
            with tr.span("sources.snapshots.vacuum"):
                snap.vacuum(spark, self.tdir, keep_last=1)

        return [("tm.merge", merge, c["merge_rows"]), ("tm.delete", delete, c["deleted"]),
                ("tm.mv_maintain", mv, 0), ("tm.scd2", scd, c["scd_rows"]),
                ("tm.point_reads", lookups, 0), ("tm.compact_vacuum", compact_vacuum, 0)]

    def _listing(self) -> dict[str, int]:
        out = {}
        for d in (self.tdir, self.mvdir, self.sdir):
            for root, _dirs, names in os.walk(d):
                for f in names:
                    p = os.path.join(root, f)
                    out[p] = os.path.getsize(p)
        return out

    def _observe(self, rec) -> None:
        """After each op, outside its timing: bytes of files it created."""
        if rec.kind not in KINDS:
            return
        now = self._listing()
        self.bytes_written += sum(s for p, s in now.items() if p not in self.files)
        self.files = now

    # ------------------------------------------------------------------ checks

    def finish(self) -> list[str]:
        from pyspark.sql import functions as F

        ctx, spark, snap = self.ctx, self.ctx.spark, self.snap
        recs = [r for r in ctx.records if r.kind in KINDS]
        done = sum(1 for r in recs if r.kind == "tm.merge")
        want = self.cycles[done - 1]
        ctx.report["table_maintenance"] = {"cycles": done}
        ctx.report["bytes_written_per_input_byte"] = self.bytes_written / sum(
            os.path.getsize(c["merge"]) + os.path.getsize(c["scd"]) for c in self.cycles[:done])
        detail = snap.snapshot_detail(spark, self.tdir).first()
        live = snap.read_snapshot(spark, self.tdir)
        copy = ctx.path("tm_compacted")
        live.coalesce(1).write.parquet(copy)
        ctx.report["stored_bytes_per_live_byte"] = datagen.dir_bytes(self.tdir) / datagen.dir_bytes(copy)
        ctx.layers["sources.snapshots.live_files"] = detail["n_files"]
        ctx.layers["sources.snapshots.bytes_written_per_batch"] = self.bytes_written / done
        if ctx.trace:
            self._probe_pruning(live, want["lookups"])

        failures: list[str] = []
        n_rows, sum_qty = live.agg(F.count(F.lit(1)), F.sum("quantity")).first()
        exp_rows = want["rows"] + (1 if ctx.perturb else 0)
        if (n_rows, sum_qty) != (exp_rows, want["sum_qty"]):
            fail([r for r in recs if r.kind in ("tm.merge", "tm.delete")],
                 f"table: rows/sum(quantity) {(n_rows, sum_qty)} != model {(exp_rows, want['sum_qty'])}",
                 failures)
        for r, c in zip([r for r in recs if r.kind == "tm.point_reads"], self.cycles):
            if r.ok and not _lookups_match(r.out, c["lookups"]):
                fail([r], "point lookups returned rows that differ from the model", failures)
        mv = {row["l_suppkey"]: (row["quantity"], row["n_rows"])
              for row in snap.read_snapshot(spark, self.mvdir).collect()}
        exp_mv = {s: (int(q), int(n)) for s, (q, n) in enumerate(zip(want["mv"], want["mv_n"])) if n}
        if mv != exp_mv:
            fail([r for r in recs if r.kind == "tm.mv_maintain"],
                 f"MV differs from a full recompute on {len(set(mv.items()) ^ set(exp_mv.items()))} keys",
                 failures)
        opened = snap.read_snapshot(spark, self.sdir).where("valid_to IS NULL")
        n_open, bal = opened.agg(F.count(F.lit(1)), F.sum("bal")).first()
        got = (n_open, int((bal or 0) * 100))
        if got != (want["scd_open"], want["scd_bal"]):
            fail([r for r in recs if r.kind == "tm.scd2"],
                 f"SCD2 open rows/sum(bal cents) {got} != model {(want['scd_open'], want['scd_bal'])}",
                 failures)
        return failures

    def _probe_pruning(self, live, lookups) -> None:
        """Files a bloom-pruned point read touches vs the live file count."""
        spark, snap = self.ctx.spark, self.snap
        n_all = len([f for f in live.inputFiles() if "-dv-" not in f])
        reads = []
        for uk, *_ in lookups:
            df = snap.read_snapshot(spark, self.tdir, point_where={"uk": uk})
            reads.append(len([f for f in df.inputFiles() if "-dv-" not in f]))
        per = sum(reads) / len(reads)
        self.ctx.layers["sources.snapshots.files_read_per_lookup"] = per
        self.ctx.layers["sources.bloom.files_pruned_ratio"] = 1.0 - per / max(1, n_all)


def _money(cents: np.ndarray, null=None) -> pa.Array:
    """Integer cents as DECIMAL(18,2)."""
    vals = [None if null is not None and null[i] else Decimal(int(c)).scaleb(-2)
            for i, c in enumerate(cents)]
    return pa.array(vals, pa.decimal128(18, 2))


def _lookups_match(got: list, expect: list) -> bool:
    if len(got) != len(expect):
        return False
    for rows, (uk, k, qty, cents) in zip(got, expect):
        if len(rows) != 1:
            return False
        r = rows[0]
        if (r["uk"], r["k"], r["quantity"], int(r["price"] * 100)) != (uk, k, qty, cents):
            return False
    return True
