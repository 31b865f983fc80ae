"""r14 Arrow/NumPy kernel twins — bit-exactness pins.

The optimization round replaced the interpreted higher-order-function
folds of the ANN / k-means family with Arrow-vectorized NumPy kernels
(guide §4.2). The DuckDB oracles already re-verify every catalog entry's
VALUES; these tests pin the kernels against the retired JVM expression
forms DIRECTLY — same doubles, same argmin tie-breaks — so a future numpy
/ Arrow behavior change is caught at the kernel boundary, not as a
mysterious oracle hash drift:

- `_km_assign` (NumPy cumsum argmin) == `_km_assign_expr` (zip_with /
  aggregate fold + array_min) — exact (cluster, dist) per vector;
- `_pq_assign` == `_pq_assign_expr` — exact per-(vec, m) codeword;
- `_adc_code_cos_udf` (both the fixed-query and per-row-query variants)
  == the `_adc_cos` expression over `_books_arr` — exact UNROUNDED
  cosine doubles;
- the encode-in-kernel ADC path over raw vectors == the ADC over the
  same vectors' stored codes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from customer_activity_lakehouse_spark.plans.ann_index import (
    _encode_cells,
    _quantize,
    build_ann_index,
)
from customer_activity_lakehouse_spark.plans.ml_ops import (
    _codebook_rows,
    _km_update,
    _pq_fit_frame,
    _pq_subrows,
)
from customer_activity_lakehouse_spark.plans.np_kernels import adc_udf as _adc_code_cos_udf
from customer_activity_lakehouse_spark.sources.snapshots import read_snapshot

from .ann_twins import (
    _adc_cos,
    _books_arr,
    _km_assign,
    _km_assign_expr,
    _pq_assign,
    _pq_assign_expr,
    _seed_centroids_scaled,
)
from .test_ann_index import _corpus


def test_km_assign_kernel_matches_expression(spark):
    embq = _quantize(_corpus(spark, 0, 350))
    for k in (8, 19):  # legacy fixed-K and a corpus-sized cell count
        cents = _seed_centroids_scaled(embq, k)
        # second-iteration centroids too: non-integer doubles from the
        # mean division — the tie/precision regime training actually runs
        cents2 = _km_update(_km_assign(embq, cents))
        for c in (cents, cents2):
            want = sorted(
                (r["vec_id"], r["cluster"], r["dist"])
                for r in _km_assign_expr(embq, c).collect()
            )
            got = sorted(
                (r["vec_id"], r["cluster"], r["dist"])
                for r in _km_assign(embq, c).collect()
            )
            assert got == want  # exact doubles, exact tie-breaks


def test_pq_assign_kernel_matches_expression(spark):
    embq = _quantize(_corpus(spark, 0, 300))
    books = _pq_fit_frame(embq)
    sub = _pq_subrows(embq)
    want = sorted(
        (r["vec_id"], r["m"], r["cluster"])
        for r in _pq_assign_expr(sub, books).collect()
    )
    got = sorted(
        (r["vec_id"], r["m"], r["cluster"])
        for r in _pq_assign(sub, books).collect()
    )
    assert got == want


def test_adc_kernel_matches_expression(spark, tmp_path):
    idx = str(tmp_path / "idx")
    corpus = _corpus(spark, 0, 300)
    build_ann_index(spark, corpus, idx)
    codes = read_snapshot(spark, f"{idx}/codes")
    embq = _quantize(corpus)
    q0 = embq.filter(F.col("vec_id") == 7).select("q")
    # expression twin: broadcast books + query, fold in-row (UNROUNDED)
    want = {
        r["vec_id"]: r["cos"]
        for r in codes.crossJoin(F.broadcast(_books_arr(spark, idx)))
        .crossJoin(F.broadcast(q0.select(F.col("q").alias("qq"))))
        .select("vec_id", _adc_cos().alias("cos"))
        .collect()
    }
    book = _codebook_rows(read_snapshot(spark, f"{idx}/pq_codebooks"))
    qq = np.asarray(q0.head()[0], dtype=np.int64)
    adc_fixed = _adc_code_cos_udf(spark, book, qq)
    got_fixed = {
        r["vec_id"]: r["cos"]
        for r in codes.select("vec_id", adc_fixed("code").alias("cos")).collect()
    }
    assert got_fixed == want
    # per-row-query variant (the batch serve): same query attached per row
    adc_row = _adc_code_cos_udf(spark, book, None)
    with_q = codes.crossJoin(F.broadcast(q0.select(F.col("q").alias("qq"))))
    got_row = {
        r["vec_id"]: r["cos"]
        for r in with_q.select("vec_id", adc_row("code", "qq").alias("cos")).collect()
    }
    assert got_row == want


def test_adc_encode_path_matches_stored_codes(spark, tmp_path):
    """The in-plan PQ entries score RAW quantized vectors (encoded inside
    the kernel); the serve scores the STORED codes of the same vectors.
    Encode-then-lookup must give the serve's exact doubles."""
    idx = str(tmp_path / "idx")
    corpus = _corpus(spark, 0, 300)
    build_ann_index(spark, corpus, idx)
    embq = _quantize(corpus)
    book = _codebook_rows(read_snapshot(spark, f"{idx}/pq_codebooks"))
    qq = np.asarray(embq.filter(F.col("vec_id") == 7).head()["q"], dtype=np.int64)
    raw = _adc_code_cos_udf(spark, book, qq, encode=True)
    got = {r["vec_id"]: r["cos"] for r in embq.select("vec_id", raw("q").alias("cos")).collect()}
    stored = _adc_code_cos_udf(spark, book, qq)
    codes = read_snapshot(spark, f"{idx}/codes")
    want = {
        r["vec_id"]: r["cos"]
        for r in codes.select("vec_id", stored("code").alias("cos")).collect()
    }
    assert got == want


def test_ivf_probe_driver_ranking_matches_expression(spark):
    """`_ivf_probe_clusters` (r15 driver-side probe) == the retired in-plan
    probe: fold the query over the broadcast centroid array with the JVM
    aggregate expression, orderBy(cdist, cluster), limit — exact doubles,
    exact (dist, cluster) tie order, for several probe widths."""
    from customer_activity_lakehouse_spark.plans.ml_ops import (
        _centroid_rows,
        _ivf_probe_clusters,
    )

    embq = _quantize(_corpus(spark, 0, 300))
    for k in (8, 17):
        cents = _km_update(_km_assign(embq, _seed_centroids_scaled(embq, k)))
        rows = _centroid_rows(cents)
        q0 = embq.filter(F.col("vec_id") == 0)
        carr = cents.agg(
            F.array_sort(F.collect_list(F.struct("cluster", "c"))).alias("cents")
        )
        cent_dist = F.aggregate(
            F.zip_with(
                F.col("q"),
                F.col("cent.c"),
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        ranked = (
            q0.crossJoin(F.broadcast(carr))
            .select(F.explode("cents").alias("cent"), "q")
            .select(F.col("cent.cluster").alias("cluster"), cent_dist.alias("cdist"))
            .orderBy("cdist", "cluster")
        )
        qq = np.asarray(q0.select("q").head()[0], dtype=np.int64)
        for n_probes in (1, 2, 5, k):
            want = [r["cluster"] for r in ranked.limit(n_probes).collect()]
            assert _ivf_probe_clusters(rows, qq, n_probes) == want


def test_encode_cells_matches_staged_chain(spark):
    """The fused build kernel (cell argmin + PQ codes in one pass) equals
    the retired staged chain: expression assign for the cell, expression
    per-(vec, m) argmin collected in ascending-m order for the code."""
    embq = _quantize(_corpus(spark, 0, 250))
    cents = _km_update(_km_assign(embq, _seed_centroids_scaled(embq, 12)))
    books = _pq_fit_frame(embq)
    got = {
        r["vec_id"]: (r["cell"], tuple(r["code"]))
        for r in _encode_cells(embq, cents, books).collect()
    }
    cells = {
        r["vec_id"]: r["cluster"]
        for r in _km_assign_expr(embq, cents).collect()
    }
    staged = (
        _pq_assign_expr(_pq_subrows(embq), books)
        .groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("m", "cluster"))).alias("mc"))
        .select(
            "vec_id",
            F.transform("mc", lambda s: s["cluster"].cast("int")).alias("code"),
        )
    )
    want = {
        r["vec_id"]: (cells[r["vec_id"]], tuple(r["code"]))
        for r in staged.collect()
    }
    assert got == want
