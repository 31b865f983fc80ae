"""Reference twins of the ANN kernels, kept as test oracles.

The ANN stack runs its vector arithmetic through the NumPy kernels of
``plans/np_kernels.py``. The pure-JVM expression forms below are the
folds those kernels replaced — zip_with/aggregate sequential folds,
array_min (dist, cluster) tie-breaks — and tests/test_np_kernels.py pins
each kernel equal to its twin, bit for bit. The small adapters at the end
give the tests frame-level entry points into the production kernels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from customer_activity_lakehouse_spark.plans.ann_index import _cell_orders, _query_vec
from customer_activity_lakehouse_spark.plans.ml_ops import (
    PQ_M,
    PQ_SUB,
    _centroid_rows,
    _codebook_rows,
    _seed_centroids,
)
from customer_activity_lakehouse_spark.plans.np_kernels import assign_rows, pq_assign_rows
from customer_activity_lakehouse_spark.sources.snapshots import read_snapshot


def _km_assign_expr(embq: DataFrame, centroids: DataFrame) -> DataFrame:
    """Map-side argmin, pure-JVM expression form: centroids collapse to ONE
    broadcast row holding a sorted array<struct<cluster,c>>; each vector
    folds over it computing squared distances and takes array_min of
    (dist, cluster) structs — ties break toward the smaller cluster id in
    both engines. Vectors never shuffle.

    Reference twin of the Arrow kernel `np_kernels.assign_rows` (pinned
    equal in tests/test_np_kernels.py): interpreted HOF lambdas cost ~1.7 s per
    assignment pass at sf0.1 (2000 rows x 45 cells x 64 dims — measured
    r14), which the NumPy batch path does in ~0.05 s with bit-identical
    doubles."""
    carr = centroids.agg(
        F.array_sort(F.collect_list(F.struct("cluster", "c"))).alias("cents")
    )
    dist_structs = F.transform(
        F.col("cents"),
        lambda s: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("q"), s["c"], lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("dist"),
            s["cluster"].alias("cluster"),
        ),
    )
    best = F.array_min(dist_structs)
    return embq.crossJoin(F.broadcast(carr)).select(
        "vec_id", "q", best["cluster"].alias("cluster"), best["dist"].alias("dist")
    )


def _pq_cents_by_m(cents: DataFrame):
    """Collapse the codebook to ONE broadcastable row: cents[m+1] = the
    m-th subspace's 16 (cluster, c) structs, cluster-sorted."""
    return (
        cents.groupBy("m")
        .agg(F.array_sort(F.collect_list(F.struct("cluster", "c"))).alias("cm"))
        .agg(F.array_sort(F.collect_list(F.struct("m", "cm"))).alias("byms"))
        .select(F.transform("byms", lambda s: s["cm"]).alias("cents"))
    )


def _pq_assign_expr(sub_rows: DataFrame, cents: DataFrame) -> DataFrame:
    """Per-(vec, subspace) argmin, pure-JVM expression form — map-side
    against the broadcast codebook row; ties break toward the smaller
    cluster id. Reference twin of the Arrow kernel
    `np_kernels.pq_assign_rows` (pinned equal in tests/test_np_kernels.py)."""
    carr = _pq_cents_by_m(cents)
    my_cents = F.element_at(F.col("cents"), (F.col("m") + 1).cast("int"))
    dist_structs = F.transform(
        my_cents,
        lambda s: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("sq"), s["c"],
                    lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("dist"),
            s["cluster"].alias("cluster"),
        ),
    )
    best = F.array_min(dist_structs)
    return sub_rows.crossJoin(F.broadcast(carr)).select(
        "vec_id", "m", "sq", best["cluster"].alias("cluster")
    )


def _adc_cos():
    """The in-row ADC cosine expression over columns ``qq`` (quantized
    query), ``code`` (PQ code array) and ``cents`` (broadcast per-m
    codebooks) — independent of HOW qq arrived on the row, so the
    single-query (broadcast scalar) and batch (joined per-row) serve
    paths share the exact fold order and stay bit-identical."""

    def _subvec(arr, m):
        return F.transform(
            F.sequence(F.lit(1), F.lit(PQ_SUB)),
            lambda i: F.element_at(arr, (m * PQ_SUB + i).cast("int")),
        )

    def _fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)

    def _per_m(m):
        qv = _subvec(F.col("qq"), m)
        my_cents = F.element_at(F.col("cents"), (m + 1).cast("int"))
        cm = F.element_at(F.col("code"), (m + 1).cast("int"))
        c = F.element_at(
            F.filter(my_cents, lambda s: s["cluster"] == cm), 1
        )["c"]
        return F.struct(
            _fold(F.zip_with(c, qv, lambda a, b: a * b.cast("double"))).alias(
                "dot"
            ),
            _fold(F.transform(c, lambda x: x * x)).alias("sq"),
        )

    per_m = F.transform(F.sequence(F.lit(0), F.lit(PQ_M - 1)), _per_m)
    dots = _fold(F.transform(per_m, lambda s: s["dot"]))
    sqs = _fold(F.transform(per_m, lambda s: s["sq"]))
    qnorm = F.sqrt(
        F.aggregate(
            F.transform(F.col("qq"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("double")
    )
    return dots / (F.sqrt(sqs) * qnorm)


def _books_arr(spark: SparkSession, index_dir: str) -> DataFrame:
    """The PQ codebooks collapsed to ONE broadcastable row: per-m sorted
    (cluster, c) arrays, ordered by m."""
    books = read_snapshot(spark, f"{index_dir}/pq_codebooks")
    return (
        books.groupBy("m")
        .agg(F.array_sort(F.collect_list(F.struct("cluster", "c"))).alias("cm"))
        .agg(F.array_sort(F.collect_list(F.struct("m", "cm"))).alias("byms"))
        .select(F.transform("byms", lambda s: s["cm"]).alias("cents"))
    )


# ------------------------------------------- frame-level kernel adapters


def _km_assign(embq: DataFrame, centroids: DataFrame) -> DataFrame:
    """`assign_rows` against a centroid frame."""
    return assign_rows(embq, _centroid_rows(centroids))


def _pq_assign(sub_rows: DataFrame, cents: DataFrame) -> DataFrame:
    """`pq_assign_rows` against a codebook frame."""
    return pq_assign_rows(sub_rows, _codebook_rows(cents))


def _seed_centroids_scaled(embq: DataFrame, k: int) -> DataFrame:
    """The corpus-sized seeding rule: 8-hex-digit md5 buckets mod k."""
    return _seed_centroids(embq, k, 8)


def _ordered_cells(spark: SparkSession, index_dir: str, query_q: DataFrame) -> list[int]:
    """Every IVF cell of the index in the serve's probe order for ``query_q``."""
    return _cell_orders(spark, index_dir, [_query_vec(query_q)])[0]

