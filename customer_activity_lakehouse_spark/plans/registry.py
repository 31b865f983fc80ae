"""Query registry plumbing shared by the catalog modules."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    """One catalog entry.

    fn      : (spark, sf_dir) -> DataFrame — the Spark plan.
    oracle  : equivalent DuckDB SQL over the pre-registered views
              (region nation customer supplier part orders lineitem events
              documents embeddings), or None for non-SQL-expressible ops
              (driver then records a weaker rows-only check).
    tags    : free-form labels ("tpch", "window", "dedup", ...).
    bench   : include in bench.py's headline set.
    """

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default=())
    bench: bool = False


def materialize(df: DataFrame) -> DataFrame:
    """Cut a diamond-shaped plan at a reused stage (guide §5): compute the
    frame ONCE and hand every consumer the materialized blocks, instead of
    letting each downstream reference re-execute the whole upstream
    lineage (Spark shares no common subexpressions across a DAG — a frame
    referenced k times runs k times; dedup_setsim_capped re-tokenized the
    corpus 17× at sf0.1 this way). Reliable checkpoint when the session
    has a checkpoint dir (``session.get_spark`` sets one since r15, so the
    blocks survive executor loss on a cluster — a localCheckpoint'ed
    corpus frame is non-recomputable and kills the job when any holding
    executor dies, guide §5); else localCheckpoint. The frame is persisted
    around a reliable checkpoint because ``RDD.checkpoint`` runs a SECOND
    job to write the files — without the cache the whole upstream lineage
    executes twice. Values are unchanged; the cache is dropped once the
    checkpoint files exist, and the files themselves are removed by the
    ContextCleaner when the frame is garbage-collected
    (``spark.cleaner.referenceTracking.cleanCheckpoints=true``)."""
    spark = df.sparkSession
    if spark.sparkContext.getCheckpointDir() is not None:
        df = df.persist()
        try:
            return df.checkpoint(eager=True)
        finally:
            df.unpersist()
    return df.localCheckpoint(eager=True)


def overlap(spark: SparkSession, *thunks: Callable[[], object]) -> list:
    """Run independent driver-side chains — each a short series of Spark
    jobs — from one driver thread apiece, so one chain's job latency
    back-fills another's (guide §2.6); returns their results in argument
    order. In pinned-thread mode each thread inherits the caller's local
    properties and tags; with it off, ``inheritable_thread_target(spark)``
    hands back the session rather than a decorator, and plain threads are
    all there is to inherit. Every future is read after all have finished,
    so a failing chain raises here."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    inherit = inheritable_thread_target(spark)
    if not isinstance(inherit, SparkSession):  # pinned-thread mode is on
        thunks = tuple(inherit(t) for t in thunks)
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
    return [f.result() for f in futures]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return events_table(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet's `ts` physical type has varied across driver-generated
    fixture generations: TIMESTAMP(NANOS) (rounds 1-3) and TIMESTAMP(MICROS)
    with no tz (round 4+). Normalize every generation to session-local
    TimestampType so downstream plans (`unix_micros`, windows, watermarks)
    see one dtype:

    - LongType (nanos read under ``spark.sql.legacy.parquet.nanosAsLong=true``,
      set by ``get_spark`` and ``__spark_entry__._pin_session``): rebuild a
      microsecond timestamp via `DIV 1000` — integer division, not `/1000`,
      because epoch-nanos (~1.7e18) exceed the 2^53 double mantissa and a fp
      division would corrupt low bits.
    - TimestampNTZType (micros, isAdjustedToUTC=false): cast to TimestampType;
      the session timezone is pinned to UTC, so the wall-clock fields are
      preserved exactly and match DuckDB's naive-timestamp view of the file.
    - TimestampType: already what we want.

    Dtype dispatch happens at plan time from the file schema — no runtime
    ``conf.set`` here (a reader mutating the shared session would race every
    other thread planning a query)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = raw.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    if isinstance(ts_type, T.TimestampType):
        return raw
    # Fail at the normalization boundary, not in some downstream
    # unix_micros/window plan with a confusing error (ADVICE r4).
    raise TypeError(
        f"events.ts has unsupported physical type {ts_type}; expected "
        "LongType (nanos-as-long), TimestampNTZType (micros), or TimestampType"
    )
