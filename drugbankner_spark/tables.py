"""Loaders for the harness parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under a scale-factor dir.

All reads go through ``spark.read.parquet`` so Catalyst gets vectorized
scans, predicate pushdown and column pruning for free. Dimension tables
(region/nation/supplier at TPC-H ratios) stay small at every SF and are
broadcast at join sites by the operators that consume them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drugbankner_spark.caching import session_memo

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Tables that remain small relative to the fact side at any scale factor
#: (TPC-H ratios: region=5, nation=25; supplier/part grow slowly). These are
#: safe broadcast candidates; `customer` is borderline and left to AQE.
BROADCAST_DIMS = ("region", "nation", "supplier")


DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The analyzed table, memoized per session: re-creating a reader
    re-runs file listing + footer schema jobs on the driver (~0.1-0.4 s
    each); reusing the analyzed relation skips all of it while
    remaining fully lazy."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    reads = session_memo(spark).setdefault("tables", {})
    key = (sf_dir, name)
    if key not in reads:
        reads[key] = _read_table(spark, sf_dir, name)
    return reads[key]


def _max_partition_bytes(spark: SparkSession) -> int:
    try:
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes")
        m = str(raw).strip().lower()
        for suf, mult in (("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10),
                          ("b", 1)):
            if m.endswith(suf):
                return int(float(m[:-1]) * mult)
        return int(m)
    except Exception:
        return 128 * 1024 * 1024


#: :func:`spread_input` leaves inputs above this size alone.
SPREAD_CAP_BYTES = 1 << 30


def spread_input(df: DataFrame) -> DataFrame:
    """Repair the parallelism of a small unsplittable input ahead of a
    per-row-HEAVY stage (guide §2.5 "input skew" / §6): the local
    fixtures are ONE parquet row group per table, so Spark plans
    ``bytes / maxPartitionBytes`` splits but only the split holding the
    row-group midpoint yields rows — an n-gram scan, regex sweep, or
    vectorized kernel downstream executes in ONE task no matter how
    many cores the session has.

    Called by the operators whose per-row work dominates their runtime
    (the gopher kernel, char-LM n-gram explode, DSIR feature hashing,
    identifier extraction) — NOT by ``load_table``: a blanket spread
    taxes every multi-job/iterative consumer with one extra exchange
    per job re-execution, measured a net loss on shuffle-light queries
    (r15 A/B), and persisting it instead defeats column pruning.

    Gate: the optimizer's size estimate for THIS subtree (column-pruned,
    no job) must be under what ONE scan task would read anyway
    (``est_splits < defaultParallelism``) and under
    :data:`SPREAD_CAP_BYTES` (1 GiB). At scale the gate never fires —
    a multi-GiB input plans enough splits on its own — so this is
    input layout repair, not a local-mode constant.

    The exchange is ROUND-ROBIN on purpose: `count_shuffles` (the plan
    tests' shuffle budget) counts hash/range exchanges — the
    algorithmic shuffles an operator is responsible for — and a
    source-layout spread is not one of them."""
    spark = df.sparkSession
    total_bytes = est_plan_bytes(df)
    if total_bytes is None or not 0 < total_bytes <= SPREAD_CAP_BYTES:
        return df
    target = spark.sparkContext.defaultParallelism
    est_splits = -(-total_bytes // _max_partition_bytes(spark))
    if est_splits >= target:
        return df
    return df.repartition(target)


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Literal dim via the Arrow fast path (round 16, guide §4).

    ``spark.createDataFrame(list, schema)`` plans a Python-RDD-backed
    local relation: EVERY execution of the subtree round-trips a
    Python worker (~0.3-0.5 s per consuming job on a warm session, and
    ~5 s inside a parquet write task — both measured this round). For
    the engine's driver-built dims (per-round rank offsets, bucket
    offset tables, collected query rows) that tax recurs once per
    consuming job. Building an Arrow table from the same rows ships ONE
    Arrow batch to the JVM at plan time; execution is then pure JVM.
    The columns are built with the target schema's Arrow types, so a
    nullable long column keeps every int64 exactly (a pandas detour
    would hold it as float64 once a None appears). Non-empty rows only
    — empty inputs keep the plain path (their execution is trivially
    cheap), as does anything Arrow cannot represent (the fallback
    preserves exact semantics)."""
    if rows:
        try:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema
            from pyspark.sql.types import StructType

            struct = (schema if isinstance(schema, StructType)
                      else StructType.fromDDL(schema))
            arrow = to_arrow_schema(struct)
            cols = zip(*(tuple(r) for r in rows))
            table = pa.Table.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
                schema=arrow,
            )
            return spark.createDataFrame(table, schema=struct)
        except Exception:
            pass
    return spark.createDataFrame(rows, schema)


#: Dims at or below this many rows take the explicit broadcast hint;
#: above it the hint is omitted and AQE picks the join strategy (a
#: shuffle join for a genuinely huge dim). ~2M rows of (key, double) is
#: tens of MB serialized, comfortably inside executor broadcast
#: budgets; an un-pruned web-scale dim (an ontology's full alias table,
#: a bigram model without min_count) is not.
BROADCAST_MAX_ROWS = 2_000_000


def maybe_broadcast(dim: DataFrame) -> DataFrame:
    """``F.broadcast(dim)`` when one count job on the (already
    aggregated, bounded) dim says it fits under
    :data:`BROADCAST_MAX_ROWS`; the bare dim otherwise, so AQE chooses
    the join. The count scans the dim only, never the fact side, so
    callers persist a dim that is costly to recompute."""
    return F.broadcast(dim) if dim.count() <= BROADCAST_MAX_ROWS else dim


def est_plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for this subtree (column-pruned
    optimized plan, no job). None when the estimate is unavailable."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(str(stats.sizeInBytes()))
    except Exception:
        return None


def fits_one_task(df: DataFrame, factor: float = 1.0) -> bool:
    """True when the subtree's estimated input fits inside ``factor``
    scan tasks' worth of bytes — the gate the eager cache
    materializations reuse (VERDICT r15 next #6, guide §1.2/§5).

    An eager ``count()`` (or a pre-repartition) that warms a shared
    persist before AQE fans concurrent stage jobs over it only pays
    when recomputing the cached pass cold is more expensive than one
    extra scheduler round trip. Below one task's worth of input the
    whole pass is a single small task — the protection costs more
    than the recompute it prevents (r15 driver: e1_minhash_* −18/−33%,
    e2_kmeans −13% from ungated eagerness). At scale the estimate is
    orders of magnitude past the threshold and the gate never skips,
    so this is not a local-mode constant. Unknown estimates return
    False (keep the protection)."""
    b = est_plan_bytes(df)
    if b is None or b <= 0:
        return False
    return b <= factor * _max_partition_bytes(df.sparkSession)


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts varies by testdata generation: TIMESTAMP(NANOS) (which
        # Spark's vectorized reader rejects — read nanos as long and
        # convert; µs precision makes the truncation lossless) or plain
        # TIMESTAMP(MICROS) read as NTZ. Branch on the loaded type and
        # normalize to session-TZ TimestampType (UTC session → the NTZ
        # cast is value-preserving and matches the DuckDB oracle).
        from pyspark.sql import types as T

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # integer div: float division loses µs precision on 1.7e18-ns values
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif not isinstance(ts_type, T.TimestampType):
            # ADVICE r02: an unexpected ts type (e.g. string) must fail
            # loudly here, not silently become NULLs downstream.
            raise TypeError(
                f"events.ts loaded as {ts_type}; expected TIMESTAMP, "
                "TIMESTAMP_NTZ, or nanos-as-long"
            )
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}
