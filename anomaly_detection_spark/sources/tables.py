"""Parquet table sources (SURVEY.md §2.1 S1-S5).

The reference scans three BigQuery tables with pushed predicates
(``anomaly_proj_query.sql:45-47``; ``func.R:34-62``). Here the scan is
``spark.read.parquet`` — Catalyst handles predicate pushdown, column
pruning and (for date-partitioned prod layouts) partition pruning
automatically, which is the Spark equivalent of the reference's
hand-written innermost-scan filters.

At 100 TB the fact table would be a date-partitioned parquet/delta
dataset; nothing here depends on single-file layout.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@lru_cache(maxsize=256)
def _nanos_timestamp_cols_cached(
    path: str, mtime_ns: int, size: int
) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark 4 refuses
    them unless read as raw longs (``nanosAsLong``)."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    schema = pq.read_schema(path)
    return tuple(
        f.name for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    )


def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    # cache keyed on (path, mtime, size): a rewritten file at the same
    # path must not reuse a stale ns-column list.  Directory layouts
    # (Spark-written datasets, prod date-partitioned tables) sniff the
    # schema from one part file — all parts share it by construction.
    if os.path.isdir(path):
        # recursive: hive-partitioned layouts (events.parquet/day=.../
        # part-*.parquet) keep part files below the top level
        import glob as _glob

        parts = sorted(
            _glob.glob(os.path.join(_glob.escape(path), "**", "*.parquet"),
                       recursive=True)
        )
        if not parts:
            raise FileNotFoundError(
                f"no *.parquet part files under directory {path!r}"
            )
        path = parts[0]
    st = os.stat(path)
    return _nanos_timestamp_cols_cached(path, st.st_mtime_ns, st.st_size)


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_timestamp_cols(path)
    if ns_cols:
        # read ns-timestamps as raw longs, then truncate ns → µs with
        # exact integer division (`div`) — same truncation DuckDB
        # applies casting TIMESTAMP_NS → TIMESTAMP, so oracles agree
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        # cast to TIMESTAMP_NTZ: Spark 4 reads the other (µs/ms) parquet
        # timestamps as NTZ, and DuckDB's TIMESTAMP is timezone-naive —
        # one timestamp type everywhere keeps oracle schemas identical
        df = df.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz")
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, n, sf_dir) for n in names}


def spread_single_file(df: DataFrame) -> DataFrame:
    """Widen a scan backed by fewer files than cores before CPU-heavy
    map work (Python codec kernels, explode fan-outs, per-row digests).

    A parquet file is splittable only at row-group boundaries, so a
    single-row-group file scans as ONE partition no matter what
    ``maxPartitionBytes`` says — and everything upstream of the first
    exchange then runs on one core (measured: the whole JPEG
    roundtrip kernel in one 11.6 s task on a 32-core session).  The
    guard repartitions to ``defaultParallelism`` ONLY when the input
    has fewer files than cores; at production scale (many
    splits/files) it is a no-op, so it is scale-adaptive rather than
    a local-mode tuning constant.  Derived frames without a file
    lineage (``inputFiles`` raises or returns []) pass through
    untouched — their distribution already comes from a shuffle.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if 0 < n_files < parallelism:
        # ``inputFiles`` sees through shuffles, so a frame a caller
        # already widened still reports its one backing file — skip if
        # the lineage already holds a Repartition (re-spreading would
        # add a full extra exchange)
        try:
            if _has_repartition(df._jdf.queryExecution().logical()):
                return df
        except Exception:
            pass
        return df.repartition(parallelism)
    return df


def _has_repartition(plan) -> bool:
    """Whether a JVM logical plan holds a ``Repartition`` or
    ``RepartitionByExpression`` node.  Walks the nodes, so a string
    literal or column name spelling the word does not count."""
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() in ("Repartition", "RepartitionByExpression"):
            return True
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return False
