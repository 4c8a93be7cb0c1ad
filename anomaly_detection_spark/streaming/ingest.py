"""Streaming corpus ingestion: curate each microbatch against the
ALREADY-ACCEPTED corpus before appending it — the continuous form of
the daily-ingest flow (`pipeline.dedup.dedup_against_reference`).

``foreachBatch`` is the right tool: each trigger's slice is cleaned
with the same batch operators the offline pipeline uses (exact
self-dedup, then exact + near dedup against the corpus parquet), so
streaming and batch curation CANNOT diverge — they are the same code.
State lives in the corpus itself (content digests + signatures derived
on read); at production scale the reference signatures would be a
maintained side table rather than re-derived per trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def make_curated_ingest(
    corpus_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
):
    """Build a ``foreachBatch`` callback that appends only the rows of
    each microbatch that survive dedup against ``corpus_path``.

    Idempotency note: foreachBatch can re-deliver a batch after a
    failure; because a re-delivered row is by then an EXACT duplicate
    of its accepted copy, the digest anti-join drops it — the sink is
    effectively idempotent without a transaction log.
    """
    from anomaly_detection_spark.pipeline.dedup import (
        dedup_against_reference, exact_dedup,
    )

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = exact_dedup(batch_df, text_col, id_col)
        try:
            ref = spark.read.parquet(corpus_path)
            has_ref = len(ref.take(1)) > 0
        except Exception:
            has_ref = False
        if has_ref:
            batch = dedup_against_reference(
                batch, ref, text_col, id_col,
                jaccard_threshold=jaccard_threshold,
            )
        batch.write.mode("append").parquet(corpus_path)

    return on_batch


def make_incremental_rollup(
    state_path: str,
    keys,
    updates,
    merges,
):
    """Build a ``foreachBatch`` callback maintaining a keyed aggregate
    state table — the streaming form of the materialized-view pattern
    (`operators.incremental.merge_agg_states`): per trigger, aggregate
    ONLY the microbatch (``updates``: column-name → phase-1 aggregate)
    and merge it into the stored state (``merges``: column-name →
    merge aggregate over state ∪ delta rows).

    State is VERSIONED by the Structured Streaming batch id
    (``state_path/v=<batch_id + 1>``): each trigger reads the newest
    version below its own and writes its stamped one, because Spark
    cannot safely overwrite a parquet path it is lazily reading in the
    same job — and versioning buys time-travel/rollback for free, the
    same way table formats do.  Readers use :func:`read_rollup_state`.

    Exactly-once under redelivery: counts/sums are NOT idempotent if a
    batch merges twice, so a re-delivered batch (same ``batch_id``
    after a crash) detects its own already-committed version directory
    and SKIPS the merge — the batch-id stamp is the transaction marker,
    the same contract Spark's file sinks get from their commit log.
    """
    import re

    from anomaly_detection_spark.operators.incremental import merge_agg_states

    keys = list(keys)

    def _fs(spark):
        sc = spark.sparkContext
        hpath = sc._jvm.org.apache.hadoop.fs.Path(state_path)
        return hpath, hpath.getFileSystem(sc._jsc.hadoopConfiguration())

    def _versions(spark):
        hpath, fs = _fs(spark)
        if not fs.exists(hpath):
            return []
        out = []
        for st in fs.listStatus(hpath):
            m = re.fullmatch(r"v=(\d+)", st.getPath().getName())
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def on_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        mine = int(batch_id) + 1
        done = _versions(spark)
        if mine in done:
            return  # redelivered batch: its merge already committed
        prev = [v for v in done if v < mine]
        delta = batch_df.groupBy(*keys).agg(
            *[expr.alias(name) for name, expr in updates.items()]
        )
        if prev:
            state = spark.read.parquet(f"{state_path}/v={prev[-1]}")
            merged = merge_agg_states([state, delta], keys, merges)
        else:
            merged = delta
        merged.write.mode("overwrite").parquet(f"{state_path}/v={mine}")

    return on_batch


def read_rollup_state(spark, state_path: str):
    """Read the newest version of a :func:`make_incremental_rollup`
    state table (None if nothing has been written yet)."""
    import re

    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(state_path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    versions = []
    for st in fs.listStatus(hpath):
        m = re.fullmatch(r"v=(\d+)", st.getPath().getName())
        if m:
            versions.append(int(m.group(1)))
    if not versions:
        return None
    return spark.read.parquet(f"{state_path}/v={max(versions)}")


def make_cdc_apply(
    state_path: str,
    key_cols,
    seq_col: str,
):
    """``foreachBatch`` callback maintaining the CURRENT-STATE table of
    a CDC change stream — the streaming Debezium/binlog apply (what a
    table format's streaming MERGE does): per trigger, reduce the
    microbatch per key (highest sequence wins, tombstones kept) and
    fold it into the stored state with the same reduce.

    The reduce is associative and idempotent (max-seq), so out-of-order
    delivery ACROSS triggers and whole-batch replays both land on the
    same state; tombstones stay in state so a late lower-seq row can
    never resurrect a deleted key.  State is batch-id-version-stamped
    exactly like :func:`make_incremental_rollup` (lazy-read safety,
    time travel, redelivery detection).  Read the live view with
    :func:`read_cdc_state`.
    """
    import re

    from anomaly_detection_spark.operators.upsert import cdc_reduce

    keys = list(key_cols)

    def _versions(spark):
        sc = spark.sparkContext
        hpath = sc._jvm.org.apache.hadoop.fs.Path(state_path)
        fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return []
        out = []
        for st in fs.listStatus(hpath):
            m = re.fullmatch(r"v=(\d+)", st.getPath().getName())
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def on_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        mine = int(batch_id) + 1
        done = _versions(spark)
        if mine in done:
            return  # redelivered batch already committed
        delta = cdc_reduce(batch_df, keys, seq_col)
        prev = [v for v in done if v < mine]
        if prev:
            state = spark.read.parquet(f"{state_path}/v={prev[-1]}")
            merged = cdc_reduce(state.unionByName(delta), keys, seq_col)
        else:
            merged = delta
        merged.write.mode("overwrite").parquet(f"{state_path}/v={mine}")

    return on_batch


def read_cdc_state(spark, state_path: str, op_col: str = "op",
                   delete_op: str = "D"):
    """Live view of a :func:`make_cdc_apply` state table: newest
    version, tombstones filtered out (None before the first commit)."""
    from pyspark.sql import functions as F

    state = read_rollup_state(spark, state_path)
    if state is None:
        return None
    return state.where(F.col(op_col) != delete_op)


def exactly_once_dedup(stream, keys, watermark_col: str = "ts",
                       delay: str = "365 days"):
    """State-store deduplication of an at-least-once feed:
    ``dropDuplicatesWithinWatermark`` keeps the FIRST arrival per key
    and drops every redelivery while the key is inside the watermark
    horizon — the standard exactly-once recovery for sources that
    redeliver on retry (Kafka producers, file re-uploads, CDC replays).

    The ``delay`` bounds the dedup state: a key older than the
    watermark is evicted and a *very* late redelivery would surface
    again — the deliberate state/completeness trade every streaming
    dedup makes.  Callers replaying a bounded fixture pick a delay
    longer than the data span so the test exercises pure state-store
    semantics (nothing is ever late-dropped).
    """
    from pyspark.sql import functions as F

    # watermarks require TIMESTAMP (LTZ); UTC session makes the NTZ→LTZ
    # cast the identity on the wall clock
    stream = stream.withColumn(
        watermark_col, F.col(watermark_col).cast("timestamp")
    )
    return stream.withWatermark(watermark_col, delay) \
                 .dropDuplicatesWithinWatermark(keys)
