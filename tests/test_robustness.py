"""Robustness: empty inputs and partitioning invariance.

A 100 TB engine cannot care how many partitions its input happens to
arrive in: every operator's RESULT must be identical under degenerate
(1-partition) and parallel layouts, and empty inputs must produce
empty—not crashing—outputs with the right schema.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from anomaly_detection_spark.config import DetectorConfig
from anomaly_detection_spark.detect.rules import rule_flags
from anomaly_detection_spark.operators.ranking import rank_family
from anomaly_detection_spark.pipeline.dedup import (
    exact_dedup, minhash_exact_near_duplicates,
)
from anomaly_detection_spark.pipeline.similarity import embedding_near_duplicates
from anomaly_detection_spark.sources.tables import load_table


EVENTS_SCHEMA = "user_id long, ts timestamp_ntz, value double, " \
    "event_type string, event_id long, props string"


def _empty_events(spark):
    return spark.createDataFrame([], EVENTS_SCHEMA)


def test_rule_flags_empty_input(spark):
    out = rule_flags(
        _empty_events(spark), ["user_id"], "ts", "value",
        DetectorConfig(eval_ts="2024-02-01"), emit="latest",
    )
    assert out.count() == 0
    assert "absolute_standard_deviations_from_avg" in out.columns


def test_rank_family_empty_input(spark):
    df = spark.createDataFrame([], "id long, v double")
    out = rank_family(df, ["v"])
    assert out.count() == 0
    assert {"global_rn", "rnk", "drnk", "pct_rank", "cume", "tile"} <= set(out.columns)


def test_dedup_empty_corpus(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert exact_dedup(docs, "text", "doc_id").count() == 0
    assert minhash_exact_near_duplicates(docs, "text", "doc_id").count() == 0


def test_embedding_near_dup_empty(spark):
    vecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert embedding_near_duplicates(vecs).count() == 0


@pytest.mark.parametrize("n_parts", [1, 7])
def test_partitioning_invariance_flags(spark, sf_dir, n_parts):
    """rule_flags output must be identical whatever the input layout."""
    ev = load_table(spark, "events", sf_dir)
    cfg = DetectorConfig(eval_ts="2024-02-01")
    base = {
        (r.user_id, str(r.date_recorded)): r.absolute_standard_deviations_from_avg
        for r in rule_flags(ev, ["user_id"], "ts", "value", cfg,
                            emit="latest").collect()
    }
    got = {
        (r.user_id, str(r.date_recorded)): r.absolute_standard_deviations_from_avg
        for r in rule_flags(ev.repartition(n_parts), ["user_id"], "ts", "value",
                            cfg, emit="latest").collect()
    }
    assert got == base


@pytest.mark.parametrize("n_parts", [1, 7])
def test_partitioning_invariance_rank_family(spark, sf_dir, n_parts):
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    base = {r.o_orderkey: (r.rnk, r.drnk, r.tile)
            for r in rank_family(o, ["o_totalprice", "o_orderkey"]).collect()}
    got = {r.o_orderkey: (r.rnk, r.drnk, r.tile)
           for r in rank_family(o.repartition(n_parts),
                                ["o_totalprice", "o_orderkey"]).collect()}
    assert got == base


def test_partitioning_invariance_minhash(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    base = {(r.id_a, r.id_b): r.jaccard
            for r in minhash_exact_near_duplicates(
                docs, "text", "doc_id", jaccard_threshold=0.5).collect()}
    got = {(r.id_a, r.id_b): r.jaccard
           for r in minhash_exact_near_duplicates(
               docs.repartition(3), "text", "doc_id",
               jaccard_threshold=0.5).collect()}
    assert got == base


@pytest.mark.xfail(
    strict=True, raises=AssertionError,
    reason="minhash_exact_near_duplicates persists its candidate and "
    "grams frames and never unpersists them; Spark's cache is keyed by "
    "logical plan, so a rewritten file at the same path is answered "
    "from the old cache",
)
def test_minhash_near_dups_sees_a_rewritten_corpus(spark, sf_dir, tmp_path):
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from anomaly_detection_spark import queries as reg
    from tests.oracle_check import compare

    docs = pq.read_table(f"{sf_dir}/documents.parquet").slice(0, 80)
    path = tmp_path / "documents.parquet"
    pq.write_table(docs, path)
    assert reg.QUERIES["minhash_near_dups"](spark, str(tmp_path)).collect()
    # every doc gains an exact twin: 80 new pairs at jaccard 1.0
    i = docs.schema.get_field_index("doc_id")
    twins = docs.set_column(
        i, "doc_id", pc.add(docs["doc_id"], pa.scalar(10**6, docs["doc_id"].type))
    )
    pq.write_table(pa.concat_tables([docs, twins]), path)
    assert not compare(
        reg.QUERIES["minhash_near_dups"](spark, str(tmp_path)),
        reg.ORACLES["minhash_near_dups"], str(tmp_path),
    )


def test_new_text_ops_empty_input(spark):
    from anomaly_detection_spark.pipeline.redact import pii_counts, redact_pii
    from anomaly_detection_spark.pipeline.text import (
        boilerplate_ngrams, quality_classifier, tf_idf_top_terms,
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert redact_pii(pii_counts(empty)).count() == 0
    assert tf_idf_top_terms(empty).count() == 0
    assert boilerplate_ngrams(empty).count() == 0
    assert quality_classifier(empty).count() == 0


def test_incremental_dedup_empty_sides(spark, sf_dir):
    from anomaly_detection_spark.pipeline.dedup import dedup_against_reference
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text").limit(5)
    empty = spark.createDataFrame([], "doc_id long, text string")
    # empty batch -> empty out; empty reference -> batch passes through
    assert dedup_against_reference(empty, docs).count() == 0
    assert dedup_against_reference(docs, empty).count() == 5


def test_partitioning_invariance_curated_corpus(spark, sf_dir):
    from anomaly_detection_spark import queries as reg
    base = reg.QUERIES["curated_corpus"](spark, sf_dir)
    rows = sorted((r.doc_id, r.n_tokens, r.split) for r in base.collect())
    # same result when the scan arrives as one partition
    docs1 = load_table(spark, "documents", sf_dir).coalesce(1)
    docs1.createOrReplaceTempView("_docs_1p")
    # re-run the registered query unchanged (it reloads from sf_dir);
    # partitioning of the SOURCE is what varies across cluster layouts,
    # so compare against an explicit repartitioned rebuild
    from anomaly_detection_spark.pipeline.decontaminate import hash_split
    from pyspark.sql.window import Window as W
    toks = F.split(F.trim(F.col("text")), r"\s+")
    stats = docs1.repartition(13).select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double")
                / F.size(toks), 4).alias("dup_token_frac"),
        F.md5(F.trim(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
              .cast("binary")).alias("fp"),
    ).where((F.col("n_tokens") >= 30) & (F.col("dup_token_frac") <= 0.6))
    deduped = (
        stats.withColumn("_rn", F.row_number().over(
            W.partitionBy("fp").orderBy("doc_id")))
        .where(F.col("_rn") == 1)
        .select("doc_id", "n_tokens", "dup_token_frac")
    )
    rebuilt = sorted(
        (r.doc_id, r.n_tokens, r.split)
        for r in hash_split(deduped, "doc_id").collect()
    )
    assert rows == rebuilt


def test_observed_metrics_single_pass(spark, sf_dir, tmp_path):
    """Validation counters ride the SAME job as the real work (a
    filtered parquet write): one pass yields the output AND the
    metrics, and the metric values match an independent recompute."""
    from pyspark.sql import functions as F

    from anomaly_detection_spark.operators.observe import with_observed_metrics
    from anomaly_detection_spark.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir)
    observed, obs = with_observed_metrics(ev, {
        "n_rows": F.count(F.lit(1)),
        "n_over_250": F.count(F.when(F.col("value") > 250, 1)),
        "n_null_props": F.count(F.when(F.col("props").isNull(), 1)),
    })
    out = str(tmp_path / "curated")
    observed.where(F.col("value") <= 250).write.parquet(out)

    got = obs.get
    assert got["n_rows"] == ev.count()
    assert got["n_over_250"] == ev.where(F.col("value") > 250).count()
    assert got["n_null_props"] == ev.where(F.col("props").isNull()).count()
    # and the job's real output reflects the filter the metrics describe
    assert spark.read.parquet(out).count() == got["n_rows"] - got["n_over_250"]


def test_holt_smoothing_matches_reference_recursion(spark):
    from anomaly_detection_spark.detect.robust import holt_smoothing

    # planted ramp with a level shift; exact integer reference recursion
    vals = [10.0, 10.5, 11.0, 11.5, 30.0, 30.5, 31.0, 31.5, 32.0]
    rows = [(1, i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id long, ts long, value double")
    got = {
        r.rn: (r.level, r.trend, r.forecast)
        for r in holt_smoothing(
            df, ["user_id"], ["ts"], "value"
        ).collect()
    }
    l, b = None, None
    for i, v in enumerate(vals):
        vq = int(round(v * 10000))
        if i == 0:
            l, b = vq, 0
        else:
            l_new = (vq + l + b) // 2
            b = (3 * b + (l_new - l)) // 4
            l = l_new
        assert got[i + 1] == (l / 10000.0, b / 10000.0, (l + b) / 10000.0)
    # after the sustained ramp the trend state must be positive
    assert got[len(vals)][1] > 0


def test_new_ops_empty_inputs(spark):
    from anomaly_detection_spark.detect.robust import holt_smoothing
    from anomaly_detection_spark.pipeline.components import dedup_keep_best
    from anomaly_detection_spark.pipeline.dedup import simhash_hamming_pairs
    from anomaly_detection_spark.pipeline.text import textrank_terms

    docs = spark.createDataFrame([], "doc_id long, text string, n_chars long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    ev = spark.createDataFrame([], "user_id long, ts timestamp_ntz, "
                                   "event_id long, value double")
    assert simhash_hamming_pairs(docs).count() == 0
    assert dedup_keep_best(docs, pairs).count() == 0
    assert textrank_terms(docs).count() == 0
    out = holt_smoothing(ev, ["user_id"], ["ts", "event_id"])
    assert out.count() == 0
    assert {"rn", "level", "trend", "forecast"} <= set(out.columns)


@pytest.mark.parametrize("n_parts", [1, 7])
def test_partitioning_invariance_new_ops(spark, sf_dir, n_parts):
    """holt / hamming-dedup / cdc_apply must produce identical rows
    whatever the input layout (the exact-integer / struct-max designs
    exist precisely for this)."""
    from anomaly_detection_spark.detect.robust import holt_smoothing
    from anomaly_detection_spark.operators.upsert import cdc_apply
    from anomaly_detection_spark.pipeline.dedup import simhash_hamming_pairs

    ev = load_table(spark, "events", sf_dir)
    base_h = sorted(
        (r.user_id, r.rn, r.level, r.trend)
        for r in holt_smoothing(ev, ["user_id"], ["ts", "event_id"]).collect()
    )
    got_h = sorted(
        (r.user_id, r.rn, r.level, r.trend)
        for r in holt_smoothing(
            ev.repartition(n_parts), ["user_id"], ["ts", "event_id"]
        ).collect()
    )
    assert got_h == base_h

    docs = load_table(spark, "documents", sf_dir)
    base_s = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_hamming_pairs(docs).collect()
    )
    got_s = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_hamming_pairs(docs.repartition(n_parts)).collect()
    )
    assert got_s == base_s

    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("key"),
        F.col("l_linenumber").alias("seq"),
        F.lit("U").alias("op"),
        F.round("l_extendedprice", 4).alias("val"),
    )
    base_c = sorted(map(tuple, cdc_apply(li, ["key"], "seq").collect()))
    got_c = sorted(
        map(tuple, cdc_apply(li.repartition(n_parts), ["key"], "seq").collect())
    )
    assert got_c == base_c
