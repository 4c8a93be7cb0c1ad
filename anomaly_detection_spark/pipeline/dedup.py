"""Deduplication operators for training-data pipelines.

- **Exact dedup** — hash-groupBy on a content digest. One shuffle on
  the digest; at 100 TB hash the text early so the shuffle moves
  32-byte digests + ids, never the documents themselves.
- **MinHash + LSH near-dedup** — shingle → minhash signature → band
  buckets → bucket equi-join → verified Jaccard. The classic
  Broder/LSH construction (Mining of Massive Datasets ch.3). All
  signature work is built-in expressions (xxhash64 + aggregate), the
  candidate join is an equi-join on (band, bucket-hash) so Catalyst
  shuffles only signatures; pair verification happens on the
  candidates, not the n² space.
- **SimHash** — 64-bit Charikar fingerprint; near-dups = small
  Hamming distance, bucketed by rotated prefixes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Digest groups: (text_hash, keep_doc_id = min id, n_copies)."""
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias(f"keep_{id_col}"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly one row (min id) per distinct text."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col(f"keep_{id_col}").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def shingles(text_col, n: int = 3):
    """Word n-gram shingle array: ['a b c', 'b c d', ...] (Column expr).

    Pure built-in expressions (split + transform + slice-by-index via
    F.expr) — stays JVM-side.
    """
    toks = F.split(F.trim(text_col), r"\s+")
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    idx = F.sequence(F.lit(0), k - 1)
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )


_M32 = 4_294_967_296  # 2^32


def _affine_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic odd multipliers / offsets for the universal-hash
    family h_i(x) = (a_i·x + b_i) mod 2^32 (Carter-Wegman; the standard
    way to derive many minhash functions from one base hash)."""
    import random
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 31) | 1, rng.randrange(0, 1 << 31))
        for _ in range(num_hashes)
    ]


def _signature_udf(num_hashes: int, shingle_n: int, seed: int = 42):
    """Vectorized minhash kernel: token-hash array → signature.

    Shingle hashes are a rolling combine of ``shingle_n`` consecutive
    token hashes (no shingle strings ever built); the ``num_hashes``
    components are the affine family minima — one numpy broadcast per
    document. uint64 wraparound is deliberate (it's a hash).
    """
    from pyspark.sql.types import ArrayType, LongType

    params = _affine_params(num_hashes, seed)
    A = np.array([p[0] for p in params], dtype=np.uint64)[:, None]
    B = np.array([p[1] for p in params], dtype=np.uint64)[:, None]
    # odd combine constants for the rolling n-gram hash
    rng_c = __import__("random").Random(seed + 1)
    C = np.array(
        [rng_c.randrange(1, 1 << 29) | 1 for _ in range(shingle_n)],
        dtype=np.uint64,
    )

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(tok_hashes: pd.Series) -> pd.Series:
        out = []
        for arr in tok_hashes:
            h = np.asarray(arr, dtype=np.uint64)
            if len(h) >= shingle_n:
                g = np.zeros(len(h) - shingle_n + 1, dtype=np.uint64)
                for j in range(shingle_n):
                    g += C[j] * h[j:len(h) - shingle_n + 1 + j]
                g %= _M32
            else:
                g = h % _M32 if len(h) else np.zeros(1, dtype=np.uint64)
            sig = ((A * g + B) % _M32).min(axis=1).astype(np.int64)
            out.append(sig)
        return pd.Series(out)

    return sig_udf


def _signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, shingle_n: int
) -> DataFrame:
    """(id, sig) minhash signature table via the vectorized kernel,
    with the single-file repartition guard applied first."""
    # a single parquet file scans as ONE partition; spread rows across
    # the cluster before the CPU-heavy signature map — at real scale
    # the input has many splits and this is skipped (shared guard,
    # sources.tables.spread_single_file)
    from anomaly_detection_spark.sources.tables import spread_single_file

    df = spread_single_file(df)
    tok_hashes = F.transform(
        F.split(F.trim(F.col(text_col)), r"\s+"),
        lambda t: F.pmod(F.xxhash64(t), F.lit(_M32)),
    )
    return df.select(
        F.col(id_col),
        _signature_udf(num_hashes, shingle_n)(tok_hashes).alias("sig"),
    )


def _explode_band_buckets(
    sig: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """Slim (band, bucket, id) triples from a signature table.

    Band bucket = xxhash64 of the band's signature SLICE (hash
    functions take arrays natively) — no per-element extraction, no
    string concat, same collision property (equal band slices ⇒ equal
    bucket).  Only these triples ever shuffle; the wide signature
    arrays stay put."""
    return sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[
                F.xxhash64(F.slice("sig", b * rows_per_band + 1, rows_per_band))
                for b in range(bands)
            ])
        ).alias("band", "bucket"),
    ).select("band", "bucket", id_col)


def _minhash_sig_and_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    persist_signatures: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Shared LSH front half: (persisted signature table,
    distinct candidate (id_a, id_b) pairs from band-bucket collisions).
    Callers attach their own similarity (estimated or exact)."""
    rows_per_band = num_hashes // bands
    sig = _signatures(df, text_col, id_col, num_hashes, shingle_n)
    # the estimated-similarity caller consumes the signature table three
    # times (banding + two pair re-attaches): persist so tokenizing/
    # hashing runs once. Size is n_docs × (id + 64 longs) ≈ 0.5 KB/doc —
    # spill-safe at any scale. The exact-verify caller reads signatures
    # exactly once (banding) and skips the persist.
    if persist_signatures:
        from pyspark import StorageLevel
        sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    slim = _explode_band_buckets(sig, id_col, bands, rows_per_band)
    a, b = slim.alias("a"), slim.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        # partition by id_a BEFORE the dedup: HashPartitioning(id_a)
        # satisfies the dedup aggregate's ClusteredDistribution
        # ([id_a, id_b]) (subset rule), so the dedup runs
        # partition-local and ONE exchange replaces what used to be
        # two — the dedup's own (id_a, id_b) exchange plus the
        # callers' explicit re-widen on id_a before the signature /
        # gram re-attach joins.  The explicit width also keeps AQE
        # from byte-coalescing the tiny candidate table to one task
        # (the serialized-compare finding this round).
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism, "id_a"
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return sig, pairs


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Candidate near-duplicate pairs with estimated Jaccard similarity.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b and
    est_jaccard >= threshold. Estimated Jaccard = fraction of matching
    minhash components — an unbiased estimator of the Jaccard over
    hashed word ``shingle_n``-grams.

    Hot path: JVM splits text and hashes each TOKEN once (xxhash64);
    an Arrow-batched numpy kernel does the rolling n-gram combine and
    all ``num_hashes`` minima in one broadcast — no per-shingle string
    construction, no interpreted higher-order passes.

    Scale path: the only fact-fact shuffle is the equi-join on
    (band_index, band_hash) over slim (band, bucket, id) triples;
    bucket sizes track true near-duplicate density, not n².
    """
    sig, pairs = _minhash_sig_and_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n
    )
    sigs = sig.select(F.col(id_col), F.col("sig"))
    # the candidate table already arrives hash-partitioned WIDE on
    # id_a (the pre-dedup repartition inside the shared front half),
    # so the signature re-attach + zip_with compare inherit the
    # explicit width with no further exchange
    pairs = (
        pairs.join(sigs.select(F.col(id_col).alias("id_a"),
                               F.col("sig").alias("sig_a")), "id_a")
        .join(sigs.select(F.col(id_col).alias("id_b"),
                          F.col("sig").alias("sig_b")), "id_b")
    )
    matching = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    )
    est = F.round(matching / F.lit(num_hashes), 4)
    return (
        pairs.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_exact_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs with EXACT Jaccard: minhash-LSH generates
    candidates (sub-n² — the scale path), then the exact word-n-gram
    Jaccard is computed JVM-side on the candidate pairs only and
    filtered at ``jaccard_threshold``.

    Unlike the estimated variant this output is seed-independent: for
    corpora whose true near-dups sit well above the threshold (where
    band-collision probability ≈ 1, e.g. j ≥ 0.88 with 64 hashes / 16
    bands gives miss probability ≈ 4e-7 per pair) it equals the exact
    all-pairs result, so it is oracle-checkable against a DuckDB
    brute-force join.
    """
    _sig, cand = _minhash_sig_and_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n,
        persist_signatures=False,
    )
    cand = cand.persist()
    # the persisted candidate count is cheap and makes the verify-join
    # strategy an informed DRIVER-SIDE choice: small candidate sets
    # (the common case — candidates track dup density) broadcast the
    # grams table and skip two shuffles; huge ones keep the scale-safe
    # shuffle join
    n_cand = cand.count()
    small = n_cand < 500_000
    # shingle ONLY the docs that appear in a candidate pair (semi-join
    # first): the exact-verify stage re-tokenizes O(candidates) docs,
    # not the whole corpus twice
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    if small:
        cand_ids = F.broadcast(cand_ids)
    from anomaly_detection_spark.sources.tables import spread_single_file

    # spread the re-tokenize: the semi join is map-side under the
    # broadcast hint, so grams otherwise inherits the scan's 1-3
    # partitions and the shingle + array_distinct CPU serializes.
    # Examined r10 (session 2): semi-joining FIRST and widening only
    # the survivors (to shuffle O(candidate) text instead of the
    # corpus) LOST its A/B — spreading df here reuses the SAME
    # round-robin exchange the signature leg materializes
    # (ReuseExchange), so the "full-corpus" shuffle is already paid
    # once, while the rewrite added a separate serialized scan+probe
    # pass; at real scale the spread is a no-op on both shapes, so
    # there is no scale saving to offset the local loss.
    grams = spread_single_file(df).join(cand_ids, id_col, "left_semi").select(
        F.col(id_col),
        F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("_grams"),
    ).persist()  # consumed by both sides of the pair join
    if small:
        grams = F.broadcast(grams)
    # the persisted candidate table already carries the explicit wide
    # id_a hash layout (pre-dedup repartition in the shared front
    # half), so the exact-Jaccard verify stays wide — AQE used to
    # byte-coalesce it to 3 tasks and the array_intersect verify cost
    # 2.7 s serialized — with no further exchange here
    pairs = (
        cand.join(grams.select(F.col(id_col).alias("id_a"),
                               F.col("_grams").alias("_ga")), "id_a")
        .join(grams.select(F.col(id_col).alias("id_b"),
                           F.col("_grams").alias("_gb")), "id_b")
    )
    inter = F.size(F.array_intersect("_ga", "_gb"))
    union = F.size(F.array_distinct(F.concat("_ga", "_gb")))
    return (
        pairs.select(
            "id_a", "id_b",
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
    )


def drop_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    jaccard_threshold: float = 0.8,
    **minhash_kwargs,
) -> DataFrame:
    """Corpus minus near-duplicates: for every candidate pair the
    larger id is dropped (greedy smallest-id-survives — the standard
    linear-time approximation of connected-component dedup; exact CC
    needs iterative label propagation, overkill for typical dedup)."""
    pairs = minhash_near_duplicates(
        df, text_col, id_col, jaccard_threshold=jaccard_threshold, **minhash_kwargs
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def simhash_portable(text_col, bits: int = 16, shingle_n: int = 2):
    """SimHash fingerprint whose per-shingle bits come from md5 hex
    digits instead of xxhash64 — bit-for-bit reproducible in any engine
    with md5 (DuckDB: ``CAST('0x' || substr(md5(g),1,4) AS INTEGER)``),
    so the *algorithm* (majority vote per bit over shingle hashes) is
    oracle-checkable. Production dedup should prefer :func:`simhash64`
    (64-bit xxhash — cheaper and wider); this variant exists to pin the
    construction against an independent engine.

    Same plan shape as simhash64: pure JVM expressions, map-only.
    """
    if not 1 <= bits <= 60:
        raise ValueError("bits must be in [1, 60]")
    n_hex = (bits + 3) // 4
    sh = shingles(text_col, shingle_n)
    vals = F.transform(
        sh,
        lambda g: F.conv(
            F.substring(F.md5(g.cast("binary")), 1, n_hex), 16, 10
        ).cast("long"),
    )
    total = F.size(vals)
    fp = F.lit(0).cast("long")
    for bit in range(bits):
        mask = F.shiftleft(F.lit(1).cast("long"), bit)
        ones = F.size(F.filter(vals, lambda v: v.bitwiseAND(mask) != 0))
        fp = fp + F.when(ones * 2 >= total, mask).otherwise(F.lit(0).cast("long"))
    return fp


def simhash_portable_oracle_sql(
    table: str, text_col: str, id_col: str, bits: int = 16, shingle_n: int = 2,
    out_col: str = "simhash",
) -> str:
    """DuckDB SQL computing exactly :func:`simhash_portable` — generated
    mechanically so the per-bit majority terms stay in lockstep with the
    Spark expression."""
    n_hex = (bits + 3) // 4
    terms = "\n         + ".join(
        f"CASE WHEN 2 * len(list_filter(vals, v -> (v >> {b}) & 1 = 1)) >= len(vals)"
        f" THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(bits)
    )
    return f"""
WITH toks AS (
    SELECT {id_col}, string_split_regex(trim({text_col}), '\\s+') AS toks
    FROM {table}
), vals_t AS (
    SELECT {id_col},
           list_transform(
               list_transform(
                   generate_series(1, greatest(len(toks) - {shingle_n - 1}, 1)),
                   i -> array_to_string(toks[i:i+{shingle_n - 1}], ' ')),
               g -> CAST('0x' || substr(md5(g), 1, {n_hex}) AS BIGINT)) AS vals
    FROM toks
)
SELECT {id_col}, ({terms}) AS {out_col}
FROM vals_t
"""


def simhash64(text_col, shingle_n: int = 2):
    """64-bit SimHash fingerprint (Charikar) as a long Column.

    Majority vote per bit over shingle hashes, built from bitwise
    expressions — JVM-side, no UDF.
    """
    sh = shingles(text_col, shingle_n)
    hashes = F.transform(sh, lambda s: F.xxhash64(s))
    bits = []
    for bit in range(64):
        # shiftleft, not a python literal: 1 << 63 overflows a Java long
        mask = F.shiftleft(F.lit(1).cast("long"), bit)
        # count of shingles with this bit set, vs half the total
        ones = F.size(F.filter(hashes, lambda h: h.bitwiseAND(mask) != 0))
        bits.append(
            F.when(ones * 2 >= F.size(hashes), mask).otherwise(F.lit(0).cast("long"))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def dedup_against_reference(
    batch: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Incremental (append-mode) dedup: rows of ``batch`` that survive
    BOTH exact and near-duplicate checks against ``reference`` — the
    daily-ingest shape, where the corpus already exists and only the
    new slice must be cleaned against it.

    Exact pass: anti-join on the normalized md5 digest (digest-only
    shuffle, never the text).  Near pass: minhash band buckets for both
    sides, candidates from the (band, bucket) equi-join BETWEEN batch
    and reference (never reference×reference — the already-accepted
    corpus is settled), exact n-gram Jaccard verify on candidates only.
    At production scale the reference's signatures would be precomputed
    and stored; here they are derived in-line from the reference frame.
    """
    norm = lambda c: F.md5(  # noqa: E731
        F.trim(F.lower(F.regexp_replace(F.col(c), r"\s+", " "))).cast("binary")
    )
    ref_digests = reference.select(norm(text_col).alias("_fp")).distinct()
    fresh = (
        batch.withColumn("_fp", norm(text_col))
        .join(F.broadcast(ref_digests), "_fp", "left_anti")
        .drop("_fp")
    )

    rows_per_band = num_hashes // bands

    def _slim(df: DataFrame) -> DataFrame:
        return _explode_band_buckets(
            _signatures(df, text_col, id_col, num_hashes, shingle_n),
            id_col, bands, rows_per_band,
        )

    cand = (
        _slim(fresh).alias("n")
        .join(
            _slim(reference).alias("r"),
            (F.col("n.band") == F.col("r.band"))
            & (F.col("n.bucket") == F.col("r.bucket")),
        )
        .select(
            F.col(f"n.{id_col}").alias("_new_id"),
            F.col(f"r.{id_col}").alias("_ref_id"),
        )
        .distinct()
    )
    grams = lambda df, idc: df.select(  # noqa: E731
        F.col(id_col).alias(idc),
        F.array_distinct(shingles(F.col(text_col), shingle_n)).alias(f"_g_{idc}"),
    )
    verified = (
        cand.join(grams(fresh, "_new_id"), "_new_id")
        .join(grams(reference, "_ref_id"), "_ref_id")
        .withColumn(
            "_j",
            F.size(F.array_intersect("_g__new_id", "_g__ref_id")).cast("double")
            / F.size(F.array_distinct(F.concat("_g__new_id", "_g__ref_id"))),
        )
        .where(F.round(F.col("_j"), 4) >= jaccard_threshold)
        .select(F.col("_new_id").alias(id_col))
        .distinct()
    )
    return fresh.join(verified, id_col, "left_anti")


def simhash_hamming_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    radius: int = 3,
    bits: int = 16,
    shingle_n: int = 2,
) -> DataFrame:
    """SimHash near-dup pairs at Hamming radius ``radius`` via banded
    candidate generation (Manku, Jain & Das Sarma, WWW'07): split the
    ``bits``-bit fingerprint into ``radius + 1`` disjoint bands — two
    fingerprints within Hamming distance ``radius`` differ in at most
    ``radius`` bands, so by pigeonhole they agree EXACTLY on at least
    one.  Banding is therefore a COMPLETE candidate generator (zero
    recall loss, unlike probabilistic sign-LSH); the exact
    ``bit_count(xor)`` verify on candidates kills false positives.

    Returns (id_a, id_b, hamming), id_a < id_b, hamming <= radius.

    Scale shape: fingerprint + band explode are map-only; the only
    fact-fact step is the (band_idx, band_value) equi-join, whose
    volume tracks fingerprint collision density, never n².  The
    fingerprint table is persisted so the majority-vote hash computes
    once, not once per join side.
    """
    n_bands = radius + 1
    if bits % n_bands:
        raise ValueError("bits must divide evenly into radius+1 bands")
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    # fingerprint = JVM md5 shingle hashes + ONE Arrow-batched numpy
    # majority vote.  The pure-expression form (`simhash_portable`)
    # runs `bits` interpreted array filters per row — fine at 16 bits,
    # but 48-bit fingerprints measured 141 s at sf0.1 vs ~8 s for the
    # vectorized kernel, bit-identically (same vals, same
    # ones*2 >= total rule the oracle replays).
    n_hex = (bits + 3) // 4
    vals_expr = F.transform(
        shingles(text_col, shingle_n),
        lambda g: F.conv(
            F.substring(F.md5(g.cast("binary")), 1, n_hex), 16, 10
        ).cast("long"),
    )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _fp(vals: pd.Series) -> pd.Series:
        shifts = np.arange(bits, dtype=np.int64)
        weights = (np.int64(1) << shifts)
        out = []
        for v in vals:
            a = np.asarray(v, dtype=np.int64)
            ones = ((a[:, None] >> shifts) & 1).sum(axis=0)
            out.append(int(weights[ones * 2 >= len(a)].sum()))
        return pd.Series(out, dtype="int64")

    from anomaly_detection_spark.sources.tables import spread_single_file

    h = spread_single_file(docs).select(
        F.col(id_col), _fp(vals_expr).alias("_sh")
    ).persist()
    bands = h.select(
        id_col, "_sh",
        F.posexplode(
            F.array(*[
                F.shiftright("_sh", band_bits * i).bitwiseAND(F.lit(mask))
                for i in range(n_bands)
            ])
        ).alias("_band_idx", "_band_val"),
    )
    a = bands.select(
        F.col(id_col).alias("id_a"), F.col("_sh").alias("_sha"),
        "_band_idx", "_band_val",
    )
    b = bands.select(
        F.col(id_col).alias("id_b"), F.col("_sh").alias("_shb"),
        "_band_idx", "_band_val",
    )
    cand = (
        a.join(b, ["_band_idx", "_band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_sha", "_shb")
        .distinct()
    )
    ham = F.bit_count(F.col("_sha").bitwiseXOR(F.col("_shb")))
    return (
        cand.select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= radius)
    )


def duplicated_spans(
    docs: DataFrame,
    span_chars: int = 40,
    stride: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicated-substring detection — the span-level
    exact dedup signal of Lee et al., "Deduplicating Training Data
    Makes Language Models Better" (ACL 2022).  Their suffix-array
    construction is replaced by the distributed-friendly equivalent:
    fixed-length character spans sampled every ``stride`` characters,
    hashed, and rolled up — a span duplicated across documents
    collides on its digest no matter where it appears.

    Scale shape: span extraction is a map-only JVM expression
    (sequence → transform → explode — no Python); the ONLY shuffle
    moves (digest, doc_id) pairs, never text; the ``min_docs``
    filter happens in the same aggregation.  Memory per row is one
    span, not one document.

    Returns (span_hash, n_docs, n_occurrences) for spans seen in at
    least ``min_docs`` distinct documents.
    """
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.length(text_col) - (span_chars - 1), F.lit(1)),
        F.lit(stride),
    )
    spans = docs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                starts, lambda i: F.substring(F.col(text_col), i, span_chars)
            )
        ).alias("span"),
    ).where(F.length("span") == span_chars)
    hashed = spans.select(
        id_col, F.md5(F.col("span").cast("binary")).alias("span_hash")
    )
    # hash by span_hash BEFORE the aggregate: the count-distinct
    # otherwise pays two exchanges — the distinct-expansion's
    # (span_hash, doc_id) shuffle plus the final span_hash shuffle —
    # and span rows are mostly unique, so the first exchange moved
    # ~raw volume anyway.  One digest-keyed exchange replaces both;
    # skew is bounded by actual cross-document duplication density
    # (the signal being measured), not by token popularity.
    hashed = hashed.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "span_hash"
    )
    return (
        hashed
        .groupBy("span_hash")
        .agg(
            F.countDistinct(id_col).cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
    )
