"""Text-analysis operators for training-data pipelines.

All built-in ``pyspark.sql.functions`` expressions (JVM-side,
whole-stage-codegen'd) — no Python in the hot path. Token counting and
quality scoring run at full scan speed; at 100 TB these are
map-only (no shuffle at all).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny English stopword seed for the stopword-ratio quality proxy
_EN_STOPWORDS = ["the", "and", "of", "to", "a"]


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / token / quality-proxy columns appended to ``df``.

    - ``measured_chars`` — character length
    - ``n_tokens`` — whitespace token count
    - ``avg_token_len`` — chars per token
    - ``punct_ratio`` — punctuation chars / total chars
    - ``stopword_ratio`` — English stopword fraction (quality proxy)
    """
    t = F.col(text_col)
    toks = F.split(t, " ")
    n_toks = F.size(toks)
    return (
        df.withColumn("measured_chars", F.length(t))
        .withColumn("n_tokens", n_toks)
        .withColumn(
            "avg_token_len",
            F.round(F.length(t).cast("double") / n_toks, 4),
        )
        .withColumn(
            "punct_ratio",
            F.round(
                (F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))).cast("double")
                / F.length(t),
                4,
            ),
        )
        .withColumn(
            "stopword_ratio",
            F.round(
                F.size(F.filter(toks, lambda w: F.lower(w).isin(*_EN_STOPWORDS)))
                .cast("double") / n_toks,
                4,
            ),
        )
    )


def repetition_stats(df: DataFrame, text_col: str = "text",
                     ngram_n: int = 2) -> DataFrame:
    """Gopher-style within-document repetition metrics (Rae et al. 2021
    §A1.1: repetitious documents are low-quality training data).

    Appends:
    - ``dup_token_frac`` — 1 − distinct/total tokens
    - ``top_ngram_frac`` — occurrences of the most frequent word
      ``ngram_n``-gram / total n-grams

    Map-only array expressions: the most-frequent-gram count comes from
    a sort + linear run-length fold over the doc's own gram array
    (O(L log L) per doc), not an explode/groupBy — no shuffle at any
    corpus size, cost bounded by document length.
    """
    from anomaly_detection_spark.pipeline.dedup import shingles

    t = F.col(text_col)
    toks = F.split(F.trim(t), r"\s+")
    grams = F.array_sort(shingles(t, ngram_n))
    # longest run of equal adjacent values in the sorted gram array ==
    # max occurrence count of any gram
    run_state = F.aggregate(
        grams,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return (
        df.withColumn(
            "dup_token_frac",
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
                4,
            ),
        )
        .withColumn(
            "top_ngram_frac",
            F.round(run_state.cast("double") / F.size(grams), 4),
        )
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Per-document bits-per-token under a corpus unigram language
    model — the CCNet-style perplexity quality filter, two Spark passes:

    1. fit: token → count over the corpus (one shuffle on the token),
       total token count as a 1-row broadcast scalar;
    2. score: explode doc tokens, broadcast-join the vocab, per-doc
       exact mean of −log2 p(w).

    The per-token log-probs are quantized to a 1e-6 grid and summed as
    integers (order-independent — the engine's standard stabilization
    for cross-engine mean parity), then divided once per doc.

    Pass ``vocab`` (token, c, t columns) to score against a pre-fit /
    held-out model; by default the model is fit on ``df`` itself.
    Returns (id_col, n_tokens, bits_per_token).
    """
    from anomaly_detection_spark.operators.rounding import exact_mean

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"),
    )
    if vocab is None:
        cnt = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
        tot = toks.agg(F.count(F.lit(1)).alias("t"))
        vocab = cnt.crossJoin(F.broadcast(tot))
    # q = round(−log2 p, 6dp) × 1e6 as an exact integer per token; the
    # per-doc mean then uses the exact integer-sum fold + C-style final
    # round (engine- and fold-order-independent — see operators/rounding)
    q = F.round(
        F.round(-F.log2(F.col("c") / F.col("t").cast("double")), 6) * 1_000_000, 0
    ).cast("long")
    scored = toks.join(F.broadcast(vocab), "w").select(F.col(id_col), q.alias("q"))
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        exact_mean(
            F.sum("q"), F.count(F.lit(1)), 6, 4
        ).alias("bits_per_token"),
    )


def tf_idf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document: (id, term, tf, score, rank).

    Classic smooth-idf weighting: ``tf · (ln((N+1)/(df+1)) + 1)``.

    Scale shape (100 TB): term frequencies are one shuffle keyed
    (doc, term) with map-side combine; document frequencies come from
    a COUNT window over the tf table partitioned by term (the tf rows
    are already one-per-(doc, term), so the window count IS the df) —
    no join back, no second scan of the raw text; the final top-k is a
    per-doc window with ``WindowGroupLimit`` pushdown.  Three keyed
    shuffles total — (doc,term), term, doc — each moving slim
    (id, term, count) rows, never documents.
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    w_term = Window.partitionBy("term")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(w_term))
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col), "term", "tf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1.0)) + 1.0),
                4,
            ).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def boilerplate_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_docs: int = 5,
) -> DataFrame:
    """Cross-document repeated n-grams: (gram, n_docs, n_occurrences).

    Boilerplate detection — grams appearing in ≥ ``min_docs`` distinct
    documents are headers/footers/license-text candidates for removal.

    Per-doc occurrence counting happens INSIDE the array (map-only,
    run-length fold over the doc's sorted gram array feeding exact
    per-doc counts); the only shuffle is the gram-keyed aggregation of
    (gram, 1, count) triples — vocabulary-shaped, with map-side
    combine, never corpus-shaped.
    """
    from anomaly_detection_spark.pipeline.dedup import shingles

    grams = F.array_sort(shingles(F.col(text_col), n))
    # run starts in the sorted gram array (1-based positions), then
    # (gram, run length) pairs — linear in doc length, no per-element
    # array rebuilding
    with_g = df.select(F.col(id_col), grams.alias("_g"))
    g = F.col("_g")
    starts = F.filter(
        F.sequence(F.lit(1), F.size(g)),
        lambda i: (i == 1) | (F.element_at(g, i) != F.element_at(g, i - 1)),
    )
    per_doc = with_g.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(starts)),
                lambda j: F.struct(
                    F.element_at(g, F.element_at(starts, j)).alias("gram"),
                    (
                        F.coalesce(
                            F.try_element_at(starts, (j + 1).cast("int")),
                            F.size(g) + 1,
                        )
                        - F.element_at(starts, j)
                    ).alias("c"),
                ),
            )
        ).alias("g2"),
    ).select(id_col, F.col("g2.gram").alias("gram"), F.col("g2.c").alias("c"))
    return (
        per_doc.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("c").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def fingerprint(df: DataFrame, text_col: str = "text",
                out_col: str = "fingerprint") -> DataFrame:
    """64-bit document fingerprint (xxhash64 of normalized text) —
    rolling-hash analogue for cheap near-exact matching."""
    normalized = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return df.withColumn(out_col, F.xxhash64(F.trim(normalized)))


DEFAULT_QUALITY_WEIGHTS: dict[str, float] = {
    "bias": 1.0,
    "punct_ratio": -4.0,      # symbol-heavy text is low quality
    "stopword_ratio": 3.0,    # natural prose carries function words
    "dup_token_frac": -2.0,   # repetitious text is low quality
    "log_tokens": 0.25,       # mild preference for longer documents
}


def quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    weights: dict[str, float] | None = None,
    out_col: str = "quality_score",
) -> DataFrame:
    """fastText-style linear quality scorer: logistic over cheap text
    features with fixed (published-style) weights — the shape of the
    classifier-based quality filters used by large corpus pipelines,
    with a deterministic stand-in for the learned weights.

    Features are quantized to the 4-dp grid BEFORE the linear
    combination so the score is bit-reproducible across engines; the
    whole thing is built-in expressions — map-only, zero shuffle.
    """
    w = DEFAULT_QUALITY_WEIGHTS if weights is None else weights
    t = F.col(text_col)
    toks = F.split(F.trim(t), r"\s+")
    n_toks = F.size(toks)
    # greatest(len, 1): an empty document has punct_ratio 0, not a
    # divide-by-zero (ANSI Spark) / NULL (DuckDB) — found by the r6
    # adversarial empty-text fixture
    punct = F.round(
        (F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))).cast("double")
        / F.greatest(F.length(t), F.lit(1)), 4,
    )
    stop = F.round(
        F.size(F.filter(toks, lambda x: F.lower(x).isin(*_EN_STOPWORDS)))
        .cast("double") / n_toks, 4,
    )
    dup = F.round(
        F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n_toks, 4
    )
    logn = F.round(F.log(n_toks.cast("double")), 4)
    z = (
        F.lit(w["bias"])
        + F.lit(w["punct_ratio"]) * punct
        + F.lit(w["stopword_ratio"]) * stop
        + F.lit(w["dup_token_frac"]) * dup
        + F.lit(w["log_tokens"]) * logn
    )
    return df.withColumn(out_col, F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4))


def textrank_terms(
    docs: DataFrame,
    text_col: str = "text",
    min_len: int = 4,
    n_iter: int = 8,
    scale: int = 10**12,
) -> DataFrame:
    """TextRank keyword scoring (Mihalcea & Tarau, EMNLP 2004):
    PageRank with damping 0.85 over the within-document term
    co-occurrence graph (undirected, unweighted; terms of length >=
    ``min_len``; isolated terms have no edges and are out of scope).

    The power iteration runs in EXACT integer arithmetic so ``n_iter``
    steps produce bit-identical scores on any engine and partitioning:
    ranks live on a ``scale`` integer grid, 0.85 is the rational 17/20,
    and every division is an integral ``div`` (all values nonnegative,
    so truncation == floor):

        pr_0       = scale div N
        pr_{k+1}(v) = (3·scale) div (20·N)
                      + (17 · Σ_{u~v} (pr_k(u) div deg(u))) div 20

    Returns (term, score) with the raw integer score — no float
    boundary for an oracle to disagree on.

    Scale shape: pair edges are MAP-SIDE array combinatorics per doc
    (never a fact self-join); each iteration is one edge-keyed join +
    one partial-agg shuffle, ``localCheckpoint`` truncating lineage —
    the components.py iterative discipline.  The node count enters the
    plan as a broadcast 1-row aggregate, not a driver collect.
    """
    terms_arr = F.array_sort(
        F.array_distinct(
            F.filter(
                F.split(F.trim(text_col), r"\s+"),
                lambda w: F.length(w) >= min_len,
            )
        )
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("_ts"),
            lambda x, i: F.transform(
                F.slice(F.col("_ts"), i + 2, F.size(F.col("_ts"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    und = (
        docs.select(terms_arr.alias("_ts"))
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.a").alias("src"), F.col("p.b").alias("dst"))
        .distinct()
    )
    edges = und.union(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = edges.select(F.col("src").alias("term")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).alias("_n"))
    ranks = (
        nodes.crossJoin(F.broadcast(nn))
        .select(
            "term",
            F.expr(f"CAST({scale} AS BIGINT) div _n").alias("pr"),
            F.expr(f"CAST({3 * scale} AS BIGINT) div (20 * _n)").alias("_base"),
        )
        .localCheckpoint()
    )
    for _ in range(n_iter):
        contrib = (
            edges.join(
                ranks.select(F.col("term").alias("src"), "pr"), "src"
            )
            .join(deg, "src")
            .select(
                F.col("dst").alias("term"),
                F.expr("pr div deg").alias("_c"),
            )
            .groupBy("term")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = (
            ranks.join(contrib, "term", "left")
            .select(
                "term",
                (
                    F.col("_base")
                    + F.expr("(17 * coalesce(_s, CAST(0 AS BIGINT))) div 20")
                ).alias("pr"),
                "_base",
            )
            .localCheckpoint()
        )
    return ranks.select("term", F.col("pr").alias("score"))


def _bpe_train_local(word_counts, n_merges: int):
    """Exact BPE merge loop on a collected (word, count) table — the
    classic incremental trainer (Sennrich et al., ACL 2016, alg. 1 with
    the pair→word index of the published reference implementation;
    re-derived here, not copied).  Per merge, only the words that
    contain the winning pair are touched: their old pair contributions
    are retracted and the post-merge adjacencies re-added, so cost per
    iteration tracks the pair's support, not |vocab|.  Tie-break is
    identical to the distributed path: max count, then lexicographically
    smallest (left, right).

    Returns [(rank, left, right, merged, pair_count), ...].
    """
    from collections import defaultdict

    words = [list(w) for w, _ in word_counts]
    wcs = [int(c) for _, c in word_counts]
    counts: dict = defaultdict(int)
    where: dict = defaultdict(set)  # pair -> ids of words containing it
    for i, syms in enumerate(words):
        for a, b in zip(syms, syms[1:]):
            counts[(a, b)] += wcs[i]
            where[(a, b)].add(i)
    merges = []
    for rank in range(1, n_merges + 1):
        best = None
        for pair, n in counts.items():
            if n > 0 and (best is None or (-n, pair) < (-best[1], best[0])):
                best = (pair, n)
        if best is None:
            break
        (left, right), n = best
        merged = left + right
        merges.append((rank, left, right, merged, int(n)))
        for i in list(where[(left, right)]):
            syms, wc = words[i], wcs[i]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] -= wc
                where[(a, b)].discard(i)
            # greedy left-to-right application — a freshly merged symbol
            # never re-merges with the next element in the same pass
            out: list = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    out.append(x)
            words[i] = out
            for a, b in zip(out, out[1:]):
                counts[(a, b)] += wc
                where[(a, b)].add(i)
        counts.pop((left, right), None)
        where.pop((left, right), None)
    return merges


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 12,
    strategy: str = "auto",
    local_vocab_limit: int = 5_000_000,
) -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich et al., ACL 2016) —
    the tokenizer-construction step of an LLM data pipeline, run the
    way industrial trainers do: on the WORD-COUNT table, never the raw
    corpus.  Corpus size only affects the one word-count shuffle; every
    merge iteration works on |vocab| rows.

    Two merge-loop strategies over the same distributed word count:

    - ``"local"`` — collect the (bounded, Zipf-truncated) word-count
      table ONCE and run the incremental merge loop in the driver
      (:func:`_bpe_train_local`).  This is how industrial trainers run:
      the vocab table is a few million rows regardless of corpus size,
      and a realistic 32k-merge train is a tight in-memory loop instead
      of 32k sequential Spark jobs of scheduler overhead.
    - ``"distributed"`` — one Spark job per merge: count adjacent
      symbol pairs weighted by word frequency (slim rollup with
      map-side combine), pick the global argmax (max count, ties to the
      lexicographically smallest pair — deterministic), and apply the
      merge left-to-right greedily via a JVM array fold.  Per-iteration
      driver traffic is ONE row; ``localCheckpoint`` keeps the growing
      plan bounded.  Only the right choice when the vocab table itself
      cannot fit in driver memory (pathological non-Zipf corpora).
    - ``"auto"`` (default) — count distinct words once; local when the
      vocab fits ``local_vocab_limit``, distributed otherwise.

    Both paths produce the identical merge table (asserted by the
    differential test in test_pipeline.py).

    Returns the merge table: (rank, left, right, merged, pair_count).
    """
    if strategy not in ("auto", "local", "distributed"):
        raise ValueError(f"unknown bpe_train strategy: {strategy!r}")
    spark = docs.sparkSession
    words = (
        docs.select(
            F.explode(F.split(F.trim(text_col), r"\s+")).alias("word")
        )
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select(F.split("word", "").alias("syms"), "wc")
        .localCheckpoint()
    )
    if strategy == "auto":
        strategy = (
            "local" if words.count() <= local_vocab_limit else "distributed"
        )
    if strategy == "local":
        merges = _bpe_train_local(
            [(r["syms"], r["wc"]) for r in words.collect()], n_merges
        )
        return spark.createDataFrame(
            merges, "rank int, left string, right string, merged string, "
                    "pair_count bigint",
        )
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = words.where(F.size("syms") >= 2).select(
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, F.size("syms") - 1),
                    F.slice("syms", 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
            "wc",
        ).groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r")).agg(
            F.sum("wc").alias("n")
        )
        top = pairs.orderBy(F.desc("n"), "l", "r").limit(1).collect()
        if not top:
            break
        left, right, n = top[0]["l"], top[0]["r"], top[0]["n"]
        merged = left + right
        merges.append((rank, left, right, merged, int(n)))
        # greedy left-to-right merge: fold the symbol array, joining an
        # (left, right) adjacency into one symbol; a freshly-merged
        # symbol never re-merges with the next element in the same pass
        # (standard BPE application order)
        lit_l, lit_r, lit_m = F.lit(left), F.lit(right), F.lit(merged)
        merged_syms = F.aggregate(
            "syms",
            F.expr("CAST(array() AS ARRAY<STRING>)"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == lit_l)
                & (x == lit_r),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(lit_m)
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        words = words.select(
            merged_syms.alias("syms"), "wc"
        ).localCheckpoint()
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, "
                "pair_count bigint",
    )


def bpe_segment(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize with a TRAINED merge table (from :func:`bpe_train`):
    each word's characters are re-merged by applying the merges in
    rank order, exhaustively and left-to-right — exactly the
    training-time application, so segmenting the training corpus
    reproduces the trainer's final symbol state.

    ``merges`` is the bpe_train DataFrame (collected here — it is the
    tokenizer artifact, a few hundred rows at most) or a list of
    (left, right) pairs in rank order.  Segmentation is an
    Arrow-batched kernel with a per-batch word memo — Zipf's law makes
    the memo hit rate high, so per-batch work tracks DISTINCT words.

    Returns (id_col, tokens array<string>, n_tokens_bpe).
    """
    from pyspark.sql.functions import pandas_udf

    if isinstance(merges, DataFrame):
        merges = [
            (r["left"], r["right"]) for r in merges.orderBy("rank").collect()
        ]
    merge_list = list(merges)

    @pandas_udf("array<string>")
    def _seg(texts: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def seg_word(w: str) -> list[str]:
            hit = memo.get(w)
            if hit is not None:
                return hit
            syms = list(w)
            for left, right in merge_list:
                i, out = 0, []
                while i < len(syms):
                    if out and out[-1] == left and syms[i] == right:
                        out[-1] = left + right
                    else:
                        out.append(syms[i])
                    i += 1
                syms = out
            memo[w] = syms
            return syms

        out = []
        for t in texts:
            toks: list[str] = []
            for w in (t or "").strip().split():
                if w:
                    toks.extend(seg_word(w))
            out.append(toks)
        return pd.Series(out)

    return docs.select(
        F.col(id_col), _seg(F.col(text_col)).alias("tokens")
    ).withColumn("n_tokens_bpe", F.size("tokens"))


def gopher_quality_rules(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 5,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """Rule-based document filter in the style of the Gopher quality
    heuristics (Rae et al. 2021, table A1): hard bounds on word count
    and mean word length, a symbol-to-word ratio cap (``#``/``...``),
    a minimum fraction of words containing an alphabetic character,
    and a minimum count of common English function words.  The exact
    thresholds are parameters — the published values are defaults.

    Everything is JVM-side expressions over one pass (split once,
    reuse via lateral-style aliasing); the output keeps the measured
    features next to the per-rule booleans so downstream sampling can
    re-threshold without recomputing.

    Returns (doc_id, n_words, mean_word_len, symbol_ratio,
    alpha_word_frac, n_stopwords, keep) — floats rounded to 4 for
    cross-engine canon.
    """
    stop = ("the", "be", "to", "of", "and", "that", "have", "with", "a")
    words = F.filter(
        F.split(F.trim(text_col), r"\s+"), lambda w: F.length(w) > 0
    )
    n_words = F.size(words)
    # Zero-word documents (empty/whitespace-only text): ANSI Spark
    # THROWS on the per-word ratios' /0 where DuckDB's double division
    # yields NULL — guard every ratio to NULL so the keep verdict is
    # still a clean `false` via the n_words bound (false AND NULL =
    # false in both engines).  Found by the adversarial documents
    # fixture in round 9; same class as the r6 punct_ratio guard.
    mean_wl = F.when(
        n_words > 0,
        F.aggregate(
            words, F.lit(0).cast("long"),
            lambda acc, w: acc + F.length(w),
        ) / n_words,
    )
    n_symbols = (
        F.size(F.filter(words, lambda w: w.contains("#")))
        + F.size(F.filter(words, lambda w: w.contains("...")))
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    n_stop = F.size(F.filter(words, lambda w: w.isin(*stop)))
    feat = docs.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(F.when(n_words > 0, n_symbols / n_words), 4)
        .alias("symbol_ratio"),
        F.round(F.when(n_words > 0, n_alpha / n_words), 4)
        .alias("alpha_word_frac"),
        n_stop.cast("bigint").alias("n_stopwords"),
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("n_stopwords") >= min_stopwords)
    )
    # Zero-word docs carry NULL ratios; with the registry default
    # min_words>=1 the n_words bound already forces `false AND NULL =
    # false`, but a caller-supplied min_words=0 would leave the
    # conjunction `true AND NULL` = NULL.  Coalesce so the verdict is
    # a clean boolean for EVERY threshold choice.
    return feat.withColumn("keep", F.coalesce(keep, F.lit(False)))
