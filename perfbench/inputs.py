"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and writes parquet files under
a directory it is given; the same seed gives byte-identical inputs.
The engine only ever sees the files, never the seed.

- ``write_tickers``: the reference's three tables (``ticker_data``,
  ``ticker_gran``, ``ticker_info``) with a heavy-tailed mix of series
  lengths and planted spike / repeat / stale series.
- ``write_docs``: a seeded corpus in the shape of the sf0.1
  ``documents`` fixture, with planted near-duplicate clusters, and its
  K copies with disjoint token spaces (the ``replicated_docs`` model of
  ``scripts/scale_probe.py``).
- ``write_stream_days``: a history file, then one parquet file per day,
  for the file-stream source, with microsecond timestamps (Spark's file-stream reader
  rejects pandas' nanosecond parquet timestamps).
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVAL_TS = "2024-06-30 00:00:00"
_EVAL_DATE = dt.datetime(2024, 6, 30)
GRANS_PER_INDEX = 40
STALE_DAYS = 5


def _series_values(rng: np.random.Generator, n: int, base: float) -> np.ndarray:
    t = np.arange(n)
    season = 3.0 * np.sin(2 * np.pi * (t % 7) / 7.0)
    return np.round(base + 0.05 * t + season + rng.normal(0.0, 0.8, n), 4)


def ticker_frames(seed: int, n_series: int) -> tuple[pd.DataFrame, pd.DataFrame,
                                                      pd.DataFrame, dict]:
    """(ticker_data, ticker_gran, ticker_info, planted) for ``n_series``
    daily series ending at the eval date.

    Lengths: 10% short (14-27 days), the rest 28 days plus a Pareto
    tail capped at 180 days, taken at evenly spaced quantiles so every
    seed has the same mix and row count; the seed decides which series
    gets which length.  Planted, each on ~2% of the long series:
    ``spike`` (last value x10), ``repeat`` (last 4 values frozen) and
    ``stale`` (last 5 days missing).  ``planted`` maps each kind to its
    sorted (index_id, granularity_item_id) keys.
    """
    rng = np.random.default_rng(seed)
    n_short = n_series // 10
    q = (np.arange(n_series - n_short) + 0.5) / (n_series - n_short)
    pareto = (1.0 - q) ** (-1 / 1.5) - 1.0  # Lomax(1.5) quantiles
    lengths = rng.permutation(np.concatenate([
        np.linspace(14, 27, n_short).round().astype(int),
        np.minimum(28 + (pareto * 12).astype(int), 180),
    ]))
    long_ids = np.flatnonzero(lengths >= 28)
    n_plant = max(1, n_series // 50)
    chosen = rng.choice(long_ids, size=3 * n_plant, replace=False)
    kinds = {
        "spike": chosen[:n_plant],
        "repeat": chosen[n_plant:2 * n_plant],
        "stale": chosen[2 * n_plant:],
    }
    kind_of = {int(s): k for k, ids in kinds.items() for s in ids}

    parts = []
    for s in range(n_series):
        n = int(lengths[s])
        vals = _series_values(rng, n, 100.0 + (s % 37))
        kind = kind_of.get(s)
        days = np.arange(n - 1, -1, -1)  # days before the eval date
        if kind == "spike":
            vals[-1] = round(vals[-1] * 10, 4)
        elif kind == "repeat":
            vals[-4:] = vals[-4]
        elif kind == "stale":
            vals, days = vals[:-STALE_DAYS], days[:-STALE_DAYS]
        parts.append(pd.DataFrame({
            "index_id": s // GRANS_PER_INDEX + 1,
            "granularity_item_id": s % GRANS_PER_INDEX + 1,
            "data_timestamp": _EVAL_DATE - pd.to_timedelta(days, unit="D"),
            "data_value": vals,
        }))
    data = pd.concat(parts, ignore_index=True)
    data.insert(0, "id", np.arange(len(data), dtype=np.int64))
    data["createdate"] = data["data_timestamp"]
    data = data.astype({"index_id": "int64", "granularity_item_id": "int64"})

    n_index = (n_series - 1) // GRANS_PER_INDEX + 1
    gran = pd.DataFrame({
        "id": np.arange(1, GRANS_PER_INDEX + 1, dtype=np.int64),
        "granularity1": [f"G{g}" for g in range(1, GRANS_PER_INDEX + 1)],
        "granularity2": [f"alt{g}" for g in range(1, GRANS_PER_INDEX + 1)],
        "Description": [f"City {g}, ST" for g in range(1, GRANS_PER_INDEX + 1)],
        "ShapeFile": [f"shape_{g}.shp" for g in range(1, GRANS_PER_INDEX + 1)],
    })
    ids = np.arange(1, n_index + 1, dtype=np.int64)
    info = pd.DataFrame({
        "id": ids,
        "index_name": [f"Index {i} Price" for i in ids],
        "ticker": [f"TCK{i}" for i in ids],
        "description": [f"Ticker {i} long description" for i in ids],
        "frequency": "daily",
        "unit_type": "US Dollars",
        "display_unit_type": "$",
        "documentation_url": [f"https://docs.example/{i}" for i in ids],
    })
    planted = {
        k: sorted((int(s) // GRANS_PER_INDEX + 1, int(s) % GRANS_PER_INDEX + 1)
                  for s in v)
        for k, v in kinds.items()
    }
    return data, gran, info, planted


def write_tickers(out_dir: str, seed: int, n_series: int) -> dict:
    """Write the three ticker tables as ``<name>.parquet`` under
    ``out_dir`` (pandas' nanosecond timestamps; ``load_table`` converts
    them).  Returns the planted keys and the row count."""
    os.makedirs(out_dir, exist_ok=True)
    data, gran, info, planted = ticker_frames(seed, n_series)
    for name, df in (("ticker_data", data), ("ticker_gran", gran),
                     ("ticker_info", info)):
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {"planted": planted, "rows": len(data)}


# The shape of the sf0.1 ``documents`` fixture (5000 docs), measured
# with the engine's definition of a near-duplicate (word-trigram
# Jaccard >= 0.5): token counts uniform on 10-100 over a 31-word
# vocabulary; 256 near-duplicate pairs in 233 clusters (223 pairs, 9
# triples, 1 quad), so 477 docs (9.5%) sit in a cluster and the
# 2-core has 31 members; every near-duplicate differs from a cluster
# mate by one token appended or the last token dropped (Jaccard
# 0.8-1.0, median 0.98; two identical drops give an exact copy, 8 in
# the fixture); 41% of docs are ``en``, the rest ``zh``/``es``/``fr``/
# ``de`` in equal shares; ``source`` cycles over 20 values.
DOC_VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split())
DOC_TOKENS = (10, 100)
NEAR_DUP_SHARE = 244 / 5000  # docs that are a near-duplicate of an earlier one
MIN_PLANTED_JACCARD = 0.85
DOC_LANGS = (["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15
             + ["de"] * 14)


def trigrams(toks) -> set:
    return {" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 2, 1))}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def doc_frame(seed: int, n_docs: int) -> tuple[pd.DataFrame, list[list[int]]]:
    """(documents, clusters): a seeded corpus in the fixture's
    ``documents`` schema and shape (see above), and its planted
    near-duplicate clusters as sorted doc-id lists.

    The originals come first; each near-duplicate then copies a doc
    drawn uniformly from all docs so far (an original or an earlier
    near-duplicate, which is how clusters of three or more arise) and
    appends a random word or drops the last token.  A copy that would
    put a pair of its cluster below ``MIN_PLANTED_JACCARD`` is drawn
    again, so every planted pair is one that 64-hash / 16-band MinHash
    finds with probability above 1 - 1e-5 and the detector's output is
    exactly the planted pairs.  (One short triple of the fixture has
    a pair at 0.8; at that Jaccard a pair is missed about once in 4,500
    tries.)  Doc ids are a seeded permutation, so id order says
    nothing about which doc is the copy.  If no cluster of three has
    formed by the last copy (about one seed in 150 at 2500 docs), that
    copy makes one.
    """
    rng = np.random.default_rng(seed)
    lo, hi = DOC_TOKENS
    n_near = round(n_docs * NEAR_DUP_SHARE)
    docs = [list(DOC_VOCAB[rng.integers(len(DOC_VOCAB), size=rng.integers(lo, hi + 1))])
            for _ in range(n_docs - n_near)]
    grams = [trigrams(t) for t in docs]
    cluster = list(range(len(docs)))  # doc -> cluster id
    members: dict[int, list[int]] = {}
    while len(docs) < n_docs:
        src = int(rng.integers(len(docs)))
        if (len(docs) == n_docs - 1 and members
                and all(len(ms) < 3 for ms in members.values())):
            # no cluster of three yet: the last copy joins the pair with
            # the longest doc, so the 2-core is never empty
            src = max((m for ms in members.values() for m in ms),
                      key=lambda m: len(docs[m]))
        toks = list(docs[src])
        if len(toks) < hi and (rng.random() < 0.5 or len(toks) <= lo):
            toks.append(DOC_VOCAB[rng.integers(len(DOC_VOCAB))])
        else:
            toks.pop()
        g = trigrams(toks)
        mates = members.get(cluster[src], [src])
        if min(jaccard(g, grams[m]) for m in mates) < MIN_PLANTED_JACCARD:
            continue
        members[cluster[src]] = mates + [len(docs)]
        cluster.append(cluster[src])
        docs.append(toks)
        grams.append(g)
    ids = rng.permutation(n_docs)
    texts = [" ".join(t) for t in docs]
    frame = pd.DataFrame({
        "doc_id": ids.astype(np.int64),
        "text": texts,
        "lang": np.array(DOC_LANGS)[rng.integers(len(DOC_LANGS), size=n_docs)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }).sort_values("doc_id", ignore_index=True)
    clusters = sorted(sorted(int(ids[m]) for m in ms) for ms in members.values())
    return frame, clusters


COPY_OFFSET = 10_000_000  # scale_probe.replicated_docs' doc_id step per copy


def replicate_docs(docs: pd.DataFrame, k: int) -> pd.DataFrame:
    """``scripts/scale_probe.replicated_docs`` in pandas: copy ``c`` of
    each doc gets ``doc_id + c * COPY_OFFSET`` and every token suffixed
    with ``_c``, so copies share no shingle.  Building it without Spark
    keeps the workload's calls cold until the first pass; the workload
    checks it against ``replicated_docs`` after the timed passes."""
    return pd.DataFrame({
        "doc_id": np.concatenate([docs["doc_id"].to_numpy() + c * COPY_OFFSET
                                  for c in range(k)]),
        "text": [" ".join(f"{t}_{c}" for t in text.split())
                 for c in range(k) for text in docs["text"]],
    })


def write_docs(out_dir: str, seed: int, n_docs: int, k: int,
               parts: int) -> dict:
    """The base corpus as ``<out_dir>/base/documents.parquet`` and its
    ``k`` copies as ``<out_dir>/replicated/documents.parquet``, a
    directory of ``parts`` files dealt round robin (the layout of
    ``replicated_docs``' ``repartition``).  Returns both dirs and the
    planted clusters."""
    base = os.path.join(out_dir, "base")
    rep = os.path.join(out_dir, "replicated", "documents.parquet")
    os.makedirs(base, exist_ok=True)
    os.makedirs(rep, exist_ok=True)
    docs, clusters = doc_frame(seed, n_docs)
    docs.to_parquet(os.path.join(base, "documents.parquet"), index=False)
    copies = replicate_docs(docs, k)
    for p in range(parts):
        copies.iloc[p::parts].to_parquet(
            os.path.join(rep, f"part-{p:05d}.parquet"), index=False)
    return {"base": base, "sf_dir": os.path.dirname(rep), "clusters": clusters}


def stream_frame(seed: int, n_keys: int, n_days: int) -> tuple[pd.DataFrame, dict]:
    """Daily feed for ``n_keys`` series over ``n_days`` days, with
    spikes and repeats planted on the final days (the rows the
    batch-vs-stream law compares)."""
    rng = np.random.default_rng(seed)
    start = dt.datetime(2024, 1, 1)
    n_plant = max(1, n_keys // 50)
    chosen = rng.choice(n_keys, size=2 * n_plant, replace=False)
    spike, repeat = set(chosen[:n_plant].tolist()), set(chosen[n_plant:].tolist())
    vals = np.stack([_series_values(rng, n_days, 100.0 + (k % 37))
                     for k in range(n_keys)])
    for k in spike:
        vals[k, -1] = round(vals[k, -1] * 10, 4)
    for k in repeat:
        vals[k, -4:] = vals[k, -4]
    df = pd.DataFrame({
        "series_id": np.repeat(np.arange(n_keys, dtype=np.int64), n_days),
        "day": np.tile(np.arange(n_days), n_keys),
        "data_value": vals.reshape(-1),
    })
    df["data_timestamp"] = start + pd.to_timedelta(df["day"], unit="D")
    planted = {"spike": sorted(spike), "repeat": sorted(repeat)}
    return df, planted


STREAM_SCHEMA = pa.schema([
    ("series_id", pa.int64()),
    ("data_timestamp", pa.timestamp("us")),
    ("data_value", pa.float64()),
])


def write_stream_days(out_dir: str, seed: int, n_keys: int, n_days: int,
                      history_days: int = 28) -> dict:
    """The stream's backlog under ``out_dir``: one file holding the
    first ``history_days`` days (so every trailing window is full from
    the second trigger on), then one ``day-NNNN.parquet`` file per
    remaining day.  The file source replays files in modification-time
    order, so each file's mtime is one second after the previous one's.
    """
    os.makedirs(out_dir, exist_ok=True)
    df, planted = stream_frame(seed, n_keys, n_days)
    files = df.groupby(np.maximum(df["day"], history_days - 1), sort=True)
    t0 = time.time() - n_days - 10
    for i, (day, part) in enumerate(files):
        table = pa.Table.from_pandas(
            part[["series_id", "data_timestamp", "data_value"]],
            schema=STREAM_SCHEMA, preserve_index=False,
        )
        path = os.path.join(out_dir, f"day-{day:04d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (t0 + i, t0 + i))
    return {"planted": planted, "rows": len(df), "files": files.ngroups}
