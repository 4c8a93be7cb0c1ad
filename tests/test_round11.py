"""Round-11 optimization pins.

1. sparse_cosine_pairs' single gram-volume exchange must stay
   AQE-ownable: the r10 layout used REPARTITION_BY_NUM (AQE cannot
   coalesce it — the driver bench regressed 2.92 -> 4.43 s and 8 cores
   beat 32); r11 switched it to `repartition("g")`.  A future edit
   that reintroduces a fixed width on the g exchange fails here.
2. ndcg_dup_retrieval's candidate (jaccard) leg must stay spread:
   the 5x array-jaccard ran on the union's 4 single-file scan
   partitions (2.8 s serialized of a 2.9 s member).
"""

from __future__ import annotations

from anomaly_detection_spark import queries as reg

SF_DIR = "/root/testdata/sf0.001"


def test_sparse_cosine_gram_exchange_is_aqe_ownable(spark):
    plan = (
        reg.QUERIES["sparse_cosine_pairs"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    lines = [ln for ln in plan.splitlines() if "hashpartitioning(g#" in ln]
    assert lines, "expected the g-keyed gram exchange in the plan"
    offenders = [ln for ln in lines if "REPARTITION_BY_NUM" in ln]
    assert not offenders, (
        "g exchange pinned to a fixed width again (AQE cannot coalesce "
        f"REPARTITION_BY_NUM): {offenders}"
    )
    assert any("REPARTITION_BY_COL" in ln for ln in lines), lines


def _children(lines, i):
    """The subtree line blocks of each child of the plan node on line i
    of a physical plan's tree string."""
    def depth(ln):
        return len(ln) - len(ln.lstrip(" :+-"))

    below = []
    for ln in lines[i + 1:]:
        if depth(ln) <= depth(lines[i]):
            break
        below.append(ln)
    top = min(map(depth, below))
    starts = [k for k, ln in enumerate(below) if depth(ln) == top]
    return [below[a:b] for a, b in zip(starts, starts[1:] + [len(below)])]


def test_ndcg_candidate_leg_is_spread(spark):
    lines = (
        reg.QUERIES["ndcg_dup_retrieval"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString().splitlines()
    )
    (join,) = [i for i, ln in enumerate(lines) if "BroadcastNestedLoopJoin" in ln]
    (candidates,) = [
        c for c in _children(lines, join) if "BroadcastExchange" not in c[0]
    ]
    # the candidate leg: tokenize (ws) directly over the round-robin
    # spread, so tokenize + 5x jaccard run on the spread partitions
    assert " AS ws#" in candidates[0], candidates[0]
    assert "Exchange RoundRobinPartitioning" in candidates[1], (
        "candidate-leg spread disappeared — the tokenize + 5x jaccard "
        "map work would serialize on the input's scan partitions"
    )
