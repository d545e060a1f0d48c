"""Golden-fixture oracles for queries whose semantics are not
SQL-expressible (VERDICT r4 item #2).

The driver's correctness gate compares a Spark query against a DuckDB
SQL oracle over parquet.  Two registry queries have no SQL mirror:

* ``isolation_forest`` — RNG-grown trees (Liu/Ting/Zhou 2008; the
  reference's processor/isolationforestprocessor);
* ``drain_tree_templates`` — greedy sequential similarity clustering
  (the IBM Drain paper the reference's drainprocessor wraps).

Both are nevertheless *deterministic pure functions of the input
table*, so the expected output can be computed by a single-process
Python twin and shipped as a parquet the oracle simply SELECTs.  The
Spark callable writes the fixture (atomically) before returning its
DataFrame; the driver then runs the oracle SQL against the same file.

What this checks: the distributed plan — Spark-side window selection
(sort + limit), Arrow batch slicing through the pandas UDF, broadcast
forests, the exact-percentile aggregate, HALF_UP rounding, and the
flag/filter — against a driver-side sequential computation over the
same parquet bytes.  The *algorithm-level* evidence (planted-outlier
recall, golden clusters, determinism under repartitioning) remains in
pytest (tests/test_iforest.py, tests/test_operators.py), which this
fixture complements rather than replaces: where code is shared with
the Spark path (tree growth, vectorized scoring) the fixture cannot
catch an algorithm bug, only a distribution bug.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from decimal import ROUND_HALF_UP, Decimal

from sparkotel.rounding import round_half_up6

import numpy as np
import pandas as pd

# One fixture path per query, NOT per (sf, run): the oracle SQL is a
# static string so it cannot embed the sf dir.  Writes are atomic
# (os.replace) and each compare runs its Spark callable (which rewrites
# the fixture) immediately before its oracle, so the only hazard is two
# DIFFERENT-sf compare loops interleaving across processes — don't run
# the driver and a full local sweep concurrently.
GOLDEN_DIR = "/tmp/sparkotel_golden"

IFOREST_PARQUET = os.path.join(GOLDEN_DIR, "isolation_forest.parquet")
DRAIN_TREE_PARQUET = os.path.join(GOLDEN_DIR, "drain_tree.parquet")


def _write(df: pd.DataFrame, path: str) -> str:
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    df.to_parquet(tmp, index=False)
    os.replace(tmp, path)  # atomic: a concurrent oracle never sees a torn file
    return path


def _round_half_up6(v: float) -> float:
    """Canonical twin lives in sparkotel.rounding (shared with the Arrow
    repetition kernel); kept as an alias for this module's callers."""
    return round_half_up6(v)


def _spark_percentile(values: np.ndarray, q: float) -> float:
    """Exact mirror of Spark's Percentile.getPercentile arithmetic
    (sql/catalyst aggregate/Percentile.scala): position = (n-1)*q,
    result = lower*(higher-position) + upper*(position-lower)."""
    s = np.sort(values)
    pos = (len(s) - 1) * q
    lo = int(math.floor(pos))
    hi = int(math.ceil(pos))
    if lo == hi:
        return float(s[lo])
    return float(s[lo] * (hi - pos) + s[hi] * (pos - lo))


# ---------------------------------------------------------------------------
# isolation_forest golden twin
# ---------------------------------------------------------------------------


def _k(p) -> float:
    """twin of coalesce(get_json_object(props,'$.k').try_cast(double),
    0.0) — non-object JSON (array/scalar) yields NULL in Spark, so guard
    the .get too; JSON booleans render as 'true'/'false', which Spark's
    try_cast NULLs (python float(True) would say 1.0 — reject bools
    explicitly); Infinity/NaN literals are invalid JSON that Spark's
    parser rejects wholesale, but python's json accepts them as an
    extension — parse_constant maps them to None → 0.0.  Module level so
    the equivalence is unit-testable (tests/test_iforest.py)."""
    try:
        v = json.loads(p, parse_constant=lambda s: None)
        kv = v.get("k") if isinstance(v, dict) else None
        if isinstance(kv, bool):
            return 0.0
        if isinstance(kv, float) and (math.isinf(kv) or math.isnan(kv)):
            # a NUMERIC literal that overflowed python's float (1e999):
            # Spark's JSON parser rejects it (NULL → 0.0).  A STRING
            # "Infinity" is different — both engines cast it to inf —
            # so only non-string values are guarded.
            return 0.0
        return float(kv)
    except (TypeError, ValueError):
        return 0.0


def iforest_golden(
    sf_dir: str,
    num_trees: int = 50,
    subsample: int = 128,
    window_size: int = 1000,
    seed: int = 11,
    contamination_rate: float = 0.02,
) -> str:
    """Single-process twin of the registry ``isolation_forest`` query:
    events → (x = value, y = props.k or 0) → md5-ranked training window
    → seeded forest → score all rows → (1-contamination) exact-percentile
    threshold → flagged rows (event_id, x, y, round(score, 6)).

    Evidence class: this twin shares ``train_forest`` and ``score_rows``
    with the query, so it checks the Spark plumbing (the md5 training
    window, the scoring distribution, the exact-percentile threshold),
    not the algorithm.  The algorithm evidence is tests/test_iforest.py:
    planted-outlier ranking, seed determinism and degenerate score math."""
    from sparkotel.functions.iforest import score_rows, train_forest

    ev = pd.read_parquet(
        os.path.join(sf_dir, "events.parquet"),
        columns=["event_id", "value", "props"],
    )

    ids = ev["event_id"].to_numpy()
    x = ev["value"].astype(float).to_numpy()
    y = np.array([_k(p) for p in ev["props"]], dtype=float)
    X = np.column_stack([x, y])

    # training window: md5(cast(event_id as string)) hash-lowest rows
    # among non-null feature rows, in rank order (mirrors base.na.drop →
    # orderBy(rank) → limit(window) → collect)
    valid = ~(np.isnan(x) | np.isnan(y))
    ranks = np.array(
        [hashlib.md5(str(int(i)).encode()).hexdigest() for i in ids]
    )
    order = np.argsort(ranks[valid], kind="stable")
    window_idx = np.flatnonzero(valid)[order][:window_size]
    forest = train_forest(X[window_idx], num_trees, subsample, seed)

    scores = score_rows(forest, X)
    thr = _spark_percentile(scores, 1.0 - contamination_rate)
    flagged = scores >= thr

    out = pd.DataFrame(
        {
            "event_id": ids[flagged].astype("int64"),
            "x": x[flagged],
            "y": y[flagged],
            "score": [_round_half_up6(v) for v in scores[flagged]],
        }
    )
    return _write(out, IFOREST_PARQUET)


# ---------------------------------------------------------------------------
# drain_tree_templates golden twin
# ---------------------------------------------------------------------------


def _drain_cluster_leaf(pairs: list[tuple[str, int]]) -> list[tuple[str, int, str]]:
    """Sequential greedy Drain clustering over one leaf's distinct
    (line, count) set — independent reimplementation of the pandas
    ``cluster`` closure in operators/parse.py::drain_tree_templates,
    same lexicographic processing order."""
    sim_threshold = 0.5
    max_cmp = 64
    clusters: list[tuple[list, int, str]] = []
    for line, cnt in sorted(pairs):
        toks = str(line).split()
        best = None
        for idx, (tpl, _, _) in enumerate(clusters):
            if len(tpl) != len(toks):
                continue
            same = sum(
                1 for a, b in zip(tpl[:max_cmp], toks[:max_cmp]) if a == b
            )
            wild = sum(1 for a in tpl[:max_cmp] if a == "<*>")
            denom = min(len(toks), max_cmp)
            sim = (same + wild) / denom if denom else 1.0
            if sim >= sim_threshold:
                best = idx
                break
        if best is None:
            clusters.append((list(toks), int(cnt), str(line)))
        else:
            tpl, n, ex = clusters[best]
            merged = [a if a == b else "<*>" for a, b in zip(tpl, toks)]
            clusters[best] = (merged, n + int(cnt), ex)
    return [(" ".join(tpl), n, ex) for tpl, n, ex in clusters]


def drain_tree_golden(sf_dir: str, max_leaf: int = 50_000) -> str:
    """Single-process twin of the registry ``drain_tree_templates``
    query: documents → py_page first lines (the python pages twin,
    differential-tested against the SQL generator) → distinct-line
    counts → depth-4 tree leaves (n_tokens, t1, t2) → greedy clustering
    per leaf → template merge.

    Valid while every leaf's distinct-line population ≤ ``max_leaf``
    (single salt shard); beyond that the Spark path salt-splits with
    Spark's murmur3 ``hash()``, which this twin does not replicate —
    it raises instead (the driver runs at sf0.01 ≪ max_leaf)."""
    import re

    from sparkotel.oracle import py_page

    docs = pd.read_parquet(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "lang"]
    )
    counts: dict[str, int] = {}
    for doc_id, lang in zip(docs["doc_id"], docs["lang"]):
        line = py_page(int(doc_id), "", lang)["text"].split("\n", 1)[0]
        counts[line] = counts.get(line, 0) + 1

    # leaf key (n_tokens, t1, t2) with numeric-leading tokens wildcarded
    def leaf_key(line: str) -> tuple:
        toks = re.split(r"\s+", line)

        def mask(i: int) -> str:
            if i >= len(toks):
                return ""  # element_at OOB → NULL → coalesce ''
            t = toks[i]
            return "<*>" if re.match(r"^\d", t) else t

        return (len(toks), mask(0), mask(1))

    leaves: dict[tuple, list[tuple[str, int]]] = {}
    for line, cnt in counts.items():
        leaves.setdefault(leaf_key(line), []).append((line, cnt))
    for key, pairs in leaves.items():
        if len(pairs) > max_leaf:
            raise ValueError(
                f"leaf {key} has {len(pairs)} distinct lines > max_leaf; "
                "golden twin does not replicate salt splitting"
            )

    merged: dict[str, tuple[int, str]] = {}
    for pairs in leaves.values():
        for tpl, n, ex in _drain_cluster_leaf(pairs):
            if tpl in merged:
                n0, ex0 = merged[tpl]
                merged[tpl] = (n0 + n, min(ex0, ex))
            else:
                merged[tpl] = (n, ex)

    out = pd.DataFrame(
        [(t, n, ex) for t, (n, ex) in merged.items()],
        columns=["template", "n", "example"],
    )
    out["n"] = out["n"].astype("int64")
    return _write(out, DRAIN_TREE_PARQUET)
