"""Output checks. Each returns a list of failure messages (empty = correct),
so a failed check is counted, reported and never dropped."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

#: per corpus scale: (lowest pair F1, largest |resolved clusters - planted
#: entities|). Over seeds 1-10 the pipeline this benchmark was written
#: against makes at most one merge or split error per seed: |diff| <= 1,
#: F1 >= 0.99944 (small) and >= 0.99966 (perfbench). The limits admit a
#: seed with three or four such errors, and nothing like a real regression.
ER_LIMITS = {"small": (0.998, 3), "perfbench": (0.999, 4)}
#: the planted document families are recovered exactly on every seed
HEADLINE_F1 = 1.0


def check_er(f1: float, clusters: int, rows: int, distinct_ids: int, facts: dict) -> list[str]:
    """A resolved ER assignment against the corpus' planted facts."""
    f1_min, cluster_tol = ER_LIMITS[facts["scale"]]
    errs = []
    if not f1 >= f1_min:
        errs.append(f"pair F1 {f1} < {f1_min}")
    if abs(clusters - facts["entities"]) > cluster_tol:
        errs.append(
            f"{clusters} clusters vs {facts['entities']} planted entities (tolerance {cluster_tol})"
        )
    if not rows == distinct_ids == facts["file_ids"]:
        errs.append(
            f"assignment has {rows} rows / {distinct_ids} ids for {facts['file_ids']} files"
        )
    return errs


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    return v


def digest(columns: list[str], rows: list[tuple]) -> dict:
    """Row count + order-independent checksum of a query result: columns
    sorted by name, floats rounded to 6 places, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(repr(tuple(_norm_cell(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256("\n".join(norm).encode()).hexdigest()[:16]
    return {"rows": len(rows), "checksum": h}


def check_digests(got: dict[str, dict], want: dict[str, dict]) -> dict[str, str]:
    """``{query: message}`` for every expected digest the result misses."""
    return {
        name: f"{got.get(name)} != expected {want[name]}"
        for name in want
        if got.get(name) != want[name]
    }


def pair_f1(pred: dict, gold: dict) -> float:
    """Pairwise F1 of a clustering ``{id: cluster}`` against ``{id: family}``."""

    def pairs(counts) -> int:
        return sum(n * (n - 1) // 2 for n in counts)

    ids = gold.keys() & pred.keys()
    tp = pairs(Counter((pred[i], gold[i]) for i in ids).values())
    n_pred = pairs(Counter(pred[i] for i in ids).values())
    n_gold = pairs(Counter(gold[i] for i in ids).values())
    if n_pred == 0 and n_gold == 0:
        return 1.0
    return 2.0 * tp / (n_pred + n_gold)
