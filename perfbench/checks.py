"""Correctness checks run on the output of every operation."""

from __future__ import annotations

import hashlib
from collections import Counter

from levenshtein_spark.kernel import batch_edit_distance
from levenshtein_spark.oracle import ref_edit_distance

F1_GATE = 0.99


def _pairs(sizes) -> int:
    return sum(n * (n - 1) // 2 for n in sizes)


def pair_f1(predicted: dict, truth: dict) -> float:
    """Pairwise F1 of predicted clusters against planted clusters; both map
    a row key to a cluster label and must cover the same rows."""
    if predicted.keys() != truth.keys():
        raise ValueError(
            f"labels cover {len(predicted)} rows, truth {len(truth)}; sets differ"
        )
    both = _pairs(Counter((predicted[r], truth[r]) for r in truth).values())
    pred = _pairs(Counter(predicted.values()).values())
    true = _pairs(Counter(truth.values()).values())
    if pred + true == 0:
        return 1.0
    return 2 * both / (pred + true)


def label_fingerprint(predicted: dict) -> str:
    """Order-free sha256 of the clustering, independent of which member id
    names each cluster."""
    groups: dict = {}
    for key, label in predicted.items():
        groups.setdefault(label, []).append(key)
    canon = sorted(",".join(sorted(m)) for m in groups.values())
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]


def probe_accuracy(rows, planted: dict, k: int) -> float:
    """Share of probes whose answer passes the oracle check: one answer per
    probe, its distance recomputed by the full-matrix oracle equals the
    reported one, and is at most the probe's planted substitution count."""
    answers = {r[0]: (r[1], r[2]) for r in rows}
    if len(rows) != len(planted) or answers.keys() != planted.keys():
        return 0.0
    ok = 0
    for probe, (_, n_subs) in planted.items():
        cand, dist = answers[probe]
        if ref_edit_distance(probe, cand, k) == dist <= n_subs:
            ok += 1
    return ok / len(planted)


def answer_fingerprint(answers) -> str:
    """Order-free sha256 of closest-match answers ``(probe, cand, dist)``."""
    canon = sorted(f"{p}\t{c}\t{d}" for p, c, d in answers)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]


def answers_minimal(answers, candidates: list) -> bool:
    """True when no candidate lies closer to a probe than its answer
    ``(probe, dist)``: every candidate, scored by the non-adaptive kernel
    with cap ``dist - 1``, must exceed that cap."""
    for probe, dist in answers:
        if dist == 0:
            continue
        got = batch_edit_distance([probe] * len(candidates), candidates, k=dist - 1)
        if int(got.min()) < dist:
            return False
    return True
