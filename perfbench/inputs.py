"""Seeded workload inputs with planted truth.

Every generator is a pure function of ``seed`` built on the engine's public
corpus generator ``sources.code_files.generate_cluster_rows``. Each returns
the tables the program receives (written as parquet by the caller) and the
truth, which never leaves the benchmark:

* link_batch: a ``code_files`` table with the BASELINE ``input_hint``
  schema, and ``commit -> planted cluster`` (commits are unique per row);
* closest_match: a candidate table of distinct 64-byte content prefixes, a
  probe table, and for each probe its source candidate and the number of
  substitutions planted into it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from levenshtein_spark.sources.code_files import generate_cluster_rows

CODE_COLUMNS = ["repo", "path", "commit", "lang", "content"]

# Sizes. A warm link operation here takes 13-21 s on a 4-core host. Spark's
# fixed cost of ~105 stages per run_linkage call is 4-8 s of it (what the
# warmed 75-cluster input takes), so linking work sets ~60-75% of the wall.
BATCH_CLUSTERS = 3000
WARMUP_CLUSTERS = 75
CLOSEST_CLUSTERS = 1200
CLOSEST_PROBES = 300
PROBE_LEN = 64
PROBE_MAX_SUBS = 6
CLOSEST_K = 8

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _cluster_rows(first: int, count: int, seed: int) -> tuple[list[dict], dict]:
    rows, truth = [], {}
    for cid in range(first, first + count):
        for r in generate_cluster_rows(cid, seed):
            rows.append(r)
            truth[r["commit"]] = cid
    return rows, truth


def link_batch(seed: int, clusters: int = BATCH_CLUSTERS) -> tuple[pd.DataFrame, dict]:
    """Default production traffic: the generator's mix of near-duplicate
    clusters, exact duplicates, distractor singletons and one hot repo."""
    rows, truth = _cluster_rows(0, clusters, seed)
    return pd.DataFrame(rows, columns=CODE_COLUMNS), truth


def _substitute(rng: np.random.Generator, s: str, n: int) -> str:
    chars = list(s)
    for pos in rng.choice(len(chars), size=n, replace=False):
        old = chars[pos]
        chars[pos] = rng.choice([c for c in _LETTERS if c != old])
    return "".join(chars)


def closest_match(seed: int) -> tuple[pd.DataFrame, pd.DataFrame, dict]:
    """Probes are 64-byte content prefixes with 0..6 substitutions at
    distinct positions, so each probe's true closest distance is at most its
    planted substitution count."""
    rows, _ = _cluster_rows(0, CLOSEST_CLUSTERS, seed)
    prefixes = sorted({r["content"][:PROBE_LEN] for r in rows if len(r["content"]) >= PROBE_LEN})
    rng = np.random.default_rng([seed, 0xC105E])
    probes: dict[str, tuple[str, int]] = {}
    for i in rng.permutation(len(prefixes)):
        if len(probes) == CLOSEST_PROBES:
            break
        n_subs = int(rng.integers(0, PROBE_MAX_SUBS + 1))
        probe = _substitute(rng, prefixes[i], n_subs)
        probes.setdefault(probe, (prefixes[i], n_subs))
    cands = pd.DataFrame({"cand": prefixes})
    probe_df = pd.DataFrame({"probe": sorted(probes)})
    return cands, probe_df, probes
