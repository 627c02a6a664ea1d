"""Seeded workload inputs and their golden answers.

Everything here runs before the JVM starts. The engine receives only the
generated rows and query texts. Golden answers come from the reference
scorer (flatnav_spark.reference) and are cached per (workload, seed,
sizes, reference code), so a repeated seed pays for them once.

Doc ids are assigned by the engine, so the golden is keyed by the
(repo, path, commit) identity instead: for each sampled query it keeps
every document whose reference score reaches the k-th best. After the run
the keys are mapped to the engine's doc ids and re-ranked by
(score desc, doc_id asc), which is the exact golden top-k whatever the
ties.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass
from typing import Dict, List, Tuple

import numpy as np

Row = Tuple[str, str, str, str, str]  # repo, path, commit, lang, content


@dataclass(frozen=True)
class Sizes:
    base_docs: int
    n_queries: int
    extend_rounds: int = 0
    extend_docs: int = 0
    sample: int = 40  # queries checked against the golden
    k: int = 10


@dataclass
class Inputs:
    base: List[Row]
    extends: List[List[Row]]
    queries: List[Tuple[int, str]]
    sample_ids: List[int]
    # query id -> [(repo, path, commit, score)] with score >= the k-th best
    golden: Dict[int, List[Tuple[str, str, str, float]]]


def base_rows(sizes: Sizes, seed: int) -> List[Row]:
    from flatnav_spark.corpus import synth_zipf_corpus

    return synth_zipf_corpus(sizes.base_docs, seed=seed)


def extend_rows(sizes: Sizes, seed: int) -> List[List[Row]]:
    """Extend batches whose (repo, path, commit) keys are new: each batch
    starts where the base corpus and the batches before it end. Reusing a
    start would repeat keys, which extend_index skips as re-adds."""
    from flatnav_spark.corpus import synth_zipf_corpus

    return [
        synth_zipf_corpus(sizes.extend_docs, seed=seed * 1000 + r + 1,
                          start=sizes.base_docs + r * sizes.extend_docs)
        for r in range(sizes.extend_rounds)
    ]


def strata_queries(df: Dict[str, int], n_queries: int, seed: int) -> List[Tuple[int, str]]:
    """bench.py's query mix: 60% mid-frequency terms, 25% with a hot
    term, 15% with a rare or absent term; strata taken from the (df, term)
    order of the corpus vocabulary."""
    order = sorted(df, key=lambda t: (df[t], t))
    n = len(order)
    hot = order[n - max(n // 100, 1):]
    rare = order[:max(n // 10, 1)]
    mid = order[n // 3: 2 * n // 3] or hot
    rng = np.random.default_rng(seed)
    rows = []
    for qid in range(n_queries):
        k_terms = int(rng.integers(1, 5))
        chosen = [mid[int(rng.integers(0, len(mid)))] for _ in range(k_terms)]
        r = rng.random()
        if 0.60 <= r < 0.85:
            chosen[0] = hot[int(rng.integers(0, len(hot)))]
        elif r >= 0.85:
            chosen[0] = (rare[int(rng.integers(0, len(rare)))] if rng.random() < 0.5
                         else f"zzqqabsent{qid}")
        rows.append((qid, " ".join(chosen)))
    return rows


def _reference_fingerprint() -> str:
    """Hash of the code the golden depends on: a changed scorer or
    tokenizer must not be checked against a stale cache."""
    import flatnav_spark

    h = hashlib.sha256()
    pkg = os.path.dirname(flatnav_spark.__file__)
    for name in ("corpus.py", "reference.py", "scorer.py", "tokenizer.py"):
        with open(os.path.join(pkg, name), "rb") as f:
            h.update(f.read())
    with open(__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:16]


def make_inputs(workload: str, sizes: Sizes, seed: int, cache_dir: str) -> Inputs:
    base = base_rows(sizes, seed)
    extends = extend_rows(sizes, seed)
    tag = f"{workload}-s{seed}-{sizes.base_docs}-{sizes.n_queries}-" \
          f"{sizes.extend_rounds}x{sizes.extend_docs}-{sizes.sample}-{sizes.k}-" \
          f"{_reference_fingerprint()}"
    path = os.path.join(cache_dir, f"{tag}.json")
    if os.path.exists(path):
        with open(path) as f:
            c = json.load(f)
        queries = [tuple(q) for q in c["queries"]]
        golden = {int(q): [tuple(x) for x in v] for q, v in c["golden"].items()}
        return Inputs(base, extends, queries, c["sample_ids"], golden)

    # one reference over everything the engine will hold; the queries are
    # drawn from its vocabulary, so every workload asks the same kind of
    # question of its final index
    from flatnav_spark.reference import ReferenceIndex

    final = base + [r for batch in extends for r in batch]
    ref = ReferenceIndex([(i, r[4]) for i, r in enumerate(final)], mode="code")
    queries = strata_queries({t: len(p) for t, p in ref.postings.items()},
                             sizes.n_queries, seed)
    rng = np.random.default_rng(seed + 7)
    sample_ids = sorted(int(q) for q in rng.choice(sizes.n_queries, sizes.sample, replace=False))
    text = dict(queries)
    golden = {}
    for qid in sample_ids:
        ranked = sorted(ref.score(text[qid]).items(), key=lambda kv: -kv[1])
        if len(ranked) > sizes.k:
            kth = ranked[sizes.k - 1][1]
            ranked = [kv for kv in ranked if kv[1] >= kth]
        golden[qid] = [(*final[i][:3], s) for i, s in ranked]
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"queries": queries, "sample_ids": sample_ids,
                   "golden": {str(q): v for q, v in golden.items()}}, f)
    os.replace(tmp, path)
    return Inputs(base, extends, queries, sample_ids, golden)
