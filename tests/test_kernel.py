"""The scorer kernel (flatnav_spark/query.py _make_partition_scorer) on a
multi-block, two-generation index: every top-k is float64-identical to
the reference scorer, and its six WAND counters equal the values pinned
below, recorded from the kernel that walked each block one segment run
and one query at a time. The block walk changes how the work is done,
never which blocks, runs and (query, block) pairs get scored.
"""

from __future__ import annotations

import pytest

import flatnav_spark.query as Q
from flatnav_spark.query import query_pairs
from flatnav_spark.reference import ReferenceIndex
from flatnav_spark.service import StandingQueryService
from perfbench.inputs import strata_queries

SCHEMA = "repo string, path string, commit string, lang string, content string"

# (blocks_scored, blocks_pruned, segments_scored, segments_pruned,
#  pairs_scored, pairs_pruned), in Q._METRICS order
PINNED = {
    "bm25-prune-k1": (19, 0, 426, 259, 232, 257),
    "bm25-prune-k10": (19, 0, 664, 21, 465, 24),
    "bm25-prune-k100": (19, 0, 679, 6, 481, 8),
    "bm25-exact-k1": (19, 0, 685, 0, 489, 0),
    "bm25-exact-k10": (19, 0, 685, 0, 489, 0),
    "bm25-exact-k100": (19, 0, 685, 0, 489, 0),
    "tfidf_ip-prune-k1": (18, 1, 304, 381, 197, 292),
    "tfidf_ip-prune-k10": (19, 0, 554, 131, 392, 97),
    "tfidf_ip-prune-k100": (19, 0, 662, 23, 472, 17),
    "service-warm-k10": (19, 0, 635, 50, 436, 53),
    "spark3-bm25-prune-k10": (19, 0, 677, 8, 478, 11),
}


@pytest.fixture(scope="module")
def fixture(spark, tmp_path_factory):
    """Two generations (build, then extend_index) with 64-doc blocks and
    4-block chunks; queries from the benchmark's strata mix plus queries
    of six hot terms each; a reference index per scorer."""
    from flatnav_spark.build import build_index, extend_index
    from flatnav_spark.corpus import synth_zipf_corpus

    rows = synth_zipf_corpus(1000, n_terms=5000, median_dl=60)
    root = tmp_path_factory.mktemp("kernel")
    index = build_index(spark.createDataFrame(rows[:700], SCHEMA), str(root / "idx"),
                        mode="code", n_splits=8, n_groups=1, block_range=64,
                        chunk_blocks=4, out_partitions=4)
    index = extend_index(spark, index, spark.createDataFrame(rows[700:], SCHEMA),
                         out_partitions=4)
    assert len(index.manifest.postings_dirs) == 2
    index.preload_term_stats(spark)
    df = {t: s["df"] for t, s in index._stats_cache.items()}
    hot = sorted(df, key=lambda t: (df[t], t))[-12:]
    queries = strata_queries(df, 40, seed=5) + [
        (100 + i, " ".join(hot[i:i + 6])) for i in range(0, 12, 3)]
    content = {(r[0], r[1], r[2]): r[4] for r in rows}
    docs = [(r.doc_id, content[(r.repo, r.path, r.commit)])
            for r in index.docs(spark).collect()]
    refs = {s: ReferenceIndex(docs, mode="code", scorer=s) for s in ("bm25", "tfidf_ip")}
    return index, queries, refs


def _check_reference(hits, queries, ref, k):
    for qid, text in queries:
        assert hits.get(qid, []) == ref.top_k(text, k), (qid, text)


def _counters(metrics):
    return tuple(int(metrics[name].value) for name in Q._METRICS)


CONFIGS = [(scorer, prune, k)
           for scorer, prune in (("bm25", True), ("bm25", False), ("tfidf_ip", True))
           for k in (1, 10, 100)]


@pytest.mark.parametrize("scorer,prune,k", CONFIGS)
def test_kernel_matches_reference_and_pinned_counters(spark, fixture, scorer, prune, k):
    index, queries, refs = fixture
    hits, metrics = query_pairs(spark, index, queries, k=k, prune=prune,
                                scorer=scorer, collect_metrics=True)
    _check_reference(hits, queries, refs[scorer], k)
    assert _counters(metrics) == PINNED[f"{scorer}-{'prune' if prune else 'exact'}-k{k}"]


def test_service_seeded_kernel(spark, fixture):
    """A warm service batch starts every repeated query at its cached k-th
    score: the same answers, more pruning, pinned counters."""
    index, queries, refs = fixture
    svc = StandingQueryService(spark, index, k=10)
    cold = svc.search_batch(queries, collect_metrics=True)
    cold_counts = tuple(svc.last_metrics[name] for name in Q._METRICS)
    warm = svc.search_batch(queries, collect_metrics=True)
    warm_counts = tuple(svc.last_metrics[name] for name in Q._METRICS)
    _check_reference(warm, queries, refs["bm25"], 10)
    assert warm == cold
    assert cold_counts == PINNED["bm25-prune-k10"]
    assert warm_counts == PINNED["service-warm-k10"]


def test_spark_pass_kernel_counters(spark, fixture, monkeypatch):
    """The same kernel run as three Spark tasks, each starting with its
    own thresholds."""
    index, queries, refs = fixture
    monkeypatch.setattr(Q, "DIRECT_MAX_POSTINGS", 0)
    hits, metrics = query_pairs(spark, index, queries, k=10, num_partitions=3,
                                collect_metrics=True)
    _check_reference(hits, queries, refs["bm25"], 10)
    assert _counters(metrics) == PINNED["spark3-bm25-prune-k10"]
