"""The query planner's two regimes (flatnav_spark/query.py _candidates):
DRIVER-DIRECT — the query terms' row groups read with pyarrow and scored
in-process, no Spark job — and the SPARK pass. Both feed the same scorer
kernel the same (chunk_id, term)-ordered segments, so every exact top-k
must come back rank-identical in doc ids AND float64 scores, whichever
regime runs it. Each regime is forced through the planner's one regime
constant, DIRECT_MAX_POSTINGS — no API option picks it.
"""

from __future__ import annotations

import shutil

import pytest

import flatnav_spark.query as Q
from flatnav_spark.query import batch_query, prefix_query_batch, query_one
from flatnav_spark.service import StandingQueryService
from perfbench.inputs import strata_queries

SCHEMA = "repo string, path string, commit string, lang string, content string"
QSCHEMA = "query_id long, query_text string"
K = 10
REGIMES = {"direct": 1 << 62, "spark": 0}


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    """One-generation, two-generation (after extend_index) and optimized
    indexes over the same zipf corpus."""
    from flatnav_spark.build import build_index, extend_index
    from flatnav_spark.corpus import synth_zipf_corpus
    from flatnav_spark.index_io import load_index
    from flatnav_spark.maintenance import optimize_index

    root = tmp_path_factory.mktemp("planner")
    rows = synth_zipf_corpus(1600, n_terms=20000, median_dl=80)
    args = dict(mode="code", n_splits=8, n_groups=1, block_range=64,
                chunk_blocks=4, out_partitions=4)
    one = build_index(spark.createDataFrame(rows, SCHEMA), str(root / "one"), **args)
    two = build_index(spark.createDataFrame(rows[:1200], SCHEMA), str(root / "two"), **args)
    two = extend_index(spark, two, spark.createDataFrame(rows[1200:], SCHEMA),
                       out_partitions=4)
    assert len(two.manifest.postings_dirs) == 2
    shutil.copytree(two.path, str(root / "opt"))
    opt = optimize_index(spark, load_index(str(root / "opt")), out_partitions=2)
    assert len(opt.manifest.postings_dirs) == 1
    return {"one_gen": one, "two_gen": two, "optimized": opt}


@pytest.fixture(scope="module")
def queries(spark, layouts):
    """The benchmark's strata mix (mid / hot / rare-or-absent terms), plus
    queries of six hot terms each: their top docs sum many contributions,
    so any change in per-doc accumulation order shows in the float64s."""
    idx = layouts["one_gen"]
    idx.preload_term_stats(spark)
    df = {t: s["df"] for t, s in idx._stats_cache.items()}
    qs = strata_queries(df, 60, seed=3)
    assert any("zzqqabsent" in text for _, text in qs)
    hot = sorted(df, key=lambda t: (df[t], t))[-12:]
    return qs + [(100 + i, " ".join(hot[i:i + 6])) for i in range(0, 12, 3)]


def _force(monkeypatch, regime: str) -> None:
    monkeypatch.setattr(Q, "DIRECT_MAX_POSTINGS", REGIMES[regime])


def _batch(spark, index, queries, k=K, **kw):
    res = batch_query(spark, index, spark.createDataFrame(queries, QSCHEMA), k=k, **kw)
    return sorted((r.query_id, r.rank, r.doc_id, r.score) for r in res.collect())


def _both(monkeypatch, run):
    out = {}
    for regime in REGIMES:
        _force(monkeypatch, regime)
        out[regime] = run()
    return out["direct"], out["spark"]


@pytest.mark.parametrize("layout", ["one_gen", "two_gen", "optimized"])
@pytest.mark.parametrize("kw", [{}, {"prune": False}, {"scorer": "tfidf_ip"}],
                         ids=["bm25_prune", "bm25_exact", "tfidf_ip"])
def test_batch_regimes_identical(spark, layouts, queries, monkeypatch, layout, kw):
    index = layouts[layout]
    direct, sparkpass = _both(monkeypatch, lambda: _batch(spark, index, queries, **kw))
    assert direct == sparkpass
    answered = {q for q, *_ in direct}
    assert len(answered) > len(queries) // 2


def test_service_seeded_regimes_identical(spark, layouts, queries, monkeypatch):
    """Threshold seeds (seed_thr_by_qid via the service's cache) and the
    metrics counters work the same in both regimes."""
    def run():
        svc = StandingQueryService(spark, layouts["two_gen"], k=K)
        cold = svc.search_batch(queries)
        warm = svc.search_batch(queries, collect_metrics=True)
        assert warm == cold
        assert set(svc.last_metrics) == set(Q._METRICS)
        assert svc.last_metrics["segments_scored"] > 0
        return warm

    direct, sparkpass = _both(monkeypatch, run)
    assert direct == sparkpass


def test_prefix_and_query_one_regimes_identical(spark, layouts, queries, monkeypatch):
    index = layouts["optimized"]
    term = queries[0][1].split()[0]
    pats = [(0, f"{term[:3]}* import"), (1, f"{term}~1"), (2, "zzqq*")]
    texts = [text for _, text in queries[:8]]

    def run():
        qdf = spark.createDataFrame(pats, QSCHEMA)
        prefix = sorted((r.query_id, r.rank, r.doc_id, r.score)
                        for r in prefix_query_batch(spark, index, qdf, k=K).collect())
        return prefix, [query_one(spark, index, t, k=K) for t in texts]

    direct, sparkpass = _both(monkeypatch, run)
    assert direct == sparkpass
    assert direct[0]


def test_approx_scores_exact_in_both_regimes(spark, layouts, queries, monkeypatch):
    """Under approx_factor > 1 pruning order differs between the regimes,
    so only the contract holds: every returned score is the doc's exact
    score."""
    index = layouts["one_gen"]
    _force(monkeypatch, "direct")
    exact = {(q, d): s for q, _, d, s in _batch(spark, index, queries, k=3000, prune=False)}
    for regime in REGIMES:
        _force(monkeypatch, regime)
        approx = _batch(spark, index, queries, approx_factor=1.5)
        assert approx
        for q, _, d, s in approx:
            assert exact[(q, d)] == s


def test_regime_follows_postings_estimate(spark, layouts, monkeypatch):
    """The planner picks the regime from Σdf alone: a preloaded query_one
    at or under the bound launches zero Spark jobs, one over it runs the
    Spark pass — with identical results either way."""
    index = layouts["one_gen"]
    index.preload_term_stats(spark)
    cache = index._stats_cache
    by_df = sorted(cache, key=lambda t: (cache[t]["df"], t))
    mid, hot = by_df[len(by_df) // 2], by_df[-1]
    both = f"{mid} {hot}"
    tracker = spark.sparkContext.statusTracker()

    def jobs_of(text):
        before = set(tracker.getJobIdsForGroup(None))
        hits = query_one(spark, index, text, k=K)
        return hits, len(set(tracker.getJobIdsForGroup(None)) - before)

    # this fixture's queries are all far under the shipped bound
    direct, direct_jobs = jobs_of(both)
    assert direct and direct_jobs == 0
    monkeypatch.setattr(Q, "DIRECT_MAX_POSTINGS", cache[mid]["df"])
    small, small_jobs = jobs_of(mid)
    assert small and small_jobs == 0
    big, big_jobs = jobs_of(both)
    assert big_jobs > 0
    assert big == direct
