"""Batched top-k query — the analog of flatnav's batched ``search``
(python-bindings/src/flatnav/bindings.cpp:161-228: thread fan-out over
queries against a shared read-only index). Here the read-only index is the
postings parquet, and the per-query state is one row of (n_q, k) top-k
arrays per pass.

One planner (_candidates) answers every exact top-k call:

  1. resolve query terms DRIVER-SIDE: tokenize (the pure tokenizer of the
     build) and look up each term's df, from the preloaded stats cache or
     one filtered stats read. The batch's estimated postings Σdf follow.
  2. pick the regime from Σdf alone. At most DIRECT_MAX_POSTINGS: read
     only the query terms' row groups with pyarrow and run the scorer
     kernel in-process — no Spark job. Above: the Spark pass — postings
     scan filtered to the batch's terms (literal ``term IN``, or broadcast
     LEFT SEMI join + [min,max] range above LARGE_TERM_SET), exact
     zero-job contiguous range partition on chunk_id
     (flatnav_spark/partitioning.py), sortWithinPartitions(chunk_id, term),
     mapInPandas scorer.
  3. the kernel (_make_partition_scorer) walks its chunks in order; per
     chunk it decodes every needed row's postings in ONE concatenated
     varint pass, then scores the chunk's blocks ascending with a fixed
     number of numpy calls per block: the block's active (run, query)
     pairs, in run order = ascending term order, expand to postings and
     ONE np.bincount accumulates them. bincount adds in input order from
     0.0, so every (query, doc) cell sums its terms' contributions in
     ascending term order — the determinism contract shared with
     flatnav_spark.reference. Because
     chunk_id = doc_id // (block_range * chunk_blocks) is term-independent,
     a doc's full score is computed in exactly one task, so both regimes
     return the same float64 scores.
  4. per-pass per-query top-k, then the final (score desc, doc_id asc)
     rank <= k — a window row_number() in the Spark regime, pandas when
     driver-direct: the Q4 sort+truncate analog (Index.h:402-406) with
     explicit tie-breaking.

Scoring is pluggable (flatnav_spark.scorer.SCORERS — the L2/IP
distance-interface analog): the index stores raw (tf, dl, df), so BM25 and
TF-IDF-IP both run against one index, selected per query batch.

Block-max WAND pruning (``prune=True``) — the early-termination analog of
beamSearch's ``max_dist`` cutoff (Index.h:630-632), lossless and
SINGLE-pass: within a pass, the per-query threshold t_k from blocks
already scored only grows; a later block whose metadata upper bound
(sum of weight * tfn_upper over the query's terms, float-safety inflated)
is strictly below t_k provably cannot change the top-k. Skipped work is
counted (the ``_distance_computations`` analog, Index.h:83-84).

Memory discipline: the per-block accumulator is sized to (block_range x
ACTIVE queries in that block), and the Spark regime chunks query sets
above ``max_queries_per_pass``. The WAND bookkeeping is vectorized and
skipped while no query has a full top-k yet.
"""

from __future__ import annotations

import os
from bisect import bisect_left
from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd

from flatnav_spark.codec import varint_decode
from flatnav_spark.index_io import LoadedIndex
from flatnav_spark.partitioning import repartition_dense_range
from flatnav_spark.scorer import get_scorer

# multiplicative + absolute inflation of upper bounds: guards against
# summation-order float drift between the metadata-side bound and the
# exact scorer; keeps WAND lossless.
_UB_REL = 1e-9
_UB_ABS = 1e-12

DEFAULT_MAX_QUERIES_PER_PASS = 4096


class _QueryPlan:
    """Precomputed CSR of term -> (query indices, weights), shared by every
    task via the UDF closure. tid order = ascending term order — the
    accumulation-order determinism contract."""

    def __init__(self, qmap: Dict[str, List[Tuple[int, float]]]):
        self.terms = sorted(qmap.keys())
        self.tid = {t: i for i, t in enumerate(self.terms)}
        offs = [0]
        q_idx: List[int] = []
        weights: List[float] = []
        for t in self.terms:
            for q, w in qmap[t]:
                q_idx.append(q)
                weights.append(w)
            offs.append(len(q_idx))
        self.offsets = np.asarray(offs, dtype=np.int64)
        self.q_idx = np.asarray(q_idx, dtype=np.int64)
        self.weights = np.asarray(weights, dtype=np.float64)

    def row_tids(self, terms: np.ndarray) -> np.ndarray:
        """Vectorized term -> tid (-1 for unknown)."""
        return pd.Series(terms).map(self.tid).fillna(-1).to_numpy(np.int64)

    def flatten(self, tids: np.ndarray) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
        """For segment rows with term ids ``tids`` (all >= 0): indices into
        (q_idx, weights) for every (row, query-using-row's-term) pair, plus
        the per-row pair counts. Pure numpy, no python loop."""
        starts = self.offsets[tids]
        lens = (self.offsets[tids + 1] - starts).astype(np.int64)
        total = int(lens.sum())
        if total == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64), lens
        base = np.repeat(starts - np.concatenate(([0], np.cumsum(lens)[:-1])), lens)
        flat = base + np.arange(total, dtype=np.int64)
        rows = np.repeat(np.arange(len(tids), dtype=np.int64), lens)
        return flat, rows, lens


def _grouped_prefix_sums(values: np.ndarray, starts: np.ndarray,
                         counts: np.ndarray) -> np.ndarray:
    """Per-group inclusive prefix sums of a concatenation of groups
    (group g = values[starts[g] : starts[g] + counts[g]]). Vectorized:
    global cumsum minus each group's carried-in offset."""
    c = np.cumsum(values)
    carry = c[starts] - values[starts]
    return c - np.repeat(carry, counts)


def _make_partition_scorer(
    plan: _QueryPlan,
    query_ids: np.ndarray,
    avgdl: float,
    params,
    scorer_name: str,
    block_range: int,
    chunk_blocks: int,
    k: int,
    prune: bool,
    acc_blocks_scored=None,
    acc_blocks_pruned=None,
    acc_segments_scored=None,
    acc_segments_pruned=None,
    acc_pairs_scored=None,
    acc_pairs_pruned=None,
    seed_thr: Optional[np.ndarray] = None,
    approx_factor: float = 1.0,
):
    """mapInPandas kernel over a chunk_id-partitioned, (chunk_id, term)-
    sorted stream of CHUNKED posting segments (one row per (term, chunk of
    chunk_blocks blocks), per-block sub-run skip arrays in-row).

    Per chunk: decode every needed row's postings in ONE concatenated
    varint pass (round-2 VERDICT #3 — three vectorized decodes per chunk
    instead of three numpy re-entries per (term, block) segment), compute
    the per-(query, block) WAND bound matrix from the in-row block-max
    arrays, then walk the chunk's blocks in ascending order scoring each
    against CURRENT thresholds. Per-block memory stays
    O(block_range x active queries) float64 — active, not total.

    Each block costs a fixed number of numpy calls, whatever its runs and
    queries: its (run, query) pairs whose query is active, kept in run
    order, expand to postings with np.repeat, and one
    np.bincount(cell, weights=tfn * w) over (active query, local doc)
    cells accumulates them. bincount adds sequentially in input order,
    starting from 0.0, and run order is ascending term order within a
    chunk (each term has at most one run per block), so every cell gets
    exactly one scalar IEEE add of w*tfn per term in ascending term order
    — bit-identical to the reference scorer's sequential accumulation
    (IEEE multiply commutes). The block's hits then merge into the
    (n_q, k) top-k arrays with one lexsort on (query, -score, doc_id);
    a doc lives in one block, so the order is total.

    WAND is counted at three grains (the M4 distance-computations analog):
    whole blocks, sub-runs ("segments" — the old (term, block) decode
    unit), and (query, block) pairs.

    ``seed_thr`` pre-loads each query's threshold with a GLOBAL lower
    bound on its final k-th score (the analytic floor, or a service's
    cached k-th score). Without it thresholds are task-local and start at
    -inf, so pruning decays as tasks multiply (prune frac 0.29 at 8 tasks
    -> 0.08 at 32 on zipf:1M). Lossless: pruning only skips bounds
    STRICTLY below the threshold, so score-ties survive. Thresholds only
    grow: task-local updates take max() with the seed.

    ``approx_factor`` (theta >= 1.0) is the classic WAND threshold factor
    F (Broder et al., CIKM 2003 §6): prune when ub < thr * theta instead
    of ub < thr. theta = 1.0 is the default lossless mode; theta > 1.0
    skips blocks whose bound cannot beat the current k-th by the factor —
    approximate top-k trading recall for pruning, the engine's analog of
    the reference's ef_search recall@k-vs-QPS knob
    (experiments/run-benchmark.py:43-85,270-313). Scores of RETURNED docs
    stay exact (only which blocks get scored changes); valid because all
    scorer weights and tf-norms are >= 0, so scaling the comparison
    threshold is monotone-stricter."""
    n_q = len(query_ids)
    scorer = get_scorer(scorer_name)

    def score_partition(batches):
        # per-query top-k: row q holds fill[q] entries, (score desc,
        # doc_id asc)
        top_s = np.empty((n_q, k), dtype=np.float64)
        top_d = np.empty((n_q, k), dtype=np.int64)
        fill = np.zeros(n_q, dtype=np.int64)
        # per-query k-th score lower bound (global seed, then grown locally)
        thr = (seed_thr.astype(np.float64, copy=True) if seed_thr is not None
               else np.full(n_q, -np.inf))
        # comparison threshold: thr * theta (== thr when theta == 1.0;
        # -inf * theta == -inf so unseeded queries stay unpruned)
        thr_cmp = thr * approx_factor
        n_scored = 0
        n_pruned = 0
        n_seg_scored = 0
        n_seg_pruned = 0
        n_qb_scored = 0  # (query, block) pairs actually scored...
        n_qb_pruned = 0  # ...vs skipped per-query by the WAND bound — the
        # finest-grain honest measure: in batch mode a block is rarely
        # skippable for EVERY query at once, but per-query column pruning
        # still saves the decode/accumulate/top-k work
        any_full = bool(np.isfinite(thr).any())  # any bound -> pruning can fire

        def merge(q, d, sc) -> np.ndarray:
            """Merge one block's candidates (q ascending) into the top-k
            with one lexsort on (query, -score, doc); returns the queries
            touched."""
            qs, n_new = np.unique(q, return_counts=True)
            f = fill[qs]
            old = np.arange(k) < f[:, None]
            all_q = np.concatenate((np.repeat(qs, f), q))
            all_s = np.concatenate((top_s[qs][old], sc))
            all_d = np.concatenate((top_d[qs][old], d))
            o = np.lexsort((all_d, -all_s, all_q))
            n_all = f + n_new
            rank = np.arange(o.size) - np.repeat(np.cumsum(n_all) - n_all, n_all)
            keep = rank < k
            o, rank = o[keep], rank[keep]
            top_s[all_q[o], rank] = all_s[o]
            top_d[all_q[o], rank] = all_d[o]
            fill[qs] = np.minimum(n_all, k)
            return qs

        def do_chunk(pdf: pd.DataFrame) -> None:
            nonlocal n_scored, n_pruned, n_seg_scored, n_seg_pruned, any_full
            nonlocal n_qb_scored, n_qb_pruned
            tids = plan.row_tids(pdf["term"].to_numpy())
            known = tids >= 0
            if not known.any():
                return
            if not known.all():
                pdf = pdf[known]
                tids = tids[known]
            flat, rows, lens = plan.flatten(tids)
            qi_all = plan.q_idx[flat]
            n_rows = len(tids)
            row_start = np.concatenate(([0], np.cumsum(lens)[:-1]))

            # ---- flatten the in-row block sub-run (skip) arrays ----
            blk_lists = pdf["block_ids"].to_numpy()
            run_per_row = np.fromiter((len(x) for x in blk_lists), dtype=np.int64,
                                      count=n_rows)
            run_row = np.repeat(np.arange(n_rows, dtype=np.int64), run_per_row)
            run_block = np.concatenate(blk_lists).astype(np.int64)
            run_count = np.concatenate(pdf["block_counts"].to_numpy()).astype(np.int64)
            u = run_block.size
            # distinct blocks present in this chunk, ascending
            blocks_present = np.unique(run_block)
            nb = blocks_present.size
            run_bloc = np.searchsorted(blocks_present, run_block)

            # per-(query, block-local) presence + WAND upper-bound matrix:
            # expand each run to its row's (query, weight) pairs
            ln = lens[run_row]
            total = int(ln.sum())
            off = np.zeros(u, dtype=np.int64)
            np.cumsum(ln[:-1], out=off[1:])
            exp_run = np.repeat(np.arange(u, dtype=np.int64), ln)
            rel = np.arange(total, dtype=np.int64) - np.repeat(off, ln)
            pair_idx = row_start[run_row][exp_run] + rel
            q_of = qi_all[pair_idx]
            w_of = plan.weights[flat[pair_idx]]
            pair_bloc = run_bloc[exp_run]
            cell = q_of * nb + pair_bloc
            present2d = np.zeros(n_q * nb, dtype=bool)
            present2d[cell] = True
            present2d = present2d.reshape(n_q, nb)
            if prune:
                run_maxtf = np.concatenate(pdf["block_max_tf"].to_numpy()).astype(np.int64)
                run_mindl = np.concatenate(pdf["block_min_dl"].to_numpy()).astype(np.int64)
                tfn_up = scorer.tfn_upper(run_maxtf, run_mindl, avgdl, params)
                ub2d = np.bincount(
                    cell, weights=w_of * tfn_up[exp_run], minlength=n_q * nb
                ).reshape(n_q, nb)
                ub2d[present2d] = ub2d[present2d] * (1.0 + _UB_REL) + _UB_ABS
            else:
                ub2d = None

            # ---- decode decision at chunk entry (thresholds only grow,
            # so entry-active is a superset of every later active set) ----
            if prune and any_full:
                entry_active2d = present2d & (ub2d >= thr_cmp[:, None])
            else:
                entry_active2d = present2d
            # a run needs decoding iff any query is entry-active on its block
            q_any_b = entry_active2d.any(axis=0)  # (nb,)
            run_needed = q_any_b[run_bloc]
            row_needed = np.bincount(run_row, weights=run_needed, minlength=n_rows) > 0
            dec_rows = np.flatnonzero(row_needed)
            if dec_rows.size == 0:
                n_pruned += nb
                n_seg_pruned += u
                n_qb_pruned += int(present2d.sum())
                return

            # ---- batched decode of every needed row in this chunk ----
            docs_bin = pdf["docs_bin"].to_numpy()
            tfs_bin = pdf["tfs_bin"].to_numpy()
            dls_bin = pdf["dls_bin"].to_numpy()
            run_dec = row_needed[run_row]  # runs of decoded rows
            d_run_count = run_count[run_dec]
            d_run_start = np.zeros(d_run_count.size, dtype=np.int64)
            np.cumsum(d_run_count[:-1], out=d_run_start[1:])
            gaps = varint_decode(b"".join(docs_bin[dec_rows])).astype(np.int64)
            tfs = varint_decode(b"".join(tfs_bin[dec_rows])).astype(np.int64)
            dls = varint_decode(b"".join(dls_bin[dec_rows])).astype(np.int64)
            assert gaps.size == int(d_run_count.sum()) == tfs.size == dls.size
            # per-RUN gap cumsum -> local doc index in [0, block_range)
            # (the first gap of each sub-run is coded against its block base)
            li_all = _grouped_prefix_sums(gaps, d_run_start, d_run_count)
            tfn_all = scorer.tfn(tfs, dls, avgdl, params)

            # map each global run id -> its posting slice in decoded space
            run_slice_start = np.full(u, -1, dtype=np.int64)
            run_slice_start[run_dec] = d_run_start

            # (run, query) pairs grouped by block; the stable sort keeps
            # run order inside a block, and run_row is term-ascending, so
            # each block's pairs stay in ascending term order
            by_blk = np.argsort(pair_bloc, kind="stable")
            blk_lo = np.searchsorted(pair_bloc[by_blk], np.arange(nb + 1))
            p_run, p_q, p_w = exp_run[by_blk], q_of[by_blk], w_of[by_blk]
            runs_in_blk = np.bincount(run_bloc, minlength=nb)
            present_in_blk = present2d.sum(axis=0)

            # ---- walk the chunk's blocks ascending, freshest thresholds ----
            for b_loc in range(nb):
                present = present2d[:, b_loc]
                if prune and any_full:
                    active = present & (ub2d[:, b_loc] >= thr_cmp)
                else:
                    active = present
                n_act = int(np.count_nonzero(active))
                n_qb_scored += n_act
                n_qb_pruned += int(present_in_blk[b_loc]) - n_act
                if n_act == 0:
                    n_pruned += 1
                    n_seg_pruned += int(runs_in_blk[b_loc])
                    continue
                n_scored += 1

                # the block's pairs whose query is active, in term order
                lo, hi = blk_lo[b_loc], blk_lo[b_loc + 1]
                sel = active[p_q[lo:hi]]
                run, q, w = p_run[lo:hi][sel], p_q[lo:hi][sel], p_w[lo:hi][sel]
                col = (np.cumsum(active) - 1)[q]
                scored_here = 1 + int(np.count_nonzero(run[1:] != run[:-1]))
                n_seg_scored += scored_here
                n_seg_pruned += int(runs_in_blk[b_loc]) - scored_here

                # expand the pairs to postings and accumulate every (query,
                # doc) cell with one bincount: it adds in input order from
                # 0.0, so each cell gets one IEEE add of w*tfn per term in
                # ascending term order — the reference's sequential sum
                cnt = run_count[run]
                ends = np.cumsum(cnt)
                pos = (np.arange(ends[-1], dtype=np.int64)
                       + np.repeat(run_slice_start[run] - (ends - cnt), cnt))
                cell = np.repeat(col * block_range, cnt) + li_all[pos]
                acc = np.bincount(cell, weights=tfn_all[pos] * np.repeat(w, cnt),
                                  minlength=n_act * block_range)
                seen = np.zeros(n_act * block_range, dtype=bool)
                seen[cell] = True
                hit = np.flatnonzero(seen)
                qs = merge(np.flatnonzero(active)[hit // block_range],
                           hit % block_range + int(blocks_present[b_loc]) * block_range,
                           acc[hit])

                # grow-only: never let a task-local k-th (e.g. right after
                # this task's top-k first fills) undercut the global seed
                full = qs[fill[qs] == k]
                if full.size:
                    any_full = True
                    kth = top_s[full, k - 1]
                    grow = kth > thr[full]
                    thr[full[grow]] = kth[grow]
                    thr_cmp[full[grow]] = kth[grow] * approx_factor

        carry: Optional[pd.DataFrame] = None
        for batch in batches:
            pdf = pd.concat([carry, batch]) if carry is not None else batch
            if pdf.empty:
                carry = None
                continue
            last = pdf["chunk_id"].iloc[-1]
            head = pdf[pdf["chunk_id"] != last]
            carry = pdf[pdf["chunk_id"] == last]
            if not head.empty:
                for _, grp in head.groupby("chunk_id", sort=True):
                    do_chunk(grp)
        if carry is not None and not carry.empty:
            do_chunk(carry)

        if acc_blocks_scored is not None:
            acc_blocks_scored.add(n_scored)
        if acc_blocks_pruned is not None:
            acc_blocks_pruned.add(n_pruned)
        if acc_segments_scored is not None:
            acc_segments_scored.add(n_seg_scored)
        if acc_segments_pruned is not None:
            acc_segments_pruned.add(n_seg_pruned)
        if acc_pairs_scored is not None:
            acc_pairs_scored.add(n_qb_scored)
        if acc_pairs_pruned is not None:
            acc_pairs_pruned.add(n_qb_pruned)

        filled = np.arange(k) < fill[:, None]
        yield pd.DataFrame({
            "query_id": np.repeat(np.asarray(query_ids, dtype=np.int64), fill),
            "doc_id": top_d[filled],
            "score": top_s[filled],
        })

    return score_partition


def _stats_rows_for_terms(spark, index: LoadedIndex, terms: List[str]):
    """One column-pruned, row-group-pruned read of the stats table
    restricted to ``terms`` (sorted): literal IN below LARGE_TERM_SET,
    broadcast semi-join + [min, max] range above — the same shape as
    _filter_postings_to_terms."""
    from pyspark.sql import functions as F

    stats = index.term_stats(spark)
    cols = ["term", "df"] + [
        c for c in ("floor_dl10", "floor_dl100") if c in stats.columns
    ]
    if not terms:
        return []
    if len(terms) <= LARGE_TERM_SET:
        flt = stats.filter(F.col("term").isin(terms))
    else:
        tdf = spark.createDataFrame(((t,) for t in terms), "term string")
        flt = stats.filter(
            (F.col("term") >= terms[0]) & (F.col("term") <= terms[-1])
        ).join(F.broadcast(tdf), "term", "left_semi")
    return flt.select(*cols).collect()


def _resolve_query_terms(spark, index: LoadedIndex, queries_df):
    """qt_rows for a query batch, resolved DRIVER-SIDE: the tokenizer is
    a pure function (tokenizer.py), so query texts collect and tokenize on
    the driver (_qt_rows_driver) — no Python-worker round trip for work
    the driver does in microseconds (guide §4: eliminate the boundary,
    not just vectorize it)."""
    pairs = [
        (r.query_id, r.query_text)
        for r in queries_df.select("query_id", "query_text").collect()
    ]
    return _qt_rows_driver(spark, index, pairs)


# Auto-preload the term-stats cache when the vocabulary is small enough
# that holding it driver-side is clearly cheaper than a filtered stats
# read per batch (~120 B/term -> ~240 MB at the cap, against a 10s-of-GB
# driver). Above the cap the per-batch filtered read scales with the
# QUERY batch, not the vocabulary — the 10^8-term regime keeps working.
AUTO_PRELOAD_MAX_TERMS = 2_000_000


def _qt_rows_driver(spark, index: LoadedIndex, pairs) -> List[dict]:
    """Driver-side qt_rows for [(query_id, query_text)] pairs — the single
    implementation behind every query path, so batched and single-query
    results stay bit-identical by construction. Stats come from the
    preloaded cache (zero jobs) or ONE filtered stats read; below
    AUTO_PRELOAD_MAX_TERMS the cache is armed once and amortized across
    every later batch on this handle."""
    from flatnav_spark.tokenizer import get_tokenizer

    if index._stats_cache is None and index.manifest.n_terms <= AUTO_PRELOAD_MAX_TERMS:
        index.preload_term_stats(spark)
    tok = get_tokenizer(index.manifest.tokenizer_mode)
    terms_of = [(int(qid), sorted(set(tok(text)) if isinstance(text, str) else ()))
                for qid, text in pairs]
    stats_of = index._stats_cache
    if stats_of is None:
        rows = _stats_rows_for_terms(
            spark, index, sorted(set().union(*(ts for _, ts in terms_of))))
        stats_of = {r["term"]: {c: r[c] for c in r.__fields__ if c != "term"}
                    for r in rows}
    return [{"query_id": qid, "term": t, **stats_of[t]}
            for qid, ts in terms_of for t in ts if t in stats_of]


def _score_floor_by_qid(qt_rows, m, scorer, k: int) -> Dict[int, float]:
    """Zero-cost global WAND floor (round 4): a query term with df >= k
    guarantees at least k documents each scoring >= w * tfn(tf=1, max_dl)
    (per-term contributions are nonnegative), so that value lower-bounds
    the query's final k-th score — a parallelism-independent threshold
    available to EVERY task with no pre-pass job. It prunes the classic
    WAND case: blocks holding only a low-weight (hot) term of a query
    that also carries a high-idf term. Deflated 1e-9 relative so a float
    summation-order difference can never flip a skip decision.

    Honest measurement (zipf:1M, k=10): the floor reaches ~12% of the true
    k-th score at the median — enough to keep some pruning alive at any
    task count, not enough to match task-local thresholds once they fill
    (seg prune frac 0.34 at 8 tasks vs 0.10 at 32 either way). A sampling
    pre-pass measured net-negative and was removed; threshold REUSE across
    batches (seed_thr_by_qid) is the scale path for standing services."""
    max_dl = int(m.metrics.get("max_dl", 0) or 0)
    if not qt_rows:
        return {}
    r0 = qt_rows[0]
    fields = set(r0.__fields__) if hasattr(r0, "__fields__") else set(r0.keys())
    use10 = k <= 10 and "floor_dl10" in fields
    use100 = k <= 100 and "floor_dl100" in fields

    # both factors are pure in one value: computed once per distinct df
    # and per distinct dl_eff, bit-identical to a call per row
    weight_of: Dict[int, float] = {}
    tfn1_of: Dict[int, float] = {}
    out: Dict[int, float] = {}
    for r in qt_rows:
        # tightest proven dl first: a term whose stats show a segment
        # with >= k postings has k docs with dl <= floor_dlK (shorter
        # than the global longest doc; only hot terms qualify — measured
        # floor/true-kth ~0.12 on zipf:1M, so the floor prunes tails, not
        # the bulk; batch-reuse seeding via seed_thr_by_qid is the tool
        # for services that can amortize thresholds across batches)
        if use10 and r["floor_dl10"] is not None:
            dl_eff = int(r["floor_dl10"])
        elif use100 and r["floor_dl100"] is not None:
            dl_eff = int(r["floor_dl100"])
        elif max_dl > 0 and int(r["df"]) >= k:
            dl_eff = max_dl
        else:
            continue
        df = int(r["df"])
        if df not in weight_of:
            weight_of[df] = scorer.weight(df, m.n_docs)
        if dl_eff not in tfn1_of:
            tfn1_of[dl_eff] = float(scorer.tfn(np.array([1]), np.array([dl_eff]),
                                               m.avgdl, m.params)[0])
        b = weight_of[df] * tfn1_of[dl_eff] * (1.0 - 1e-9)
        q = int(r["query_id"])
        if b > out.get(q, -np.inf):
            out[q] = b
    return out


LARGE_TERM_SET = 1024  # above this, IN-list literals bloat the plan

# Scoring-pass sizing: postings each task should score. The pass
# partition count is ceil(estimated postings / this), clamped to
# [1, defaultParallelism] — a single rare-term query runs as 1-2 tasks
# (p50 616 -> 340 ms measured at local[32]: most of a tiny query's wall
# was scheduling 32 near-empty tasks), while any real batch saturates
# the cluster. Data-sized, not core-sized (guide §2): the SAME query
# costs the same logical job at any parallelism.
TARGET_POSTINGS_PER_TASK = 65536

# Regime boundary: a batch whose estimated postings are at most this runs
# DRIVER-DIRECT (no Spark job); above it, the Spark pass. Measured,
# batch_query + collect, local[4], 20k-doc zipf index (4.9M postings),
# strata query mix, median of 3, identical results at every size:
#     Σdf          6k    37k   174k   540k   1.42M  2.25M
#     Spark pass   1.23  1.10  1.51   2.31   4.48   9.00 s
#     direct       0.47  0.47  0.64   1.12   3.28   6.42 s
# A sweep on a faster 4-core host crossed over near Σdf 1.5M (1.76M:
# Spark 1.64 s, direct 1.97 s), and the Spark pass gains with every core
# while the direct regime runs on one — so the bound is 2^19 (~524k),
# where driver-direct won ~2x on both hosts.
DIRECT_MAX_POSTINGS = 8 * TARGET_POSTINGS_PER_TASK

RESULT_SCHEMA = "query_id long, rank int, doc_id long, score double"
_METRICS = ("blocks_scored", "blocks_pruned", "segments_scored",
            "segments_pruned", "pairs_scored", "pairs_pruned")


class _Counter:
    """Driver-local stand-in for a Spark accumulator (same add/value)."""

    value = 0

    def add(self, n: int) -> None:
        self.value += n


def _filter_postings_to_terms(spark, postings, terms: List[str]):
    """Restrict the postings scan to the query batch's terms.

    Small sets use a literal IN — pushed to parquet, row-group pruning on
    the term-sorted layout. Large sets (a 4096-query pass can carry 10^4+
    distinct terms) would bloat the plan and codegen with literals while
    parquet pushdown degrades to a min/max range anyway — so ship the set
    as a broadcast LEFT SEMI join (exact filtering JVM-side, no shuffle of
    the postings) plus an explicit [min_term, max_term] range predicate
    that keeps the sorted layout's row-group pruning (round-4 VERDICT #5).
    ``terms`` must be sorted ascending (plan.terms is)."""
    from pyspark.sql import functions as F

    if len(terms) <= LARGE_TERM_SET:
        return postings.filter(F.col("term").isin(terms))
    tdf = spark.createDataFrame(((t,) for t in terms), "term string")
    return (
        postings.filter((F.col("term") >= terms[0]) & (F.col("term") <= terms[-1]))
        .join(F.broadcast(tdf), "term", "left_semi")
    )


def _read_segments(index: LoadedIndex, terms: List[str], cols: List[str]) -> pd.DataFrame:
    """Driver-direct postings read: only the row groups whose [min, max]
    term statistics can hold one of ``terms`` (sorted ascending) are read,
    and only their rows of those terms, projected to ``cols``. Same local
    path access as build's driver-side samplers (partitioning.py)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    def may_hold(st) -> bool:
        if not st or "min" not in st:
            return True
        i = bisect_left(terms, st["min"])
        return i < len(terms) and terms[i] <= st["max"]

    flt = pc.field("term").isin(terms)
    tables = []
    for d in index.manifest.postings_dirs if terms else ():
        for frag in ds.dataset(os.path.join(index.path, d), format="parquet").get_fragments():
            frag.ensure_complete_metadata()
            rgs = [rg.id for rg in frag.row_groups if may_hold(rg.statistics.get("term"))]
            if rgs:
                tables.append(frag.subset(row_group_ids=rgs).to_table(columns=cols, filter=flt))
    if not tables:
        return pd.DataFrame(columns=cols)
    return (pa.concat_tables(tables, promote_options="permissive")
            .sort_by([("chunk_id", "ascending"), ("term", "ascending")])
            .to_pandas())


def _n_chunks_upper(m) -> int:
    """Upper bound on the index's chunk-id space, from lineage markers
    (extend rounds doc ids up to chunk boundaries, so n_docs alone can
    undercount); used only to size contiguous chunk ranges — a stale
    bound clamps into the last range, never errors."""
    span = m.block_range * m.chunk_blocks
    ids = [
        meta.get("max_doc_id")
        for meta in m.lineage.values()
        if isinstance(meta, dict) and meta.get("max_doc_id") is not None
    ]
    hi = max(max(ids) + 1 if ids else 0, m.n_docs)
    return max(1, -(-hi // span))


def _pass_kernel(index, qt_rows, k, prune, scorer_name, counters,
                 seed_thr_by_qid: Optional[Dict[int, float]],
                 approx_factor: float):
    """(sorted terms, scorer kernel, postings columns it reads) for one
    scoring pass over ``qt_rows``' queries — shared by both regimes, so
    they score with the same thresholds, seeds and accumulation order.
    ``seed_thr_by_qid`` maps query_id -> global threshold lower bound to
    start from (see _make_partition_scorer); with ``prune`` it is
    max-combined with the analytic floor."""
    m = index.manifest
    scorer = get_scorer(scorer_name)
    qids = sorted({r["query_id"] for r in qt_rows})
    q_index = {q: i for i, q in enumerate(qids)}
    # weight is pure in df: one call per distinct df, not per row
    weight_of = {df: scorer.weight(df, m.n_docs) for df in {int(r["df"]) for r in qt_rows}}
    qmap: Dict[str, List[Tuple[int, float]]] = {}
    for r in qt_rows:
        qmap.setdefault(r["term"], []).append(
            (q_index[r["query_id"]], weight_of[int(r["df"])]))
    plan = _QueryPlan(qmap)
    seed_thr = None
    if seed_thr_by_qid:
        seed_thr = np.array(
            [seed_thr_by_qid.get(q, -np.inf) for q in qids], dtype=np.float64)
    if prune:
        floor = _score_floor_by_qid(qt_rows, m, scorer, k)
        if floor:
            f_arr = np.array([floor.get(q, -np.inf) for q in qids],
                             dtype=np.float64)
            seed_thr = f_arr if seed_thr is None else np.maximum(seed_thr, f_arr)
    part_scorer = _make_partition_scorer(
        plan, np.array(qids, dtype=np.int64), m.avgdl, m.params, scorer_name,
        m.block_range, m.chunk_blocks, k, prune, *counters, seed_thr=seed_thr,
        approx_factor=approx_factor,
    )
    # only the columns the kernel reads (guide §4: Spark cannot see inside
    # mapInPandas, so unused columns — n, sum_tf, payload_len, max_dl, and
    # the two block-bound arrays on the exact path — would be scanned,
    # shuffled and serialized to Python for nothing)
    cols = ["term", "chunk_id", "block_ids", "block_counts",
            "docs_bin", "tfs_bin", "dls_bin"]
    if prune:
        cols[4:4] = ["block_max_tf", "block_min_dl"]
    return plan.terms, part_scorer, cols


def _run_pass(spark, index, qt_rows, k, prune, num_partitions, scorer_name,
              counters, seed_thr_by_qid, approx_factor):
    """Spark regime: one scoring pass for a bounded chunk of queries, as
    a lazy DataFrame of per-task (query_id, doc_id, score) candidates."""
    terms, part_scorer, cols = _pass_kernel(
        index, qt_rows, k, prune, scorer_name, counters, seed_thr_by_qid,
        approx_factor)
    postings = _filter_postings_to_terms(spark, index.postings(spark), terms)
    # Contiguous RANGE partitioning, not hash: with n_chunks within a
    # small factor of the task count, hash collisions leave some tasks
    # with 2-4x the chunks of others. repartitionByRange would balance
    # but costs a SAMPLING job that re-executes the postings scan+filter
    # (the whole input read twice per pass — the round-4 qps regression
    # vs round 2); chunk ids are dense, so repartition_dense_range
    # computes the same contiguous ranges exactly, with zero extra jobs,
    # deterministic at any parallelism (flatnav_spark/partitioning.py).
    part = repartition_dense_range(postings.select(*cols), "chunk_id",
                                   _n_chunks_upper(index.manifest), num_partitions)
    return part.sortWithinPartitions("chunk_id", "term").mapInPandas(
        part_scorer, "query_id long, doc_id long, score double"
    )


def _candidates(spark, index, qt_rows, k, prune, num_partitions, scorer,
                collect_metrics, seed_thr_by_qid, approx_factor,
                max_queries_per_pass):
    """The query planner. Picks the regime from the batch's estimated
    postings alone — Σdf over its distinct terms, exact when queries share
    no terms and an upper bound when they do:

      * DRIVER-DIRECT (Σdf <= DIRECT_MAX_POSTINGS): the query terms' row
        groups, sorted by (chunk_id, term), run through the scorer kernel
        in-process as one stream — no Spark job;
      * SPARK: one pass per ``max_queries_per_pass`` queries, over
        ``num_partitions`` tasks (default: Σdf / TARGET_POSTINGS_PER_TASK,
        clamped to [1, defaultParallelism]).

    Returns (candidates, metrics): (query_id, doc_id, score) rows holding
    each query's top-k — pandas when driver-direct, else a lazy Spark
    DataFrame — and the _METRICS counters (``.value``), or None without
    ``collect_metrics``."""
    seeds = seed_thr_by_qid if prune else None
    est = sum(int(r["df"]) for r in {r["term"]: r for r in qt_rows}.values())
    direct = est <= DIRECT_MAX_POSTINGS
    counters = tuple(
        None if not collect_metrics
        else _Counter() if direct else spark.sparkContext.accumulator(0)
        for _ in _METRICS
    )
    if direct:
        terms, part_scorer, cols = _pass_kernel(
            index, qt_rows, k, prune, scorer, counters, seeds, approx_factor)
        cand = next(part_scorer(iter([_read_segments(index, terms, cols)])))
    else:
        if num_partitions is None:
            num_partitions = max(1, min(spark.sparkContext.defaultParallelism,
                                        -(-est // TARGET_POSTINGS_PER_TASK)))
        all_qids = sorted({r["query_id"] for r in qt_rows})
        cand = None
        for lo in range(0, len(all_qids), max_queries_per_pass):
            chunk = set(all_qids[lo: lo + max_queries_per_pass])
            rows = [r for r in qt_rows if r["query_id"] in chunk]
            part = _run_pass(spark, index, rows, k, prune, num_partitions,
                             scorer, counters, seeds, approx_factor)
            cand = part if cand is None else cand.unionByName(part)
    return cand, (dict(zip(_METRICS, counters)) if collect_metrics else None)


def _rank(cand: pd.DataFrame, k: int) -> pd.DataFrame:
    """Final top-k of candidates in pandas: per query, (score desc, doc_id
    asc) rank <= k — the order of the Spark regime's final window."""
    r = cand.sort_values(["query_id", "score", "doc_id"],
                         ascending=[True, False, True])
    rank = r.groupby("query_id").cumcount().to_numpy(np.int32) + 1
    return r.assign(rank=rank)[rank <= k][["query_id", "rank", "doc_id", "score"]]


def _check_args(scorer: str, approx_factor: float) -> None:
    get_scorer(scorer)  # validate early
    if approx_factor < 1.0:
        raise ValueError(
            f"approx_factor must be >= 1.0 (1.0 = exact), got {approx_factor}")


def batch_query(
    spark,
    index: LoadedIndex,
    queries_df,
    k: int = 10,
    prune: bool = True,
    num_partitions: Optional[int] = None,
    collect_metrics: bool = False,
    scorer: str = "bm25",
    max_queries_per_pass: int = DEFAULT_MAX_QUERIES_PER_PASS,
    seed_thr_by_qid: Optional[Dict[int, float]] = None,
    approx_factor: float = 1.0,
    _qt_rows=None,
):
    """Top-k for a DataFrame of (query_id, query_text) under the chosen
    scorer ("bm25" or "tfidf_ip").

    Returns (query_id, rank, doc_id, score) — rank 1-based, score desc,
    ties by ascending doc_id. Queries with no indexed terms return no rows.
    The planner (_candidates) answers small batches driver-direct, with no
    Spark job, and the rest as a Spark pass; ``num_partitions`` and
    ``max_queries_per_pass`` size the Spark pass only (query batches
    larger than ``max_queries_per_pass`` are chunked into independent
    passes, unioned before the final top-k window, bounding executor
    memory regardless of batch size).

    With ``prune`` every pass starts from the zero-cost analytic floor
    (_score_floor_by_qid).

    ``seed_thr_by_qid`` (query_id -> score) pre-seeds per-query WAND
    thresholds with externally-known lower bounds on each query's final
    k-th score — the threshold-REUSE scale path for standing services
    (flatnav_spark.service.StandingQueryService caches a repeated query's
    attained k-th score): a seeded threshold is parallelism-independent,
    so pruning no longer decays as tasks multiply. Lossless for any true
    lower bound (pruning skips only bounds STRICTLY below the threshold;
    ties still enter). Bounds are max-combined with the analytic floor.

    ``approx_factor`` (theta, default 1.0 = lossless) enables APPROXIMATE
    top-k: blocks are pruned unless their upper bound beats thr * theta —
    the WAND threshold-factor-F mode (Broder et al., CIKM 2003 §6) and
    this engine's recall@k-vs-QPS tradeoff knob, the role ef_search plays
    in the reference's benchmark harness
    (experiments/run-benchmark.py:43-85,270-313). Returned scores remain
    exact; only completeness of the top-k set is traded. Measured:
    bench/approx_bench.py.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    _check_args(scorer, approx_factor)
    # driver-side query-term table: bounded by the query batch
    # (|queries| x |terms per query|), never by corpus size; zero-job
    # with preloaded stats (_resolve_query_terms). _qt_rows is the
    # pre-resolved seam for term-REWRITING front-ends (prefix_query_batch)
    # that expand patterns into ordinary query terms themselves.
    qt_rows = (_qt_rows if _qt_rows is not None
               else _resolve_query_terms(spark, index, queries_df))
    cand, metrics = _candidates(
        spark, index, qt_rows, k, prune, num_partitions, scorer,
        collect_metrics, seed_thr_by_qid, approx_factor, max_queries_per_pass)
    if isinstance(cand, pd.DataFrame):
        result = spark.createDataFrame(_rank(cand, k), RESULT_SCHEMA)
    else:
        w_final = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        result = (
            cand.withColumn("rank", F.row_number().over(w_final))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("int").alias("rank"), "doc_id", "score")
        )
    if metrics is not None:
        result._flatnav_accumulators = metrics
    return result


def query_pairs(
    spark,
    index: LoadedIndex,
    pairs,
    k: int = 10,
    prune: bool = True,
    num_partitions: Optional[int] = None,
    collect_metrics: bool = False,
    scorer: str = "bm25",
    seed_thr_by_qid: Optional[Dict[int, float]] = None,
    approx_factor: float = 1.0,
):
    """batch_query for driver-held [(query_id, query_text)] pairs, answered
    driver-side as ({query_id: [(rank, doc_id, score)]}, metrics) —
    metrics as in batch_query's ``_flatnav_accumulators``, or None. No
    query DataFrame is built, so a driver-direct batch runs no Spark job
    at all; a Spark-regime batch runs its pass and collects candidates."""
    _check_args(scorer, approx_factor)
    qt_rows = _qt_rows_driver(spark, index, pairs)
    cand, metrics = _candidates(
        spark, index, qt_rows, k, prune, num_partitions, scorer,
        collect_metrics, seed_thr_by_qid, approx_factor,
        DEFAULT_MAX_QUERIES_PER_PASS)
    if not isinstance(cand, pd.DataFrame):
        cand = cand.toPandas()
    ranked = _rank(cand, k)
    out: Dict[int, List[Tuple[int, int, float]]] = {}
    for q, r, d, s in zip(*(ranked[c].tolist() for c in ranked.columns)):
        out.setdefault(q, []).append((r, d, s))
    return out, metrics


def _lev_within(a: str, b: str, n: int) -> bool:
    """Standard Levenshtein (insert/delete/substitute, NOT Damerau)
    distance(a, b) <= n — the same function Spark SQL's and DuckDB's
    levenshtein() compute, so cache-path and scan-path fuzzy expansion
    stay bit-identical. Length prefilter + early row cutoff keep the
    driver-side vocabulary sweep cheap."""
    if a == b:
        return True
    if abs(len(a) - len(b)) > n:
        return False
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        if min(cur) > n:
            return False
        prev = cur
    return prev[-1] <= n


def _fuzzy_matches(vocab, fuzzies):
    """{(base, d): sorted matching terms} over an iterable vocabulary.
    Two O(1) rejects run before the DP — length band, and a character-SET
    lower bound (one edit introduces at most one new character, so more
    than d of base's distinct chars missing from t, or vice versa, means
    distance > d) — which together reject the overwhelming share of a
    zipf vocabulary, turning the sweep from O(|vocab|) DPs into
    O(survivors) DPs (measured 18x — 14.55 s -> 0.81 s for 20 patterns
    over a ~120k-term dict, identical expansions; bench/pattern_bench.py,
    BENCH/BASELINE.md "Pattern queries at scale")."""
    if not fuzzies:
        return {}
    specs = [(b, d, set(b)) for b, d in sorted(fuzzies)]
    out = {(b, d): [] for b, d, _ in specs}
    for t in vocab:
        lt = len(t)
        ts = None
        for b, d, bs in specs:
            if abs(lt - len(b)) > d:
                continue
            if ts is None:
                ts = set(t)
            if len(bs - ts) > d or len(ts - bs) > d:
                continue
            if _lev_within(b, t, d):
                out[(b, d)].append(t)
    return {k: sorted(v) for k, v in out.items()}


def expand_query_patterns(spark, index: LoadedIndex, pairs,
                          max_expansions: Optional[int] = None):
    """qt_rows for queries whose whitespace tokens may end in ``*``
    (prefix patterns, Lucene PrefixQuery semantics): each pattern expands
    to every index term with that prefix; plain tokens go through the
    normal tokenizer. Returns the same row shape _resolve_query_terms
    produces, so the result feeds batch_query's pass machinery verbatim.

    Expansion source: the preloaded stats cache when standing (pure
    driver-side scan of the vocabulary dict), else ONE filtered read of
    the term-stats table — ``startswith`` is pushed to the parquet scan
    as StringStartsWith, and the stats table is term-sorted, so row-group
    pruning makes the read O(matching vocabulary), not O(vocabulary).

    Fuzzy patterns too: ``term~`` / ``term~N`` (N in 1..2, default 1)
    expands to every vocabulary term within Levenshtein distance N —
    driver-side banded DP against the cache when standing, else the same
    single stats read with ``levenshtein() <= N`` in the filter (no
    pushdown: edit distance is a full-vocabulary predicate by nature,
    still one O(vocabulary) scan, documented). Both paths compute the
    identical standard (non-Damerau) distance.

    A bare ``*`` or ``~`` is refused (unbounded = the whole vocabulary
    as one query). ``max_expansions`` optionally caps each pattern to
    its highest-df matches (the scale knob for hot patterns at 10^7+
    vocab); default None = exact semantics, matching the SQL oracle."""
    from pyspark.sql import functions as F

    from flatnav_spark.tokenizer import get_tokenizer

    tok = get_tokenizer(index.manifest.tokenizer_mode)
    plain_of: Dict[int, set] = {}
    prefixes_of: Dict[int, set] = {}
    fuzzies_of: Dict[int, set] = {}
    all_prefixes: set = set()
    all_fuzzies: set = set()
    for qid, text in pairs:
        qid = int(qid)
        plain_parts, pats, fuzz = [], set(), set()
        for w in (text or "").split():
            if w.endswith("*"):
                p = w[:-1].lower()
                if not p:
                    raise ValueError(
                        "bare '*' matches the entire vocabulary; give at "
                        "least one prefix character")
                pats.add(p)
            elif "~" in w and (w.endswith("~") or w.rsplit("~", 1)[1].isdigit()):
                base, _, suf = w.rpartition("~")
                base = base.lower()
                if not base:
                    raise ValueError(
                        "bare '~' matches the entire vocabulary; give a "
                        "term before the fuzzy marker")
                d = int(suf) if suf else 1
                if d == 0:
                    plain_parts.append(base)
                elif d > 2:
                    raise ValueError(
                        f"fuzzy distance {d} not supported (max 2): '{w}'")
                else:
                    fuzz.add((base, d))
            else:
                plain_parts.append(w)
        plain_of[qid] = set(tok(" ".join(plain_parts))) if plain_parts else set()
        prefixes_of[qid] = pats
        fuzzies_of[qid] = fuzz
        all_prefixes |= pats
        all_fuzzies |= fuzz

    cache = index._stats_cache
    if cache is not None:
        match_of = {
            p: sorted(t for t in cache if t.startswith(p))
            for p in all_prefixes
        }
        fmatch_of = _fuzzy_matches(cache, all_fuzzies)
        stats_of = {t: cache[t] for ts in match_of.values() for t in ts}
        stats_of.update({t: cache[t] for ts in fmatch_of.values() for t in ts})
        for qid, plain in plain_of.items():
            for t in plain:
                if t in cache:
                    stats_of[t] = cache[t]
    else:
        stats = index.term_stats(spark)
        cond = None
        all_plain = sorted(set().union(*plain_of.values()) if plain_of else set())
        if all_plain:
            cond = F.col("term").isin(all_plain)
        for p in sorted(all_prefixes):
            c = F.col("term").startswith(p)
            cond = c if cond is None else (cond | c)
        for b, d in sorted(all_fuzzies):
            c = F.levenshtein(F.col("term"), F.lit(b)) <= d
            cond = c if cond is None else (cond | c)
        if cond is None:
            return []
        cols = ["term", "df"] + [
            c for c in ("floor_dl10", "floor_dl100") if c in stats.columns]
        rows = stats.filter(cond).select(*cols).collect()
        stats_of = {
            r["term"]: {k: r[k] for k in cols if k != "term"} for r in rows}
        match_of = {
            p: sorted(t for t in stats_of if t.startswith(p))
            for p in all_prefixes
        }
        fmatch_of = {
            (b, d): sorted(t for t in stats_of if _lev_within(b, t, d))
            for b, d in all_fuzzies
        }

    qt_rows = []
    for qid in plain_of:
        terms = {t for t in plain_of[qid] if t in stats_of}
        for p in prefixes_of[qid]:
            m = match_of[p]
            if max_expansions is not None and len(m) > max_expansions:
                m = sorted(m, key=lambda t: (-stats_of[t]["df"], t))[:max_expansions]
            terms |= set(m)
        for bd in fuzzies_of[qid]:
            m = fmatch_of[bd]
            if max_expansions is not None and len(m) > max_expansions:
                m = sorted(m, key=lambda t: (-stats_of[t]["df"], t))[:max_expansions]
            terms |= set(m)
        for t in sorted(terms):
            qt_rows.append({"query_id": qid, "term": t, **stats_of[t]})
    return qt_rows


def prefix_query_batch(spark, index: LoadedIndex, queries_df, k: int = 10,
                       max_expansions: Optional[int] = None, **kwargs):
    """batch_query for queries containing ``*``-suffixed prefix patterns
    and/or ``~``/``~N`` fuzzy patterns: patterns expand to their matching
    index terms (expand_query_patterns) and score as ordinary query
    terms — BM25 contributions sum over the expansion, so a doc matching
    several expanded terms ranks above one matching a single term, and
    all of batch_query's knobs (prune, WAND, scorer, approx_factor,
    threshold seeding) apply unchanged."""
    pairs = [
        (r["query_id"], r["query_text"])
        for r in queries_df.select("query_id", "query_text").collect()
    ]
    qt_rows = expand_query_patterns(spark, index, pairs,
                                    max_expansions=max_expansions)
    return batch_query(spark, index, queries_df, k=k, _qt_rows=qt_rows,
                       **kwargs)


def query_one(spark, index: LoadedIndex, query_text: str, k: int = 10,
              prune: bool = True, scorer: str = "bm25",
              seed_thr: Optional[float] = None,
              approx_factor: float = 1.0) -> List[Tuple[int, int, float]]:
    """Single-query convenience — the ``searchSingle`` analog
    (bindings.cpp:121-159): returns [(rank, doc_id, score)], collected.

    The planner's one-query case (query_pairs), bit-identical to
    batch_query (tested). A query under the driver-direct bound runs no
    Spark job once the term stats are cached (preload_term_stats, or the
    automatic preload below AUTO_PRELOAD_MAX_TERMS): tokenize, stats
    lookup, the query terms' row groups and the scorer kernel all run
    in-process. The latency harness in bench.py times repeated calls."""
    seeds = None if seed_thr is None else {0: float(seed_thr)}
    hits, _ = query_pairs(spark, index, [(0, query_text)], k=k, prune=prune,
                          scorer=scorer, seed_thr_by_qid=seeds,
                          approx_factor=approx_factor)
    return hits.get(0, [])
