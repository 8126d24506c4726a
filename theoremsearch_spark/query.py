"""Batch BM25 top-k serving over the inverted index.

Replaces the reference's serving path — pgvector `<#>` top-k with
conjunctive metadata filters pushed inside the ranked query
(/root/reference/streamlit_app.py:252-283) — with posting-list
retrieval:

  1. tokenize the query batch (driver-side; the query set is small, the
     reference's is 73 rows — /root/reference/validation_set.csv);
  2. scan only the posting blocks of the touched terms — the `term
     IN (...)` predicate is pushed into the parquet scan, so the job
     reads a few MB of a multi-TB index;
  3. fan blocks out to queries with a broadcast (term → query) join;
  4. **segment-sharded scoring**: queries that touch a salted (heavy /
     stopword) term are scored in one task per doc-segment
     (`groupBy(query_id, serve_seg)`). A heavy term's segment-s blocks
     route to exactly task (q, s) — never replicated — so no task ever
     receives a whole stopword posting list; light lists (df ≤
     salt_threshold, bounded bytes by construction) are replicated to
     the S tasks and filtered to the task's doc residue. Segments are
     doc-disjoint (build salts by doc_id % S), so per-segment top-k is
     exact for its docs; the global answer is a tiny merge of S·k rows
     per query. Queries with no heavy term keep the single-task path.
  5. inside the task: vectorized block-max pruning (MaxScore/WAND
     family): terms are processed rarest-first with exact partial
     scores; once the summed upper bound (idf·max_tf_norm) of the
     remaining lists falls below the running kth score, those lists are
     only consulted for candidate docs, and only the blocks whose
     [first_doc, last_doc] range intersects a candidate are decoded;
  6. survivors are re-scored exactly in canonical term order (so engine
     scores are bit-compatible with the single-node oracle), then
     merged globally per query by (score DESC, doc_id ASC) — the
     reference's deterministic tie-break
     (/root/reference/streamlit_app.py:362).

Filtered search (reference R3 — every sidebar predicate applied INSIDE
the ranked query, /root/reference/streamlit_app.py:276-282) has two
pushdown paths, both applied before any scoring:

  - **filter terms**: metadata predicates indexed at build time as
    posting lists (`lang=en`, `source=src1`, … — build_index
    `filter_terms` column). A conjunctive filter is a list of required
    groups; each group is a single term or an OR-list of terms. The
    scorer decodes the filter lists first (heavy filter lists are
    salted and segment-routed like any stopword), intersects the
    groups into an allowed-doc set, and scores only inside it — the
    inverted-index analog of WHERE-before-ORDER-BY. This is the
    100 TB path: no doc-table scan, no driver-side doc set.
  - **allowed_docs**: an explicit doc_id set (from any ad-hoc
    predicate over the docs table), broadcast to the scorer. Exact for
    arbitrary predicates; intended for selective filters (the set is
    materialized), not for "half the corpus".

Both prune at the block level too: blocks whose [first_doc, last_doc]
range contains no allowed doc are never decoded.

This module is the ONE serving stack. Everything above runs over an
`IndexView` — a list of index generations: a batch-built index is the
one-generation view with no tombstones, a streamed root
(streaming.incremental, which only ingests, commits, deletes, compacts
and vacuums) is every live generation under merged, tombstone-corrected
statistics. Chunking (`run_chunked`), phrase verification and doc
lookup (`_pruned_doc_meta`, `_pruned_doc_meta_pool`) each exist once.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F, types as T

from theoremsearch_spark import codec
from theoremsearch_spark.extract import tokenize

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

_GROUP_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

_EMPTY_GROUP = pd.DataFrame({"query_id": pd.Series(dtype="int32"),
                             "doc_id": pd.Series(dtype="int64"),
                             "score": pd.Series(dtype="float64")})


def idf(n_docs: int, df: np.ndarray) -> np.ndarray:
    """Lucene-style BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5)).

    Always positive — required for block upper bounds to be sound."""
    df = np.asarray(df, dtype=np.float64)
    return np.log1p((n_docs - df + 0.5) / (df + 0.5))


_E3 = (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64))


class _Cols:
    """One (query, segment) group's fan rows as plain numpy/array
    columns, sorted by (term_id, segment, block_id). The pandas frame is
    touched exactly once — per-group pandas groupby/sort/getitem
    machinery measured ~3× the actual decode+score cost."""

    __slots__ = (
        "term_id", "segment", "block_id", "df", "first_doc", "last_doc",
        "n_docs", "max_norm", "doc_bytes", "tf_bytes", "dl_bytes",
        "is_filter", "fgroup", "is_not", "id2term",
    )

    def __init__(self, pdf: pd.DataFrame):
        term_id = pdf["term_id"].to_numpy(np.int64)
        segment = pdf["segment"].to_numpy(np.int64)
        block_id = pdf["block_id"].to_numpy(np.int64)
        o = np.lexsort((block_id, segment, term_id))
        self.term_id = term_id[o]
        self.segment = segment[o]
        self.block_id = block_id[o]
        self.df = pdf["df"].to_numpy(np.int64)[o]
        self.first_doc = pdf["first_doc"].to_numpy(np.int64)[o]
        self.last_doc = pdf["last_doc"].to_numpy(np.int64)[o]
        self.n_docs = pdf["n_docs"].to_numpy(np.int64)[o]
        self.max_norm = pdf["max_tf_norm"].to_numpy(np.float64)[o]
        db = pdf["doc_bytes"].to_numpy()
        tb = pdf["tf_bytes"].to_numpy()
        lb = pdf["dl_bytes"].to_numpy()
        self.doc_bytes = db[o]
        self.tf_bytes = tb[o]
        self.dl_bytes = lb[o]
        if "is_filter" in pdf.columns:
            self.is_filter = pdf["is_filter"].to_numpy(bool)[o]
            self.fgroup = pdf["fgroup"].to_numpy(np.int64)[o]
        else:
            self.is_filter = np.zeros(len(pdf), dtype=bool)
            self.fgroup = np.full(len(pdf), -1, dtype=np.int64)
        if "is_not" in pdf.columns:
            self.is_not = pdf["is_not"].to_numpy(bool)[o]
        else:
            self.is_not = np.zeros(len(pdf), dtype=bool)
        self.id2term = dict(
            zip(pdf["term_id"].to_numpy(np.int64), pdf["term"].to_numpy())
        )

class _ColSlice:
    """Index view over _Cols rows for one term's (already ordered)
    blocks."""

    __slots__ = ("c", "idx")

    def __init__(self, c: _Cols, idx: np.ndarray):
        self.c, self.idx = c, idx


def _decode_run(
    g: _ColSlice,
    *,
    q_segs: int,
    seg: int,
    restrict: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one term's posting blocks (already sorted by segment,
    block_id) into (doc_ids ascending, tfs, doc_lens) — one varbyte
    decode call per byte stream, no per-block Python.

    `restrict`: sorted doc_id array; blocks with no overlap are skipped
    before decode, and postings outside it are dropped after.
    `q_segs`/`seg`: when the query is segment-sharded, keep only docs of
    this task's residue (heavy lists arrive pre-routed; light lists are
    replicated and narrowed here)."""
    c, idx = g.c, g.idx
    if restrict is not None:
        if restrict.size == 0:
            return _E3
        first = c.first_doc[idx]
        last = c.last_doc[idx]
        lo = np.searchsorted(restrict, first, side="left")
        hit = (lo < restrict.size) & (restrict[np.minimum(lo, restrict.size - 1)] <= last)
        idx = idx[hit]
    if not idx.size:
        return _E3
    nblk = c.n_docs[idx]
    gaps = codec.varbyte_decode(b"".join(c.doc_bytes[idx])).astype(np.int64)
    tf = codec.varbyte_decode(b"".join(c.tf_bytes[idx])).astype(np.int64)
    dl = codec.varbyte_decode(b"".join(c.dl_bytes[idx])).astype(np.int64)
    # per-block cumsum: block-initial gap is the absolute doc_id, so
    # absolute = global_cumsum - (global_cumsum just before the block)
    cs = np.cumsum(gaps)
    ends = np.cumsum(nblk)
    before = np.concatenate(([0], cs[ends[:-1] - 1]))
    di = cs - np.repeat(before, nblk)
    if not np.all(di[:-1] < di[1:]):  # multiple segments → merge by doc
        o = np.argsort(di, kind="stable")
        di, tf, dl = di[o], tf[o], dl[o]
    if q_segs > 1:
        m = (di % q_segs) == seg
        di, tf, dl = di[m], tf[m], dl[m]
    if restrict is not None:
        pos = np.searchsorted(restrict, di)
        ok = (pos < restrict.size) & (restrict[np.minimum(pos, restrict.size - 1)] == di)
        di, tf, dl = di[ok], tf[ok], dl[ok]
    return di, tf, dl


def _score_group(
    pdf: pd.DataFrame,
    *,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    allowed_global: np.ndarray | None = None,
    excluded_global: np.ndarray | None = None,
    mode: str = "or",
) -> pd.DataFrame:
    """Score one (query, segment) group's posting blocks; returns this
    segment's exact top-k as (query_id, doc_id, score) rows.

    `excluded_global` (sorted unique doc_ids) is the tombstone mask for
    upsert/replace serving: postings of superseded document versions
    are dropped right after decode, before they can enter filter sets,
    partial scores, or candidates. Masking only ever REMOVES docs, so
    every block-max / suffix upper bound stays sound.

    `mode="and"` serves the CONJUNCTIVE query: only docs containing
    EVERY scoring term qualify. Evaluation is the classic rarest-first
    intersection — each subsequent term's blocks are decoded with
    `restrict=` the current candidate set, so block-range pruning
    shrinks the work per term instead of MaxScore's threshold pruning
    (which doesn't apply: the AND set needs no score threshold to be
    exact). A query term missing from the index (or from this doc
    segment) makes the conjunction empty — `n_req` in the fan frame
    carries the query's pre-merge distinct-token count so the scorer
    can tell "term unindexed" from "term elsewhere". With `k <= 0` the
    full AND candidate set is returned (the phrase-verification pool).

    Rows flagged `is_not` are MUST-NOT terms (either mode): their
    postings are decoded up front (restricted to the allowed set) and
    folded into the excluded mask, so matching docs never enter filter
    sets, partial scores, or candidates.

    pdf columns: query_id, serve_seg, q_segs, n_fgroups, term, df,
    is_filter, fgroup, segment, block_id, first_doc, last_doc, n_docs,
    max_tf_norm, doc_bytes, tf_bytes, dl_bytes.
    """
    if pdf.empty:
        return _EMPTY_GROUP
    qid = int(pdf["query_id"].iloc[0])
    q_segs = int(pdf["q_segs"].iloc[0]) if "q_segs" in pdf else 1
    seg = int(pdf["serve_seg"].iloc[0]) if "serve_seg" in pdf else 0
    n_fgroups = int(pdf["n_fgroups"].iloc[0]) if "n_fgroups" in pdf else 0

    c = _Cols(pdf)  # one pandas→numpy conversion; everything below is numpy

    def term_slices(mask: np.ndarray) -> list[tuple[int, np.ndarray]]:
        """[(term_id, row idx array)] for rows under `mask`, grouped by
        term_id (rows already lexsorted by term_id)."""
        idx = np.flatnonzero(mask)
        if not idx.size:
            return []
        tids = c.term_id[idx]
        starts = np.flatnonzero(np.concatenate(([True], tids[1:] != tids[:-1])))
        bounds = np.append(starts, tids.size)
        return [
            (int(tids[starts[j]]), idx[bounds[j] : bounds[j + 1]])
            for j in range(starts.size)
        ]

    # ---- resolve the allowed-doc set: broadcast set ∩ filter groups ----
    allowed = None
    if allowed_global is not None:
        allowed = np.asarray(allowed_global, dtype=np.int64)
        if q_segs > 1:
            allowed = allowed[(allowed % q_segs) == seg]

    excluded = None
    if excluded_global is not None and excluded_global.size:
        excluded = np.asarray(excluded_global, dtype=np.int64)
        if q_segs > 1:
            excluded = excluded[(excluded % q_segs) == seg]
        if excluded.size == 0:
            excluded = None

    def drop_dead(run: tuple) -> tuple:
        """Mask tombstoned doc_ids out of one decoded (di, tf, dl) run."""
        if excluded is None:
            return run
        di, tf, dl = run
        if di.size == 0:
            return run
        pos = np.searchsorted(excluded, di)
        hit = (pos < excluded.size) & (
            excluded[np.minimum(pos, excluded.size - 1)] == di
        )
        if not hit.any():
            return run
        keep = ~hit
        return di[keep], tf[keep], dl[keep]
    if n_fgroups:
        fg_present = np.unique(c.fgroup[c.is_filter])
        if fg_present.size < n_fgroups:
            # a required group has no postings in this segment → empty
            return _EMPTY_GROUP
        for fg in fg_present:
            g_ids: np.ndarray | None = None
            for _, tidx in term_slices(c.is_filter & (c.fgroup == fg)):
                di, _, _ = drop_dead(_decode_run(
                    _ColSlice(c, tidx), q_segs=q_segs, seg=seg, restrict=None
                ))
                g_ids = di if g_ids is None else np.union1d(g_ids, di)
            if g_ids is None or g_ids.size == 0:
                return _EMPTY_GROUP
            allowed = g_ids if allowed is None else np.intersect1d(
                allowed, g_ids, assume_unique=True
            )
            if allowed.size == 0:
                return _EMPTY_GROUP

    # ---- must-not terms: fold their postings into the excluded mask ----
    if c.is_not.any():
        not_ids: list[np.ndarray] = []
        for _, tidx in term_slices(c.is_not):
            di, _, _ = _decode_run(
                _ColSlice(c, tidx), q_segs=q_segs, seg=seg, restrict=allowed
            )
            if di.size:
                not_ids.append(di)
        if not_ids:
            merged_not = not_ids[0] if len(not_ids) == 1 else np.unique(
                np.concatenate(not_ids)
            )
            excluded = merged_not if excluded is None else np.union1d(
                excluded, merged_not
            )  # drop_dead reads the rebound name — all later decodes mask

    score_terms = term_slices(~c.is_filter & ~c.is_not)
    if not score_terms:
        return _EMPTY_GROUP

    # per-term metadata (a term's segments all share df/idf), processed
    # rarest-first (cheapest exact scoring first → early threshold);
    # ties broken by term STRING for run-to-run determinism
    t_df = np.array([c.df[tidx[0]] for _, tidx in score_terms], dtype=np.int64)
    t_idf_arr = idf(n_docs, t_df)
    t_ub = t_idf_arr * np.array(
        [c.max_norm[tidx].max() for _, tidx in score_terms]
    )
    t_str = [c.id2term[tid] for tid, _ in score_terms]
    order = sorted(range(len(score_terms)), key=lambda j: (t_df[j], t_str[j]))

    decoded: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    term_idf = dict(zip(t_str, t_idf_arr))

    def tf_norm(tf: np.ndarray, dl: np.ndarray) -> np.ndarray:
        return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))

    if mode == "and":
        # conjunctive: a query token that never made it into the fan
        # (unindexed) empties the result; one that is indexed but has no
        # postings in this doc segment empties THIS segment (correct —
        # no doc of this residue contains it). Rarest-first intersection
        # with restrict-pushdown: term i+1's blocks outside the current
        # candidate range are never decoded.
        n_req = int(pdf["n_req"].iloc[0]) if "n_req" in pdf else 0
        if len(score_terms) < n_req:
            return _EMPTY_GROUP
        cand: np.ndarray | None = allowed
        for j in order:
            di, tf, dl = drop_dead(_decode_run(
                _ColSlice(c, score_terms[j][1]), q_segs=q_segs, seg=seg,
                restrict=cand,
            ))
            if di.size == 0:
                return _EMPTY_GROUP
            decoded[t_str[j]] = (di, tf, dl)
            cand = di  # restrict guarantees di ⊆ previous candidates
        cand_sorted = cand
        return _exact_rescore(qid, cand_sorted, decoded, term_idf, tf_norm, k)

    # phase 1: exact partial scoring, rarest-first, with suffix-UB cutoff
    # (vectorized sorted-merge accumulation — no per-posting Python)
    ubs = t_ub[order]
    suffix_ub = np.concatenate([np.cumsum(ubs[::-1])[::-1], [0.0]])
    ids_acc = np.empty(0, dtype=np.int64)
    sc_acc = np.empty(0, dtype=np.float64)
    threshold = -np.inf
    stop_at = len(order)
    for i, j in enumerate(order):
        if ids_acc.size >= k and suffix_ub[i] < threshold:
            stop_at = i
            break
        di, tf, dl = drop_dead(_decode_run(
            _ColSlice(c, score_terms[j][1]), q_segs=q_segs, seg=seg, restrict=allowed
        ))
        decoded[t_str[j]] = (di, tf, dl)
        contrib = t_idf_arr[j] * tf_norm(tf, dl)
        if ids_acc.size == 0:
            ids_acc, sc_acc = di.copy(), contrib.astype(np.float64)
        else:
            merged = np.union1d(ids_acc, di)
            ms = np.zeros(merged.size, dtype=np.float64)
            ms[np.searchsorted(merged, ids_acc)] += sc_acc
            ms[np.searchsorted(merged, di)] += contrib
            ids_acc, sc_acc = merged, ms
        if ids_acc.size >= k:
            threshold = float(np.partition(sc_acc, -k)[-k])

    # phase 2: candidates = docs whose partial + remaining UB could reach top-k
    remaining = order[stop_at:]
    cand_ids, cand_partial = ids_acc, sc_acc
    if remaining and cand_ids.size:
        rem_ub = float(ubs[stop_at:].sum())
        keep = cand_partial + rem_ub >= threshold
        cand_ids = cand_ids[keep]
    cand_sorted = cand_ids  # already sorted (union1d invariant)

    # decode remaining (long) lists only at blocks where candidates live
    for j in remaining:
        decoded[t_str[j]] = drop_dead(_decode_run(
            _ColSlice(c, score_terms[j][1]), q_segs=q_segs, seg=seg, restrict=cand_sorted
        ))

    return _exact_rescore(qid, cand_sorted, decoded, term_idf, tf_norm, k)


def _exact_rescore(
    qid: int,
    cand_sorted: np.ndarray,
    decoded: dict,
    term_idf: dict,
    tf_norm,
    k: int,
) -> pd.DataFrame:
    """Exact re-score of candidates in canonical (lexicographic) term
    order — bitwise-reproducible vs the single-node oracle — then top-k
    by (score DESC, doc_id ASC). `k <= 0` keeps every scored candidate
    (the conjunctive phrase-verification pool)."""
    final = np.zeros(cand_sorted.size, dtype=np.float64)
    for term in sorted(decoded):
        di, tf, dl = decoded[term]
        if di.size == 0 or cand_sorted.size == 0:
            continue
        t_idf = float(term_idf[term])
        pos = np.searchsorted(cand_sorted, di)
        ok = (pos < cand_sorted.size) & (cand_sorted[np.minimum(pos, cand_sorted.size - 1)] == di)
        contrib = t_idf * tf_norm(tf[ok], dl[ok])
        np.add.at(final, pos[ok], contrib)

    nz = final > 0
    ids, sc = cand_sorted[nz], final[nz]
    take = ids.size if k <= 0 else min(k, ids.size)
    # top-k by (score DESC, doc_id ASC); ids ascending → stable mergesort
    o = np.argsort(-sc, kind="stable")[:take]
    return pd.DataFrame({"query_id": qid, "doc_id": ids[o], "score": sc[o]})


def _normalize_filters(filters) -> list[list[str]]:
    """filters: list of conjunctive groups; each group a term (AND) or a
    list of terms (OR-of-terms within the group)."""
    out = []
    for g in filters or []:
        out.append([g] if isinstance(g, str) else list(g))
    return out


def _build_qterms(
    queries: pd.DataFrame,
    tstats: pd.DataFrame,
    fgroups: list[list[str]],
    salt_threshold: int,
    n_segments: int,
    not_terms: list[str] | None = None,
) -> pd.DataFrame | None:
    """(query_id, term, term_id, df, is_filter, fgroup, is_not, n_req,
    q_segs, n_fgroups) — the broadcast fan side. Returns None when a
    required filter group has no indexed term (conjunction
    unsatisfiable). `not_terms` are batch-global MUST-NOT terms — rows
    flagged is_not; an unindexed must-not term excludes nothing, so it
    drops out at the tstats merge. `n_req` is the query's pre-merge
    distinct scoring-token count (conjunctive serving needs it to tell
    unindexed-term-in-query apart from indexed-but-elsewhere)."""
    qt = queries.assign(terms=queries["query_text"].map(lambda s: sorted(set(tokenize(s)))))
    nreq_map = dict(zip(qt["query_id"], qt["terms"].map(len)))
    pairs = qt[["query_id", "terms"]].explode("terms").dropna()
    pairs = pairs.rename(columns={"terms": "term"})
    pairs["is_filter"] = False
    pairs["fgroup"] = -1
    pairs["is_not"] = False

    if fgroups:
        frows = pd.DataFrame(
            [(gi, t) for gi, g in enumerate(fgroups) for t in g],
            columns=["fgroup", "term"],
        )
        indexed = frows.merge(tstats[["term"]], on="term")
        missing = set(range(len(fgroups))) - set(indexed["fgroup"].unique())
        if missing:
            return None  # an AND-group matches nothing in the index
        qids = pd.DataFrame({"query_id": queries["query_id"].unique()})
        f = frows.merge(qids, how="cross")
        f["is_filter"] = True
        f["is_not"] = False
        pairs = pd.concat(
            [pairs, f[["query_id", "term", "is_filter", "fgroup", "is_not"]]],
            ignore_index=True,
        )

    if not_terms:
        nrows = pd.DataFrame({"term": sorted(set(not_terms))})
        qids = pd.DataFrame({"query_id": queries["query_id"].unique()})
        nr = nrows.merge(qids, how="cross")
        nr["is_filter"] = False
        nr["fgroup"] = -1
        nr["is_not"] = True
        pairs = pd.concat(
            [pairs, nr[["query_id", "term", "is_filter", "fgroup", "is_not"]]],
            ignore_index=True,
        )

    qterm = pairs.merge(tstats, on="term")  # drops unindexed scoring terms
    if qterm.empty:
        return None
    if "any_salted" in qterm.columns:
        # multi-generation serving: saltedness was decided per generation
        # at ITS build threshold — the merged flag, not the merged df,
        # says whether sharded routing is needed
        heavy = qterm.groupby("query_id")["any_salted"].max().astype(bool)
    else:
        heavy = qterm.groupby("query_id")["df"].max() > salt_threshold
    q_segs = heavy.map(lambda h: n_segments if h else 1).rename("q_segs")
    qterm = qterm.merge(q_segs.reset_index(), on="query_id")
    qterm["n_fgroups"] = len(fgroups)
    qterm["n_req"] = qterm["query_id"].map(nreq_map).fillna(0).astype(int)
    return qterm


def _fan(spark: SparkSession, blocks: DataFrame, qterm: pd.DataFrame, salt_threshold: int) -> DataFrame:
    """Blocks × queries with segment routing: a heavy term's segment-s
    blocks go to exactly task (q, s) — never replicated; light blocks
    (bounded bytes by the salt threshold) replicate to the query's S
    tasks; single-task queries route everything to (q, 0)."""
    qterm_df = spark.createDataFrame(
        qterm[["query_id", "term", "term_id", "df", "is_filter", "fgroup",
               "is_not", "n_req", "q_segs", "n_fgroups"]]
    )
    fan = blocks.join(F.broadcast(qterm_df), "term_id")
    # a SALTED list's segment-s blocks route to exactly task (q, s);
    # unsalted (light) lists replicate to the query's S tasks and are
    # narrowed to the task's doc residue inside the scorer. Saltedness
    # is block-level when the blocks carry it (multi-generation union —
    # the same term can be salted in one generation and flat in
    # another), else the single-index df-vs-threshold rule.
    salted = (
        F.col("is_salted")
        if "is_salted" in blocks.columns
        else F.col("df") > F.lit(int(salt_threshold))
    )
    return fan.withColumn(
        "serve_seg",
        F.explode(
            F.when(F.col("q_segs") == 1, F.array(F.lit(0)))
            .when(salted, F.array(F.col("segment")))
            .otherwise(F.sequence(F.lit(0), F.col("q_segs") - 1))
        ),
    )


def topk_frames(
    spark: SparkSession,
    prep: ServePrep,
    queries: pd.DataFrame,
    *,
    k: int = 10,
    filters=None,
    allowed_docs=None,
    mode: str = "or",
    not_terms: list[str] | None = None,
    rank: bool = True,
) -> DataFrame:
    """One scoring job: batch top-k over a view's serve-prep.

    `rank=False` (k <= 0 only) returns the UNRANKED candidate pool
    (query_id, doc_id, score) — no global window: the k=0 conjunctive
    pool exists to feed phrase verification / facet counting, both of
    which re-rank (or never rank) downstream, so the row_number
    exchange+sort over the full AND set is pure waste there. Segments
    are doc-disjoint, so the un-windowed union of per-segment rows IS
    the exact candidate set.

    `mode="and"`: conjunctive serving — only docs containing every
    scoring term qualify (rarest-first intersection in the scorer,
    restrict-pushdown decode). With `k <= 0` every conjunctive
    candidate is returned, ranked — the phrase-verification pool
    (k <= 0 is rejected for mode="or": the disjunctive candidate set is
    corpus-sized for any common term). `not_terms`: batch-global
    MUST-NOT terms — docs containing any of them are excluded before
    scoring, both modes.

    Tombstoned doc versions (`prep.excluded`, a broadcast
    `codec.PackedDocIdSet`) are dropped at decode time inside the
    scorer; the prep's N, avgdl and df already exclude them, which is
    what makes upsert serving score-identical to a from-scratch build
    over the latest versions.

    With `n_segments > 1` + a salt threshold, heavy-term queries are
    segment-sharded (see module docstring); the per-query group shuffle
    then moves O(segments·k) result rows, never whole posting lists."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    if k <= 0 and mode != "and":
        raise ValueError("k <= 0 (full candidate set) requires mode='and'")
    if not rank and k > 0:
        raise ValueError("rank=False is the k <= 0 candidate-pool shape")
    fgroups = _normalize_filters(filters)
    salt_threshold = prep.salt_threshold
    if salt_threshold is None:
        salt_threshold = 2**62  # nothing is heavy → single-task queries
    qterm = _build_qterms(
        queries, prep.tstats, fgroups, salt_threshold, prep.n_segments, not_terms=not_terms
    )
    if qterm is None:
        return spark.createDataFrame(
            [], _GROUP_SCHEMA if not rank else TOPK_SCHEMA
        )
    ids = [int(x) for x in qterm["term_id"].unique()]

    allowed_bc = None
    if allowed_docs is not None:
        arr = np.unique(np.asarray(list(allowed_docs), dtype=np.int64))
        if arr.size == 0:
            return spark.createDataFrame(
                [], _GROUP_SCHEMA if not rank else TOPK_SCHEMA
            )
        allowed_bc = spark.sparkContext.broadcast(arr)

    # posting scan touches only the queried term_ids — an int64 IN-filter
    # pushed into the parquet row-group stats
    blocks = prep.blocks.filter(F.col("term_id").isin(ids))
    fan = _fan(spark, blocks, qterm, salt_threshold)
    # plain locals: the scoring closure must not capture the prep's frames
    n_docs, avgdl, k1, b, excluded_bc = prep.n_docs, prep.avgdl, prep.k1, prep.b, prep.excluded

    def score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return _score_group(
            pdf,
            n_docs=n_docs,
            avgdl=avgdl,
            k1=k1,
            b=b,
            k=k,
            allowed_global=None if allowed_bc is None else allowed_bc.value,
            # decoded once per worker process (memoized on the
            # broadcast-cached object)
            excluded_global=None if excluded_bc is None else excluded_bc.value.decode(),
            mode=mode,
        )

    part = fan.groupBy("query_id", "serve_seg").applyInPandas(score, schema=_GROUP_SCHEMA)
    if not rank:
        return part  # exact candidate pool — no global window (see docstring)
    # global merge: ≤ S·k tiny rows per query (TakeOrdered-shaped window);
    # k <= 0 (conjunctive pool) ranks but keeps every candidate
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = part.withColumn("rank", F.row_number().over(w))
    if k > 0:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select("query_id", "rank", "doc_id", "score")


def topk(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    k: int = 10,
    *,
    filters=None,
    allowed_docs=None,
    k1: float | None = None,
    b: float | None = None,
    mode: str = "or",
    not_terms: list[str] | None = None,
    rank: bool = True,
) -> DataFrame:
    """Batch top-k: queries pandas(query_id, query_text) → Spark DF of
    (query_id, rank, doc_id, score). `index_dir` is a batch index or a
    generation root (see `IndexView.open`). `rank=False` (k <= 0 pools
    only) skips the global rank window — see topk_frames.

    `mode="and"`: conjunctive serving — only docs containing EVERY
    query term qualify (still BM25-scored and ranked). `not_terms`:
    batch-global must-not terms, docs containing any are excluded
    before scoring (see topk_frames).

    `filters`: conjunctive filter groups over build-time `filter_terms`
    posting lists (each group a term or an OR-list) — reference R3.
    `allowed_docs`: explicit doc_id whitelist (broadcast), for ad-hoc
    predicates; combine freely with `filters`.

    k1/b overrides that differ from the index's build-time values are
    rejected: stored per-block `max_tf_norm` upper bounds are computed
    with the build parameters, and pruning with foreign k1/b could
    silently drop true top-k members."""
    return IndexView.open(index_dir).topk(
        spark, queries, k, filters=filters, allowed_docs=allowed_docs,
        k1=k1, b=b, mode=mode, not_terms=not_terms, rank=rank,
    )


MAX_INFLIGHT = 2  # chunk jobs submitted at once (bounded_map)


def bounded_map(spark: SparkSession, fn, items) -> list:
    """Order-preserving map that keeps at most MAX_INFLIGHT calls
    submitted: item i+MAX_INFLIGHT is submitted only once item i's
    result has been taken, so a straggling early item never lets the
    later ones pile up behind it (`ThreadPoolExecutor.map` submits
    every item up front). Two Spark jobs in flight let the next job's
    tasks back-fill executors freed by the current job's straggler
    tail. Calls inherit the caller's Spark local properties (job group,
    description), so their jobs are accounted to the caller."""
    from collections import deque
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    run = inheritable_thread_target(spark)(fn)
    out: list = []
    pending: deque = deque()
    with ThreadPoolExecutor(max_workers=MAX_INFLIGHT) as pool:
        for item in items:
            if len(pending) == MAX_INFLIGHT:
                out.append(pending.popleft().result())
            pending.append(pool.submit(run, item))
        out.extend(f.result() for f in pending)
    return out


def run_chunked(
    spark: SparkSession,
    queries: pd.DataFrame,
    max_batch: int,
    run,
    chunk_times: list | None = None,
) -> DataFrame:
    """Serve a query batch through `run(chunk) -> DataFrame` in bounded
    chunks of `max_batch` queries — one scoring job per chunk, chunk
    results (k rows/query, tiny) concatenated into one local-relation
    DataFrame. `max_batch=0` (or a batch that fits) is one lazy call.

    Why chunking exists: the scorer's working set (posting blocks ×
    queries in flight) grows linearly with the batch while per-core
    heap is fixed, so on a PACKED executor the wide side of a cluster
    degrades first — measured on the pinned 1→4-core protocol: N→4N
    serving efficiency 0.805 at 292 queries vs 0.703 at 584
    (BENCH/BASELINE.md round 4). Chunks are independent jobs with no
    cross-chunk state, so results are bitwise identical to one big
    batch, and stragglers and retries are contained per chunk. At most
    MAX_INFLIGHT chunks are submitted at once (`bounded_map`), which
    bounds the co-resident working set.

    `chunk_times` receives each chunk's measured wall seconds, taken
    under that concurrency (bench.py derives serving-latency p50/p95
    from them)."""
    if not max_batch or len(queries) <= max_batch:
        return run(queries)
    import time

    def timed(chunk: pd.DataFrame):
        t0 = time.monotonic()
        df = run(chunk)
        return df.schema, df.toPandas(), time.monotonic() - t0

    parts = bounded_map(
        spark, timed,
        [queries.iloc[i : i + max_batch] for i in range(0, len(queries), max_batch)],
    )
    if chunk_times is not None:
        chunk_times.extend(dt for _, _, dt in parts)
    return spark.createDataFrame(
        pd.concat([pdf for _, pdf, _ in parts], ignore_index=True), schema=parts[0][0]
    )


@dataclass(frozen=True)
class ServePrep:
    """Per-batch serving state, loaded ONCE per batch (chunked serving
    reuses it for every chunk): global BM25 statistics, the term
    dictionary rows of every term the batch touches, the lazy posting
    block frame, and the broadcast tombstone mask (None when no doc is
    dead)."""

    n_docs: int
    avgdl: float
    k1: float
    b: float
    n_segments: int
    salt_threshold: int | None
    tstats: pd.DataFrame
    blocks: DataFrame
    excluded: object = None


@dataclass(frozen=True)
class IndexView:
    """What serving reads, as a list of generations. A batch-built
    index (plus its docs / positions dirs) is the one-generation view
    with no tombstones; a generation root (streaming.incremental) is
    every live generation of its manifest, with the tombstones of every
    generation. Opening a view is driver-side file listing only — zero
    Spark jobs."""

    index_dirs: list
    docs_dirs: list
    positions_dirs: list
    missing_positions: list = ()  # generations without a positions sidecar
    tombstone_dirs: list = ()
    gens: list | None = None  # manifest records (generation roots only)

    @classmethod
    def open(
        cls, path: str, docs_dir: str | None = None, positions_dir: str | None = None
    ) -> IndexView:
        """`path` is a batch index dir (`docs_dir`/`positions_dir` name
        its sidecars) or a generation root (a dir with a `gens/`
        manifest), whose docs and positions come from its
        generations."""
        import os

        if not os.path.isdir(f"{path}/gens"):
            return cls(
                [path], [docs_dir] if docs_dir else [],
                [positions_dir] if positions_dir else [],
            )
        from theoremsearch_spark.streaming.incremental import (
            _docs_path,
            _generations,
            _tombstone_paths,
        )

        gens = sorted(_generations(None, path), key=lambda g: g["gen"])
        if not gens:
            raise ValueError(f"no committed generations under {path}")
        # delete-only generations carry tombstones but no index
        live = [g["gen"] for g in gens if not g.get("delete_only")]
        if not live:
            raise ValueError(f"only delete-only generations under {path}")
        pos = [f"{path}/gen_{g}/index/positions" for g in live]
        return cls(
            [f"{path}/gen_{g}/index" for g in live],
            [_docs_path(path, g) for g in live],
            [p for p in pos if os.path.isdir(p)],
            [p for p in pos if not os.path.isdir(p)],
            _tombstone_paths(path, [g["gen"] for g in gens]),
            gens,
        )

    def prepare(
        self,
        spark: SparkSession,
        queries: pd.DataFrame,
        *,
        filters=None,
        not_terms: list[str] | None = None,
        k1: float | None = None,
        b: float | None = None,
    ) -> ServePrep:
        """The batch's serve-prep. doc_stats is a driver-side pyarrow
        read (zero Spark jobs), so a one-generation view without
        tombstones costs exactly ONE job — the term-dictionary scan —
        and builds the plain single-index plan: stored avgdl, the
        df-vs-threshold salting rule, no generation column."""
        terms = sorted({t for q in queries["query_text"] for t in tokenize(q)})
        for g in _normalize_filters(filters):
            terms.extend(g)
        # must-not terms need their stats rows too — without them the
        # qterm merge would silently drop the exclusion
        terms.extend(not_terms or [])
        if self.gens is not None:
            _check_filter_cols(self.gens, filters)
        metas = _doc_stats(spark, self.index_dirs)
        build = {"k1": float(metas[0]["k1"]), "b": float(metas[0]["b"])}
        for name, want in (("k1", k1), ("b", b)):
            if want is not None and abs(float(want) - build[name]) > 1e-12:
                raise ValueError(
                    f"{name}={want} differs from index build {name}={build[name]}; "
                    "block-max pruning bounds would be unsound — rebuild the index"
                )
        if len(self.index_dirs) > 1 or self.tombstone_dirs:
            return self._prepare_generations(spark, metas, terms, **build)
        idx, m = self.index_dirs[0], metas[0]
        return ServePrep(
            n_docs=int(m["n_docs"]),
            avgdl=float(m["avgdl"]),
            n_segments=int(m.get("n_segments", 1) or 1),
            salt_threshold=m.get("salt_threshold"),
            tstats=spark.read.parquet(f"{idx}/term_stats")
            .filter(F.col("term").isin(terms))
            .toPandas(),
            blocks=spark.read.parquet(f"{idx}/postings"),
            **build,
        )

    def _prepare_generations(
        self, spark: SparkSession, metas: list[dict], terms: list[str], k1: float, b: float
    ) -> ServePrep:
        """Serve-prep across generations with globally merged
        statistics (N, avgdl, df), so scores are identical to a
        from-scratch build over the union corpus, and tombstone
        corrections: a generation that re-ingested or deleted urls
        tombstoned the older doc versions, which are excluded from
        scoring while N, avgdl and per-term df are corrected as if they
        were gone. The stored per-generation doc_stats stay stale until
        compaction, standard LSM behavior.

        O(1) Spark jobs regardless of generation count: a streamed root
        accumulates one generation per micro-batch, so each table is
        ONE multi-path scan with the generation id parsed from the file
        path, never G per-generation reads."""
        gen_ids = [int(g["gen"]) for g in self.gens if not g.get("delete_only")]
        metas = dict(zip(gen_ids, metas))
        n_docs = sum(m["n_docs"] for m in metas.values())
        avgdl = sum(m["avgdl"] * m["n_docs"] for m in metas.values()) / n_docs
        gen_col = F.regexp_extract(F.input_file_name(), r"gen_(-?\d+)/index", 1).cast("int")

        # segment-sharded serving needs every generation to agree on the
        # segment modulus (doc_id % S); mixed moduli fall back to the
        # single-task path — correct, just unsharded. Saltedness is a
        # PER-GENERATION property (each generation salted at its own df
        # threshold), so the routing flag rides on the blocks.
        seg_moduli = {int(m.get("n_segments") or 1) for m in metas.values()}
        n_segments = seg_moduli.pop() if len(seg_moduli) == 1 else 1
        thr = {
            g: int(m["salt_threshold"]) if m.get("salt_threshold") is not None else 2**62
            for g, m in metas.items()
        }

        # ONE term-dictionary scan: the per-generation rows of the
        # batch's terms (|batch terms|·G — driver-tiny) yield BOTH the
        # merged stats and the per-generation salted-routing flags
        tstats_plan = (
            spark.read.parquet(*[f"{d}/term_stats" for d in self.index_dirs])
            .withColumn("gen", gen_col)
            .filter(F.col("term").isin(terms))
            .select("gen", "term", "term_id", "df")
        )
        # the tombstone artifact (mask + dead-doc df counts, one pass)
        # and the dictionary scan are independent tiny jobs that leave
        # most executor slots idle — run them concurrently
        jobs = [tstats_plan.toPandas]
        if self.tombstone_dirs:
            dead = spark.read.parquet(*self.tombstone_dirs).dropDuplicates(["doc_id"])
            jobs.append(lambda: _tombstone_artifact(dead, terms))
        per_gen, *artifact = bounded_map(spark, lambda job: job(), jobs)
        mask, dfc = None, {}
        if artifact:
            mask, n_dead, dl_dead, dfc = artifact[0]
            if n_dead:
                total_len = avgdl * n_docs - dl_dead
                n_docs -= n_dead
                avgdl = total_len / max(n_docs, 1)

        per_gen["any_salted"] = per_gen["df"] > per_gen["gen"].map(thr)
        merged = per_gen.groupby(["term", "term_id"], as_index=False).agg(
            df=("df", "sum"), any_salted=("any_salted", "max")
        )
        merged["any_salted"] = merged["any_salted"].astype(bool)
        if dfc:
            # scoring df excludes dead docs; the any_salted ROUTING flag
            # keeps the generations' own build-time df (saltedness is a
            # physical layout property, not a statistic)
            merged["df"] = merged["df"] - merged["term"].map(dfc).fillna(0).astype(int)

        # block max_tf_norm was computed with the GENERATION's avgdl;
        # tf_norm grows with avgdl by at most avgdl_serve/avgdl_gen, so
        # rescaling by that ratio keeps block-max pruning sound under
        # merged+corrected statistics
        ub_info = spark.createDataFrame(
            pd.DataFrame(
                {
                    "gen": list(metas),
                    "ub_scale": [max(1.0, avgdl / float(m["avgdl"])) for m in metas.values()],
                }
            )
        )
        salted_flags = spark.createDataFrame(
            [(int(r.gen), int(r.term_id), bool(r.any_salted)) for r in per_gen.itertuples()],
            "gen int, term_id long, is_salted boolean",
        )
        blocks = (
            # recursiveFileLookup: multi-root partition discovery rejects
            # the bucket=N postings dirs; serving never reads the bucket
            # column (it filters on term_id, pushed to row-group stats)
            spark.read.option("recursiveFileLookup", "true")
            .parquet(*[f"{d}/postings" for d in self.index_dirs])
            .withColumn("gen", gen_col)
            .join(F.broadcast(ub_info), "gen")
            .withColumn("max_tf_norm", (F.col("max_tf_norm") * F.col("ub_scale")).cast("float"))
            .drop("ub_scale")
            .join(F.broadcast(salted_flags), ["gen", "term_id"])
        )
        return ServePrep(
            n_docs=int(n_docs), avgdl=float(avgdl), k1=k1, b=b,
            n_segments=n_segments, salt_threshold=None, tstats=merged, blocks=blocks,
            # broadcast ONCE per batch: every chunk's scoring job reads
            # the same handle
            excluded=None if mask is None else spark.sparkContext.broadcast(mask),
        )

    def topk(
        self,
        spark: SparkSession,
        queries: pd.DataFrame,
        k: int = 10,
        *,
        max_batch: int = 0,
        chunk_times: list | None = None,
        filters=None,
        not_terms: list[str] | None = None,
        k1: float | None = None,
        b: float | None = None,
        **score_kwargs,
    ) -> DataFrame:
        """Batch top-k (see `topk`), served in chunks of `max_batch`
        queries (see `run_chunked`) over one shared serve-prep."""
        prep = self.prepare(spark, queries, filters=filters, not_terms=not_terms, k1=k1, b=b)
        return run_chunked(
            spark, queries, max_batch,
            lambda chunk: topk_frames(
                spark, prep, chunk, k=k, filters=filters, not_terms=not_terms, **score_kwargs
            ),
            chunk_times,
        )

    def phrase_topk(
        self,
        spark: SparkSession,
        queries: pd.DataFrame,
        k: int = 10,
        *,
        filters=None,
        text_col: str = "extracted_text",
        snippet_pad: int | None = None,
        use_positions: bool | None = None,
    ) -> DataFrame:
        """Exact-phrase top-k (see `phrase_topk`). `use_positions`:
        None = positional verification when EVERY generation carries a
        positions sidecar, True = require them (raises if any lacks
        one — no silent strategy downgrade), False = doc-text verify."""
        if use_positions is None:
            use_positions = bool(self.positions_dirs) and not self.missing_positions
        if use_positions and self.missing_positions:
            raise ValueError(
                f"positions sidecar missing for generation dirs {self.missing_positions}; "
                "rebuild those generations with positions (or pass "
                "use_positions=False) — a partial sidecar would silently "
                "drop matches from the uncovered generations"
            )
        # the k=0 conjunctive pool stays DISTRIBUTED and unranked
        # (verification re-ranks): for common-token phrases it is a
        # corpus fraction, so it never localizes through the driver
        cand = self.topk(spark, queries, k=0, mode="and", filters=filters, rank=False)
        if not use_positions:
            # two consumers (file pruning + verify join): one
            # EXECUTOR-side materialization so scoring runs once. Lazy:
            # the pruning aggregate triggers it — no extra job
            cand = cand.localCheckpoint(eager=False)
            docs = _pruned_doc_meta_pool(spark, self.docs_dirs, cand, [text_col])
            return _verify_phrase(spark, cand, docs, queries, k, text_col, snippet_pad)
        from theoremsearch_spark.positions import phrase_verify_positional

        # single consumer: the pool flows straight into the verify join
        ranked = phrase_verify_positional(spark, self.positions_dirs, cand, queries, k)
        if snippet_pad is None:
            return ranked
        ranked = _localize_hits(spark, ranked)  # final k·Q rows — tiny
        docs = _pruned_doc_meta(spark, self.docs_dirs, ranked, [text_col])
        return (
            ranked.join(docs, "doc_id")
            .join(F.broadcast(_needles(spark, queries)), "query_id")
            .withColumn("snippet", _snippet_expr(text_col, snippet_pad))
            .select("query_id", "rank", "doc_id", "score", "snippet")
        )


def _check_filter_cols(gens: list[dict], filters) -> None:
    """A generation that did not index a filter's posting list would
    silently exclude ALL its docs from filtered results — reject when
    the manifest RECORDS what was indexed and it doesn't cover the
    filter (generations committed without the field are trusted to
    have built their own filter_terms)."""
    fkeys = {t.split("=", 1)[0] for g in _normalize_filters(filters) for t in g}
    if not fkeys:
        return
    for g in gens:
        fc = g.get("filter_cols")
        if not g.get("delete_only") and fc is not None and not fkeys <= set(fc):
            raise ValueError(
                f"generation {g['gen']} indexed filter_cols={fc} but the "
                f"query filters on {sorted(fkeys)} — filtered serving "
                "would silently drop that generation's documents; "
                "rebuild/compact with consistent filter_cols"
            )


def _doc_stats(spark: SparkSession, index_dirs: list[str]) -> list[dict]:
    """Each index's one-row doc_stats sidecar, read DRIVER-side with
    pyarrow (zero Spark jobs). Sidecars the local read cannot see
    (non-local paths) come from ONE Spark read over all of them; a
    sidecar with no row at all raises."""
    from functools import reduce

    from theoremsearch_spark.stats import read_doc_stats_row

    rows = [read_doc_stats_row(f"{d}/doc_stats") for d in index_dirs]
    todo = [i for i, r in enumerate(rows) if r is None]
    if todo:
        parts = [
            spark.read.parquet(f"{index_dirs[i]}/doc_stats").withColumn("_i", F.lit(i))
            for i in todo
        ]
        for r in reduce(lambda x, y: x.unionByName(y, allowMissingColumns=True), parts).collect():
            row = r.asDict()
            rows[row.pop("_i")] = row
    empty = [d for d, r in zip(index_dirs, rows) if r is None]
    if empty:
        raise ValueError(f"doc_stats holds no row under {empty}")
    return rows


def _tombstone_artifact(dead: DataFrame, count_terms=None):
    """ONE executor-side job over the (deduped) tombstone rows →
    (PackedDocIdSet mask | None, n_dead, doc_len sum, {term: dead df}).
    Each task sorts its own ids and packs one delta-varbyte chunk; the
    driver receives one compressed blob + a handful of count rows PER
    PARTITION — never a Row per tombstone.

    `count_terms` (the batch's term set) folds the per-term dead-doc
    df correction into the SAME pass: each task tallies its partition's
    matching terms into a small dict (bounded by |batch terms|) emitted
    as count rows."""
    terms = set(count_terms or ())
    cols = ["doc_id", "doc_len"] + (["terms"] if terms else [])

    def pack(batches):
        ids, dl = [], 0
        cnt: dict[str, int] = {}
        for pdf in batches:
            ids.append(pdf["doc_id"].to_numpy(dtype="int64"))
            dl += int(pdf["doc_len"].sum())
            if terms:
                for ts in pdf["terms"]:
                    for t in ts:
                        if t in terms:
                            cnt[t] = cnt.get(t, 0) + 1
        arr = np.concatenate(ids) if ids else np.empty(0, dtype="int64")
        out = []
        if arr.size:
            arr.sort()
            out.append(("", 0, int(arr.size), dl, codec.PackedDocIdSet.pack_sorted(arr)))
        out.extend((t, c, 0, 0, None) for t, c in cnt.items())
        if out:
            yield pd.DataFrame(out, columns=["term", "cnt", "n", "dl", "packed"])

    rows = (
        dead.select(*cols)
        .mapInPandas(pack, schema="term string, cnt long, n long, dl long, packed binary")
        .collect()
    )
    dfc: dict[str, int] = {}
    for r in rows:
        if r["term"]:
            dfc[r["term"]] = dfc.get(r["term"], 0) + int(r["cnt"])
    mask_rows = [r for r in rows if r["n"]]
    n = sum(int(r["n"]) for r in mask_rows)
    if not n:
        return None, 0, 0, {}
    mask = codec.PackedDocIdSet([bytes(r["packed"]) for r in mask_rows], n)
    return mask, n, sum(int(r["dl"]) for r in mask_rows), dfc


def topk_batched(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    k: int = 10,
    *,
    max_batch: int = 0,
    chunk_times: list | None = None,
    **topk_kwargs,
) -> DataFrame:
    """`topk` served in bounded chunks of `max_batch` queries
    (`run_chunked`); the serve-prep (doc_stats, the batch's
    term-dictionary rows, the tombstone artifact) runs ONCE for the
    whole batch — it is chunk-independent by construction — so only
    the scoring job repeats per chunk. `max_batch=0` = plain topk."""
    return IndexView.open(index_dir).topk(
        spark, queries, k, max_batch=max_batch, chunk_times=chunk_times, **topk_kwargs
    )


def phrase_topk(
    spark: SparkSession,
    index_dir: str,
    docs_dir: str,
    queries: pd.DataFrame,
    k: int = 10,
    *,
    filters=None,
    text_col: str = "extracted_text",
    snippet_pad: int | None = None,
    positions_dir: str | None = None,
) -> DataFrame:
    """Exact-phrase top-k: each query_text is a PHRASE — its tokens must
    appear consecutively, in order, in the document. Two stages, both on
    existing index physics:

      1. candidates: conjunctive serving (`mode="and"`, k=0) — docs
         containing every phrase token, WITH their BM25 scores. The
         pool is bounded by the df of the phrase's rarest token, so for
         content phrases it is tiny; posting blocks outside the running
         intersection are never decoded.
      2. verification: candidates' text fetched from the docs files
         whose recorded id span holds a candidate
         (`_pruned_doc_meta_pool`), normalized JVM-side with the
         TOKENIZER'S OWN rule (lowercase, non-[a-z0-9] runs → one
         space) and matched against ' t1 t2 … ' with `contains` —
         codegen string ops, no Python in the loop. Normalized-text
         adjacency is EXACTLY token adjacency because tokens are
         maximal [a-z0-9] runs: any separator collapses to one space.

    Survivors keep their conjunctive BM25 score; final rank is
    (score DESC, doc_id ASC). Scale contract: candidate count ∝ rarest
    df — a phrase of nothing but stopwords degrades toward a corpus
    scan; the escalation path for that shape is the positional sidecar.
    Phrase-shaped matching the reference exposes only as un-indexed
    ILIKE substring predicates over titles/names
    (/root/reference/streamlit_app.py:220-231).

    `positions_dir` (a `positions.build_positions` sidecar) switches
    stage 2 to POSITIONAL verification: adjacency is checked from the
    stored per-term occurrence positions — term-pruned columnar reads,
    zero doc-text fetch. Results are bitwise-identical to doc-text
    verification (same tokenizer produced both artifacts; parity is
    test-locked). With `snippet_pad`, snippets are then computed from
    text fetched for the FINAL k·Q rows only.

    The k=0 pool stays DISTRIBUTED end to end — the driver only ever
    sees the final k·Q rows, or the bounded coarse-bucket aggregate the
    doc-text path's file pruning needs."""
    view = IndexView.open(index_dir, docs_dir, positions_dir)
    return view.phrase_topk(
        spark, queries, k, filters=filters, text_col=text_col, snippet_pad=snippet_pad
    )


def _needles(spark: SparkSession, queries: pd.DataFrame) -> DataFrame:
    """(query_id, ' t1 t2 … ') — each phrase in the normalized-text
    form `_norm_sql` produces."""
    return spark.createDataFrame(
        [
            (int(qid), " " + " ".join(tokenize(str(txt))) + " ")
            for qid, txt in zip(queries["query_id"], queries["query_text"])
        ],
        "query_id int, needle string",
    )


def _verify_phrase(
    spark: SparkSession,
    cand: DataFrame,
    docs: DataFrame,
    queries: pd.DataFrame,
    k: int,
    text_col: str,
    snippet_pad: int | None = None,
) -> DataFrame:
    """Adjacency-verify conjunctive candidates against their text and
    re-rank: normalize with the tokenizer's own rule, `contains` the
    per-query ' t1 t2 … ' needle (codegen string ops), keep top-k by
    (score DESC, doc_id ASC). `snippet_pad` adds a `snippet` column:
    the normalized text window of ±pad chars around the FIRST phrase
    occurrence (locate + substring — still pure codegen)."""
    norm = F.expr(_norm_sql(text_col))
    verified = (
        cand.select("query_id", "doc_id", "score")
        .join(docs, "doc_id")
        .join(F.broadcast(_needles(spark, queries)), "query_id")
        .filter(F.contains(norm, F.col("needle")))
    )
    out_cols = ["query_id", "rank", "doc_id", "score"]
    if snippet_pad is not None:
        verified = verified.withColumn(
            "snippet", _snippet_expr(text_col, snippet_pad)
        )
        out_cols.append("snippet")
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        verified.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*out_cols)
    )


def _snippet_expr(text_col: str, pad: int):
    """±pad-char normalized-text window around the first needle
    occurrence — locate + substring over the same normalization the
    contains verification uses."""
    return F.expr(
        f"substring({_norm_sql(text_col)}, "
        f"greatest(1, locate(needle, {_norm_sql(text_col)}) - {int(pad)}), "
        f"{2 * int(pad)} + length(needle))"
    )


def _norm_sql(text_col: str) -> str:
    """The tokenizer-rule normalization (' ' || collapsed [a-z0-9]
    tokens || ' ') as a SQL expression string — the single source of
    truth for both the contains-verification and the snippet window."""
    return (
        f"concat(' ', regexp_replace(lower({text_col}), '[^a-z0-9]+', ' '), ' ')"
    )


def topk_rescored(
    spark: SparkSession,
    index_dir: str,
    docs_dir: str,
    queries: pd.DataFrame,
    k: int = 10,
    *,
    pool_factor: int = 10,
    weight: float = 0.1,
    weight_col: str = "doc_len",
    filters=None,
) -> DataFrame:
    """Two-stage ranking — the reference's citation-weighted rescore
    (/root/reference/streamlit_app.py:317-363): candidate pool of
    max(50, pool_factor·k) by BM25, then
    ``weighted_score = score + weight·ln(1 + weight_col)``, final top-k
    by (weighted_score DESC, score DESC, doc_id ASC) — the reference's
    exact ORDER BY shape (streamlit_app.py:362). Filters (if any) apply
    at pool time, inside the ranked query — never after the pool, which
    is the under-fill anti-pattern the reference itself warns of
    (/root/reference/app_showcase_model.py:96-129)."""
    pool = max(50, pool_factor * k)
    hits = _localize_hits(spark, topk(spark, index_dir, queries, k=pool, filters=filters))
    meta = _pruned_doc_meta(spark, docs_dir, hits, [weight_col])
    rescored = hits.join(meta, "doc_id").withColumn(
        "weighted_score",
        F.col("score") + F.lit(weight) * F.log(1.0 + F.col(weight_col)),
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("weighted_score"), F.desc("score"), F.asc("doc_id")
    )
    return (
        rescored.withColumn("final_rank", F.row_number().over(w))
        .filter(F.col("final_rank") <= k)
        .select("query_id", "final_rank", "doc_id", "score", "weighted_score")
    )


def topk_with_urls(
    spark: SparkSession, index_dir: str, docs_dir: str, queries: pd.DataFrame, k: int = 10
) -> DataFrame:
    """Top-k joined with doc metadata for display — the serving shape of
    /root/reference/streamlit_app.py:276-283 (ranked ids → full rows)."""
    hits = _localize_hits(spark, topk(spark, index_dir, queries, k))
    docs = _pruned_doc_meta(spark, docs_dir, hits, ["url", "lang", "warc_ts"])
    return hits.join(docs, "doc_id", "left").orderBy("query_id", "rank")


def _localize_hits(spark: SparkSession, hits: DataFrame) -> DataFrame:
    """Materialize a top-k result (k·Q rows — tiny by construction) into
    a local relation so the metadata-join consumers can (a) derive the
    doc_id bounds for scan pruning and (b) reuse it without re-running
    the whole scoring pipeline."""
    return spark.createDataFrame(hits.toPandas(), schema=TOPK_SCHEMA)




def _pruned_doc_meta(
    spark: SparkSession, docs_dirs: str | list[str], hits: DataFrame, cols: list[str]
) -> DataFrame:
    """Column-pruned docs scan restricted to exactly the PARQUET FILES
    that can contain the hit ids — the doc lookup for a bounded (k·Q)
    result set. prepare_docs writes docs doc_id-ascending and records
    each file's [lo, hi] id span in an `_id_ranges.json` sidecar (footer
    stats, zero extra IO at write time); the lookup binary-searches the
    hit ids against the spans and scans only the touched files —
    point-lookup physics, where a global [min(hit), max(hit)] span
    degenerates to the whole table once hits spread across the id
    space. Dirs without a manifest (hand-built roots) are scanned whole,
    bounded by the hit span pushed to row-group statistics. The join
    itself does the exact id matching; AQE broadcasts the hits side.
    `docs_dirs`: one docs dir or a view's list (one per generation);
    `cols` a dir lacks are skipped."""
    dirs = [docs_dirs] if isinstance(docs_dirs, str) else list(docs_dirs)
    ids = sorted(
        int(r["doc_id"]) for r in hits.select("doc_id").distinct().collect()
    )
    paths: list[str] = []
    for d in dirs:
        ranges = _load_id_ranges(d)
        paths.extend([d] if ranges is None or not ids else _files_hit(d, ranges, ids))
    if not paths:
        # manifests prove no file can contain a hit — statically empty
        # (Filter(false) folds to an empty relation: zero file reads)
        return _read_docs(spark, dirs, cols).filter(F.lit(False))
    meta = _read_docs(spark, paths, cols)
    if ids:
        meta = meta.filter(F.col("doc_id").between(ids[0], ids[-1]))
    return meta


def _pruned_doc_meta_pool(
    spark: SparkSession, docs_dirs: str | list[str], cand: DataFrame, cols: list[str]
) -> DataFrame:
    """Column-pruned docs scan for a DISTRIBUTED candidate pool — the
    k=0 analog of `_pruned_doc_meta`, whose id collect is only sound
    for bounded k·Q result sets. A conjunctive pool can be a corpus
    fraction, so the file-pruning signal is a cluster-side aggregate:
    distinct coarse id buckets (`_pool_hit_buckets`, bucket width ≈ one
    file's id span). The driver sees O(n_files) ints and selects
    exactly the files whose recorded [lo, hi] span intersects a hit
    bucket; the bucket-bound BETWEEN filter is pushed to row-group
    statistics inside them (dirs without a manifest are scanned whole
    under it). When no dir has a manifest, the scan is bounded by the
    pool's exact [min, max] (a 2-value aggregate)."""
    dirs = [docs_dirs] if isinstance(docs_dirs, str) else list(docs_dirs)
    ranges = [_load_id_ranges(d) for d in dirs]
    base = _read_docs(spark, dirs, cols)
    if all(r is None for r in ranges):
        rng = cand.agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).collect()[0]
        if rng["lo"] is None:
            return base.filter(F.lit(False))
        return base.filter(F.col("doc_id").between(int(rng["lo"]), int(rng["hi"])))
    shift = _bucket_shift([r for rs in ranges if rs for r in rs])
    buckets = _pool_hit_buckets(cand, shift)
    if not buckets:
        return base.filter(F.lit(False))
    paths = [
        p
        for d, rs in zip(dirs, ranges)
        for p in ([d] if rs is None else _files_hit(d, rs, buckets, shift))
    ]
    if not paths:
        return base.filter(F.lit(False))
    return _read_docs(spark, paths, cols).filter(
        F.col("doc_id").between(buckets[0] << shift, ((buckets[-1] + 1) << shift) - 1)
    )


def _read_docs(spark: SparkSession, paths: list[str], cols: list[str]) -> DataFrame:
    docs = spark.read.parquet(*paths)
    return docs.select("doc_id", *[c for c in cols if c in docs.columns])


def _files_hit(docs_dir: str, ranges: list[dict], keys: list[int], shift: int = 0) -> list[str]:
    """Files of `docs_dir` whose recorded doc_id span, shifted right by
    `shift` (coarse buckets), contains at least one of the sorted
    `keys`."""
    import bisect
    import os

    return [
        os.path.join(docs_dir, r["file"])
        for r in ranges
        if (i := bisect.bisect_left(keys, int(r["lo"]) >> shift)) < len(keys)
        and keys[i] <= int(r["hi"]) >> shift
    ]


def _load_id_ranges(docs_dir: str) -> list[dict] | None:
    """The `_id_ranges.json` sidecar's [{"file", "lo", "hi"}, ...] —
    None when the dir has no manifest (hand-built roots)."""
    import json
    import os

    from theoremsearch_spark.stats import ID_RANGES_MANIFEST

    manifest = os.path.join(docs_dir, ID_RANGES_MANIFEST)
    if not os.path.isfile(manifest):
        return None
    with open(manifest) as fh:
        return json.load(fh)["files"]


def _bucket_shift(ranges: list[dict]) -> int:
    """Coarse-bucket width for pool file pruning: one bucket ≈ one data
    file's id span, so the distinct-bucket aggregate a pool produces is
    O(n_files) ints however large the pool is."""
    spans = [int(r["hi"]) - int(r["lo"]) + 1 for r in ranges if r]
    if not spans:
        return 16
    avg = max(1, sum(spans) // len(spans))
    return max(0, avg.bit_length() - 1)


def _pool_hit_buckets(cand: DataFrame, shift: int) -> list[int]:
    """Sorted distinct coarse id buckets (doc_id >> shift) of a
    DISTRIBUTED candidate pool — one map-side-combined distinct over
    the pool; the driver receives O(n_files) small ints, never a
    candidate id."""
    return sorted(
        int(r["cb"])
        for r in cand.select(F.shiftright("doc_id", shift).alias("cb"))
        .distinct()
        .collect()
    )
