"""Phrase and boolean (minimum_should_match) query surface.

The reference delegates its text query surface to Lucene — PhraseQuery
(exact phrase match scored with phraseFreq as the BM25 tf) and
BooleanQuery.setMinimumNumberShouldMatch — while its own query classes cover
only knn (KNNQueryBuilder.java builds vector queries and wraps arbitrary
Lucene text queries as its `filter` clause). For the full-text engine these
two query types ARE part of the serving contract, so they live here,
Spark-first:

- **Phrase frequency is a pure Catalyst projection**: `filter()` over a
  position `sequence()` with `get()` lookups — whole-stage-codegen'd, zero
  shuffle, zero Python. Overlapping occurrences count (Lucene
  ExactPhraseMatcher semantics: one match per start position), and Spark's
  subexpression elimination evaluates the tokenizer once per row no matter
  how many phrase queries project over the same scan.
- **Scoring contract** (Lucene PhraseWeight under BM25Similarity): the
  phrase behaves as one pseudo-term with tf = phraseFreq and weight = the
  sum of the phrase terms' idfs in OCCURRENCE order (duplicated terms
  contribute once per occurrence), normalized by the standard tf_norm at
  the document's exact dl. The occurrence-order left-fold is pinned in all
  three implementations (Column chain / driver float chain / generated SQL)
  so the compared doubles are bit-identical — the repo's fold-exact
  discipline (PLANS.md).
- **The indexed path is two-phase** like every served query in this engine:
  candidate docIDs from the sorted intersection of the phrase terms'
  posting lists (SURVEY §2.3 in-kernel docID-sorted intersection — a doc
  lacking ANY phrase term cannot contain the phrase; the collector that
  `query.scan_segments` runs per segment), then exact positional
  verification of the candidates ONLY, against re-injected stored text
  (the derived-source contract: the index never stores text). At 100 TB the
  verification join touches |candidates| <= min-df(phrase terms) rows per
  query, not the corpus; the candidate set rides a broadcast the same way
  the rerank candidates do in vector_index.py.
- **minimum_should_match counts DISTINCT matched query terms** (documented
  deviation from Lucene's per-clause counting of duplicated terms: the
  query compiler collapses duplicates into qtf weights, operators/score.py).
  Scoring is identical to score_all; the msm cut is one extra conditional
  aggregate on the same map-side-combined groupBy — no extra shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bm25 import bm25_idf, bm25_idf_py, bm25_tf_norm
from ..functions.tokenizer import tokenize_col, tokenize_text
from .query import (
    IndexHandle,
    _live_mask,
    _query_weights,
    scan_segments,
)
from .score import query_terms_df
from ..plans.stats import CorpusStats, corpus_stats, postings_df


def phrase_freq_col(toks: Column, terms: list[str]) -> Column:
    """Number of start positions where `terms` occur consecutively in the
    token array — a codegen'd projection (no explode, no join, no Python).
    Overlapping occurrences count once per start position."""
    n = len(terms)
    if n == 0:
        return F.lit(0)

    def match(i: Column) -> Column:
        cond = F.get(toks, i) == F.lit(terms[0])
        for off, t in enumerate(terms[1:], start=1):
            cond = cond & (F.get(toks, i + F.lit(off)) == F.lit(t))
        return cond

    # sequence(0, size-n) DESCENDS when size < n — guard with when().
    starts = F.sequence(F.lit(0), F.size(toks) - F.lit(n))
    return F.when(
        F.size(toks) >= n, F.size(F.filter(starts, match))
    ).otherwise(F.lit(0))


def phrase_freq_py(tokens: list[str], terms: list[str]) -> int:
    """Pure-Python twin of phrase_freq_col (oracle / kernel verification)."""
    n = len(terms)
    if n == 0 or len(tokens) < n:
        return 0
    return sum(
        1
        for i in range(len(tokens) - n + 1)
        if tokens[i : i + n] == terms
    )


def _compile_phrases(queries: pd.DataFrame) -> list[tuple[int, list[str]]]:
    """(query_id, phrase token list) in input order, empty phrases dropped."""
    out = []
    for r in queries.itertuples(index=False):
        toks = tokenize_text(r.query_text)
        if toks:
            out.append((int(r.query_id), toks))
    return out


def phrase_prefix_freq_col(
    toks: Column, exact: list[str], prefix: str
) -> Column:
    """match_phrase_prefix frequency: start positions where `exact` occurs
    consecutively followed by any token starting with `prefix` (Lucene's
    MultiPhraseQuery with the last position expanded; ES match_phrase_prefix).
    With no exact terms this degenerates to the prefix pseudo-term's tf."""
    n = len(exact) + 1

    def match(i: Column) -> Column:
        cond: Column | None = None
        for off, t in enumerate(exact):
            c = F.get(toks, i + F.lit(off)) == F.lit(t)
            cond = c if cond is None else cond & c
        last = F.get(toks, i + F.lit(n - 1)).startswith(F.lit(prefix))
        return last if cond is None else cond & last

    starts = F.sequence(F.lit(0), F.size(toks) - F.lit(n))
    return F.when(
        F.size(toks) >= n, F.size(F.filter(starts, match))
    ).otherwise(F.lit(0))


def near_freq_col(
    toks: Column, t1: str, t2: str, slop: int
) -> Column:
    """Ordered 2-term proximity count (the bigram sloppy-phrase case):
    occurrences of t2 preceded by a t1 within `slop` intervening tokens
    (slop=0 == exact bigram adjacency). A codegen'd nested higher-order
    projection — filter() over positions with an exists() window probe."""

    def is_match(j: Column) -> Column:
        window = F.sequence(
            F.greatest(F.lit(0), j - F.lit(slop + 1)), j - F.lit(1)
        )
        has_t1 = F.exists(window, lambda i: F.get(toks, i) == F.lit(t1))
        return (F.get(toks, j) == F.lit(t2)) & F.when(
            j > 0, has_t1
        ).otherwise(F.lit(False))

    positions = F.sequence(F.lit(0), F.size(toks) - F.lit(1))
    return F.when(
        F.size(toks) > 0, F.size(F.filter(positions, is_match))
    ).otherwise(F.lit(0))


def sloppy_anchor_infos_col(
    toks: Column, terms: list[str], slop: int
) -> Column:
    """Per-anchor match info for the N-term sloppy-phrase matcher (the
    Lucene SloppyPhraseMatcher analog, generalized from the 2-term
    `near_freq_col`): an array over anchors a in [0, L-1] of structs
    (f, dist) where, scanning the capped window [a, a + N + slop - 1],

      p_i  = first position of terms[i] at/after a within the window
      f    = max_i p_i                (null when any term is absent —
                                       windows longer than N + slop can
                                       never reach dist <= slop, so the
                                       cap loses nothing)
      dist = (f - a + 1 - N)          extra positions consumed
           + #{(i, j) : i < j in query order, p_i > p_j}   (inversions)

    A MINIMAL window (counted once, the standard minimal-cover rule:
    [a, f(a)] is minimal iff cover(a) and (no cover at a+1 or
    f(a+1) > f(a))) with dist <= slop contributes 1 / (dist + 1) to the
    sloppy frequency — Lucene's sloppyFreq weighting. dist = 0 iff the
    terms are consecutive in exact query order, so slop = 0 degenerates
    to the ordered phrase (test-pinned). Documented deviations from
    Lucene: terms must be DISTINCT (repeats unsupported), and the
    inversion count replaces Lucene's edit-distance displacement.

    Everything is a codegen'd higher-order projection — no explode, no
    shuffle, no Python; materialize this array ONCE per (doc, query) and
    fold it with sloppy_freq_from_infos (O(1) per anchor)."""
    n = len(terms)
    if len(set(terms)) != n:
        raise ValueError(f"sloppy phrase requires distinct terms: {terms}")
    w = n + int(slop)  # max window length that can reach dist <= slop
    L = F.size(toks)

    def _is_term(t: str):
        # Factory keeps the HOF lambda unary (PySpark reads arity).
        return lambda p: F.get(toks, p) == F.lit(t)

    def info(a: Column) -> Column:
        hi = F.least(a + F.lit(w - 1), L - F.lit(1))
        ps = []
        for t in terms:
            occ = F.filter(F.sequence(a, hi), _is_term(t))
            ps.append(F.get(occ, 0))
        f = F.greatest(*ps) if n > 1 else ps[0]
        cover = ps[0].isNotNull()
        for p in ps[1:]:
            cover = cover & p.isNotNull()
        inv: Column = F.lit(0)
        for i in range(n):
            for j in range(i + 1, n):
                inv = inv + (ps[i] > ps[j]).cast("int")
        dist = (f - a + F.lit(1 - n)).cast("int") + inv
        return F.struct(
            F.when(cover, f).alias("f"),
            F.when(cover, dist).alias("dist"),
        )

    return F.when(
        L > 0, F.transform(F.sequence(F.lit(0), L - F.lit(1)), info)
    )


def sloppy_freq_from_infos(infos: Column, slop: int) -> Column:
    """Fold the precomputed anchor-info array into the sloppy frequency
    (see sloppy_anchor_infos_col): sum over minimal windows with
    dist <= slop of 1/(dist + 1). O(1) per anchor — the O(N * window)
    scans happened once in the materialized infos column."""
    L = F.size(infos)

    def contrib(acc: Column, a: Column) -> Column:
        cur = F.get(infos, a)
        nxt = F.get(infos, a + F.lit(1))  # null past the end
        minimal = cur["f"].isNotNull() & (
            nxt.isNull() | nxt["f"].isNull() | (nxt["f"] > cur["f"])
        )
        hit = minimal & (cur["dist"] <= F.lit(int(slop)))
        return acc + F.when(
            hit, F.lit(1.0) / (cur["dist"] + F.lit(1)).cast("double")
        ).otherwise(F.lit(0.0))

    return F.when(
        L > 0,
        F.aggregate(
            F.sequence(F.lit(0), L - F.lit(1)), F.lit(0.0), contrib
        ),
    ).otherwise(F.lit(0.0))


def sloppy_scores(
    corpus: DataFrame,
    queries: pd.DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    base: DataFrame | None = None,
) -> DataFrame:
    """N-term sloppy-phrase scoring: queries is a pandas frame with
    columns (query_id, query_text, slop). The phrase behaves as one
    pseudo-term with tf = the (fractional) sloppy frequency and weight =
    the occurrence-order idf fold over the phrase terms — exactly the
    phrase_scores contract with sloppyFreq in place of phraseFreq, so
    slop = 0 is frame-identical to phrase_scores (test-pinned).

    Plan: ONE stats scan (per-term df via array_contains, no shuffle) +
    ONE scoring scan that materializes each query's anchor-info array
    once per row and folds it — all codegen'd projections; the per-query
    weight table broadcasts back, match-sized rows only survive."""
    qdefs: list[tuple[int, list[str], int]] = []
    for r in queries.itertuples(index=False):
        toks = tokenize_text(r.query_text)
        if toks:
            qdefs.append((int(r.query_id), toks, int(r.slop)))
    spark = (corpus if base is None else base).sparkSession
    if not qdefs:
        return spark.createDataFrame(
            [], "query_id INT, doc_id LONG, score DOUBLE"
        )
    if base is None:
        base = corpus.select(
            F.col(doc_id_col).cast("long").alias("doc_id"),
            tokenize_col(text_col).alias("toks"),
        )
    else:
        # Pre-tokenized corpus (the term-vectors sidecar): both scans read
        # persisted token arrays instead of re-tokenizing text.
        base = base.select("doc_id", "toks")
    # Stats scan: N, avgdl, per-distinct-term df (the phrase_scores shape).
    all_terms = sorted({t for _q, ts, _s in qdefs for t in ts})
    aggs = [
        F.count("*").cast("double").alias("_n"),
        F.avg(F.size("toks").cast("double")).alias("_avgdl"),
    ]
    for i, t in enumerate(all_terms):
        aggs.append(
            F.sum(F.array_contains("toks", t).cast("long")).alias(f"_df_{i}")
        )
    stats = base.agg(*aggs)
    tidx = {t: i for i, t in enumerate(all_terms)}
    wstructs = []
    for qid, ts, _slop in qdefs:
        wcol: Column | None = None
        for t in ts:  # occurrence-order idf left fold (module docstring)
            idf = bm25_idf(F.col(f"_df_{tidx[t]}"), F.col("_n"))
            wcol = idf if wcol is None else wcol + idf
        wstructs.append(F.struct(F.lit(qid).alias("query_id"), wcol.alias("w")))
    weights = stats.select(
        F.col("_avgdl").alias("_avgdl_"),
        F.explode(F.array(*wstructs)).alias("s"),
    ).select(
        F.col("s.query_id").alias("query_id"),
        F.col("s.w").alias("w"),
        F.col("_avgdl_").alias("avgdl"),
    )
    # Scoring scan: materialize each query's infos array once per row,
    # then fold — the array column is evaluated a single time per row.
    # Round 7: a conjunctive array_contains gate skips the O(L * window)
    # anchor materialization for docs missing any phrase term (a doc
    # without every distinct term has no minimal cover) — the declarative
    # twin of the indexed intersection-then-verify discipline. A gated-out
    # doc's infos are NULL; the fold's `size > 0` guard already maps that
    # to frequency 0.0, exactly what the full scan would produce.
    def _cand_gate(ts: list[str]) -> Column:
        cond: Column | None = None
        for t in sorted(set(ts)):
            c = F.array_contains("toks", t)
            cond = c if cond is None else cond & c
        return cond

    scan = base.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            F.when(
                _cand_gate(ts),
                sloppy_anchor_infos_col(F.col("toks"), ts, slop),
            ).alias(f"_info_{qid}")
            for qid, ts, slop in qdefs
        ],
    )
    pf_structs = [
        F.struct(
            F.lit(qid).alias("query_id"),
            sloppy_freq_from_infos(F.col(f"_info_{qid}"), slop).alias("pf"),
        )
        for qid, _ts, slop in qdefs
    ]
    perdoc = (
        scan.select(
            "doc_id", "dl", F.explode(F.array(*pf_structs)).alias("s")
        )
        .select(
            "doc_id", "dl", F.col("s.query_id").alias("query_id"),
            F.col("s.pf").alias("pf"),
        )
        .where(F.col("pf") > 0)
    )
    return perdoc.join(F.broadcast(weights), "query_id").select(
        "query_id",
        "doc_id",
        (
            F.col("w")
            * bm25_tf_norm(F.col("pf"), F.col("dl"), F.col("avgdl"))
        ).alias("score"),
    )


def phrase_scores(
    corpus: DataFrame,
    queries: pd.DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    base: DataFrame | None = None,
) -> DataFrame:
    """Declarative phrase scoring: (query_id, doc_id, score) for every doc
    containing each phrase at least once.

    Plan shape (scale-first): TWO corpus scans total, both pure projections
    into tiny aggregates — scan 1 folds (N, avgdl, per-term df) into ONE
    row (df via array_contains, no explode, no shuffle of postings); scan 2
    projects per-doc phrase frequencies for ALL queries at once and
    explodes only the P-element struct array (P = #queries), keeping rows
    with pf > 0. The per-query weight joins back as a broadcast of P rows.
    """
    qs = _compile_phrases(queries)
    qdefs = [
        (qid, terms, (lambda toks, terms=terms: phrase_freq_col(toks, terms)))
        for qid, terms in qs
    ]
    return _pseudo_term_scores(corpus, qdefs, doc_id_col, text_col, base)


def near_scores(
    corpus: DataFrame,
    queries: pd.DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    base: DataFrame | None = None,
) -> DataFrame:
    """Proximity (NEAR) scoring: queries is a pandas frame with columns
    (query_id, term1, term2, slop). tf = the ordered within-slop pair
    count (near_freq_col), weight = idf(term1) + idf(term2) — the same
    pseudo-term contract as phrase_scores, so near(t1, t2, slop=0) is
    frame-identical to phrase [t1, t2] (test-pinned)."""
    qdefs = []
    for r in queries.itertuples(index=False):
        t1, t2, slop = str(r.term1), str(r.term2), int(r.slop)
        qdefs.append(
            (
                int(r.query_id),
                [t1, t2],
                (
                    lambda toks, t1=t1, t2=t2, slop=slop: near_freq_col(
                        toks, t1, t2, slop
                    )
                ),
            )
        )
    return _pseudo_term_scores(corpus, qdefs, doc_id_col, text_col, base)


def _pseudo_term_scores(
    corpus: DataFrame,
    qdefs: list[tuple[int, list, object]],
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    base: DataFrame | None = None,
) -> DataFrame:
    """Shared pseudo-term scorer: each query is (qid, weight_specs,
    pf_builder) where pf_builder(toks) -> per-doc frequency Column and the
    weight is the occurrence-order idf left fold over weight_specs. A spec
    is a plain term string (df = docs containing the term) or a
    ("prefix", p) pair (df = docs containing ANY term starting with p —
    the expanded last position of match_phrase_prefix as one pseudo-term)."""
    qs = [(qid, specs) for qid, specs, _fn in qdefs]
    if not qs:
        return (corpus if base is None else base).sparkSession.createDataFrame(
            [], "query_id INT, doc_id LONG, score DOUBLE"
        )
    if base is None:
        base = corpus.select(
            F.col(doc_id_col).cast("long").alias("doc_id"),
            tokenize_col(text_col).alias("toks"),
        )
    else:
        # Pre-tokenized corpus (term-vectors sidecar): both the stats scan
        # and the scoring scan read persisted token arrays instead of
        # re-tokenizing text.
        base = base.select("doc_id", "toks")

    def norm(spec) -> tuple[str, str]:
        return ("term", spec) if isinstance(spec, str) else tuple(spec)

    all_specs = sorted({norm(s) for _, specs in qs for s in specs})
    aggs = [
        F.count("*").cast("double").alias("_n"),
        F.avg(F.size("toks").cast("double")).alias("_avgdl"),
    ]
    for i, (kind, val) in enumerate(all_specs):
        if kind == "term":
            hit = F.array_contains("toks", val)
        else:  # prefix pseudo-term df: any token starts with val
            def _starts(p):
                # Factory keeps the HOF lambda unary (PySpark reads arity).
                return lambda t: t.startswith(F.lit(p))

            hit = F.exists("toks", _starts(val))
        aggs.append(F.sum(hit.cast("long")).alias(f"_df_{i}"))
    stats = base.agg(*aggs)
    tidx = {s: i for i, s in enumerate(all_specs)}
    wstructs = []
    for qid, specs in qs:
        w: Column | None = None
        for s in specs:  # occurrence-order left fold (see module docstring)
            idf = bm25_idf(F.col(f"_df_{tidx[norm(s)]}"), F.col("_n"))
            w = idf if w is None else w + idf
        wstructs.append(
            F.struct(F.lit(qid).alias("query_id"), w.alias("w"))
        )
    weights = stats.select(
        F.col("_avgdl").alias("_avgdl_"), F.explode(F.array(*wstructs)).alias("s")
    ).select(
        F.col("s.query_id").alias("query_id"),
        F.col("s.w").alias("w"),
        F.col("_avgdl_").alias("avgdl"),
    )
    def _gate(specs) -> Column | None:
        # Conjunctive candidate gate (round 7): a doc missing ANY plain
        # term of the phrase cannot match, so the expensive positional
        # projection is skipped for it — the declarative twin of the
        # indexed path's posting-intersection-then-verify discipline.
        # Prefix pseudo-terms are left to the projection itself (their
        # membership probe costs the same as the frequency scan).
        cond: Column | None = None
        for s in specs:
            kind, val = norm(s)
            if kind != "term":
                continue
            c = F.array_contains("toks", val)
            cond = c if cond is None else cond & c
        return cond

    def _pf(specs, pf_builder) -> Column:
        pf = pf_builder(F.col("toks"))
        g = _gate(specs)
        return pf if g is None else F.when(g, pf).otherwise(F.lit(0))

    pf_structs = [
        F.struct(
            F.lit(qid).alias("query_id"),
            _pf(specs, pf_builder).alias("pf"),
        )
        for qid, specs, pf_builder in qdefs
    ]
    perdoc = (
        base.select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            F.explode(F.array(*pf_structs)).alias("s"),
        )
        .select("doc_id", "dl", F.col("s.query_id").alias("query_id"),
                F.col("s.pf").alias("pf"))
        .where(F.col("pf") > 0)
    )
    return perdoc.join(F.broadcast(weights), "query_id").select(
        "query_id",
        "doc_id",
        (
            F.col("w")
            * bm25_tf_norm(F.col("pf"), F.col("dl"), F.col("avgdl"))
        ).alias("score"),
    )


def match_phrase_prefix_scores(
    corpus: DataFrame,
    queries: pd.DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    base: DataFrame | None = None,
) -> DataFrame:
    """match_phrase_prefix scoring: the query's last token is a PREFIX of
    the final phrase position (ES match_phrase_prefix / Lucene
    MultiPhraseQuery with an expanded last position). tf = the
    phrase-prefix start-position count (phrase_prefix_freq_col); weight =
    the occurrence-order idf fold over the exact terms plus ONE idf for
    the prefix pseudo-term, whose df counts docs containing any term with
    that prefix — the union posting list's df, which is what Lucene's
    UnionPostings exposes to the similarity. A single-token query
    degenerates to the pure prefix pseudo-term."""
    qdefs = []
    for r in queries.itertuples(index=False):
        toks = tokenize_text(r.query_text)
        if not toks:
            continue
        exact, prefix = toks[:-1], toks[-1]
        qdefs.append(
            (
                int(r.query_id),
                list(exact) + [("prefix", prefix)],
                (
                    lambda tk, exact=exact, prefix=prefix:
                    phrase_prefix_freq_col(tk, exact, prefix)
                ),
            )
        )
    return _pseudo_term_scores(corpus, qdefs, doc_id_col, text_col, base)


def _conjunction_docs(
    decoded: dict[str, tuple], terms: list[str]
) -> np.ndarray:
    """Sorted intersection of the terms' posting docID arrays (SURVEY §2.3).
    Empty when any term is absent from the segment."""
    uniq = sorted(set(terms))
    if any(t not in decoded for t in uniq):
        return np.empty(0, dtype=np.int64)
    # Intersect smallest-first: each step's cost is bounded by the current
    # (shrinking) candidate set.
    arrs = sorted((decoded[t][0] for t in uniq), key=len)
    cand = arrs[0]
    for a in arrs[1:]:
        if not len(cand):
            break
        cand = cand[np.isin(cand, a, assume_unique=True)]
    return cand.astype(np.int64, copy=False)


def _collect_conjunction(decoded, pdf, phrases, denied):
    """Per phrase: the live docs of the segment holding every phrase term
    (tombstoned docs are not candidates)."""
    for qid, ts in phrases.items():
        cand = _conjunction_docs(decoded, ts)
        yield qid, cand[_live_mask(denied, cand)]


def search_phrase(
    spark: SparkSession,
    index: IndexHandle,
    corpus: DataFrame,
    queries: pd.DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    toksed: DataFrame | None = None,
) -> DataFrame:
    """Index-served phrase scoring: (query_id, doc_id, score) — rank- and
    score-identical to phrase_scores on the same corpus.

    Phase 1 (index): per-segment conjunctive candidates via docID-sorted
    posting intersection — reads ONLY the phrase terms' posting rows
    (parquet term pushdown, same scan discipline as search()).
    Phase 2 (verify): candidates broadcast-join the stored text; the exact
    positional count runs on candidate rows only, and the weight reuses the
    index's persisted df (same integers the declarative path aggregates).

    Docs containing the phrase are a subset of docs containing all its
    terms, so verification can only shrink phase 1's output — never miss.
    """
    qs = _compile_phrases(queries)
    empty = spark.createDataFrame([], "query_id INT, doc_id LONG, score DOUBLE")
    if not qs:
        return empty
    weights, _ks, terms = _query_weights(spark, index, queries)
    if not terms:
        return empty
    # Only phrases whose EVERY term exists in the dict can match; their
    # weight is the occurrence-order idf fold over the dict dfs.
    n_docs = index.n_docs
    live: dict[int, list[str]] = {}
    wmap: dict[int, float] = {}
    for qid, ts in qs:
        if all(t in weights.get(qid, {}) for t in set(ts)):
            live[qid] = ts
            dfs = _dict_dfs(spark, index, sorted(set(ts)))
            # occurrence-order left fold (see module docstring)
            w = bm25_idf_py(dfs[ts[0]], n_docs)
            for t in ts[1:]:
                w += bm25_idf_py(dfs[t], n_docs)
            wmap[qid] = w
    if not live:
        return empty

    needed = sorted({t for ts in live.values() for t in ts})
    cands = scan_segments(
        spark, index, needed, _collect_conjunction,
        "query_id INT, doc_id LONG", live,
    )

    if toksed is None:
        docs = corpus.select(
            F.col(doc_id_col).cast("long").alias("doc_id"),
            tokenize_col(text_col).alias("toks"),
        )
    else:
        # Pre-tokenized stored text (term-vectors sidecar).
        docs = toksed.select("doc_id", "toks")
    # Candidate side is conjunction-sized (<= min-df over each phrase's
    # terms per query) — broadcast it so the corpus-side scan never
    # shuffles (the vector rerank's candidate-join discipline).
    joined = docs.join(F.broadcast(cands), "doc_id")
    pf: Column = F.lit(0)
    wcol: Column = F.lit(0.0)
    for qid, ts in live.items():
        cond = F.col("query_id") == qid
        pf = F.when(cond, phrase_freq_col(F.col("toks"), ts)).otherwise(pf)
        wcol = F.when(cond, F.lit(wmap[qid])).otherwise(wcol)
    return (
        joined.select(
            "query_id",
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            pf.alias("pf"),
            wcol.alias("w"),
        )
        .where(F.col("pf") > 0)
        .select(
            "query_id",
            "doc_id",
            (
                F.col("w")
                * bm25_tf_norm(F.col("pf"), F.col("dl"), F.lit(index.avgdl))
            ).alias("score"),
        )
    )


def _dict_dfs(
    spark: SparkSession, index: IndexHandle, terms: list[str]
) -> dict[str, int]:
    # Round 7: routed through the shared cost-switched dict lookup (small
    # dict -> one driver-side pyarrow load per process, invalidated by
    # merge rewrites; large dict -> distributed term-pruned scan). Replaces
    # a per-(index, terms) cache that never invalidated on merge.
    from .query import lookup_term_dfs

    return lookup_term_dfs(spark, index, terms)


def compile_boolean_clauses(
    bool_pdf, term_dfs: dict, n_docs: int
) -> dict:
    """Driver-side compile of the boolean clause tables (the
    _query_weights discipline, round 7): weighted = qtf*idf over the
    pooled must+should occurrences (absent terms dropped — the inner
    join's semantics), must = distinct must tokens (OOV terms INCLUDED so
    an OOV must term still empties the query via the n_must gate),
    must_not = distinct must_not tokens. bool_pdf columns:
    (query_id, must_text, should_text, must_not_text)."""
    from collections import Counter

    from ..functions.bm25 import bm25_idf_py

    weighted, must, n_must, must_not = [], [], [], []
    for r in bool_pdf.itertuples(index=False):
        qid = int(r.query_id)
        pooled = f"{r.must_text or ''} {r.should_text or ''}"
        for term, qtf in sorted(Counter(tokenize_text(pooled)).items()):
            df = term_dfs.get(term)
            if df is not None:
                weighted.append(
                    (qid, term, float(qtf) * bm25_idf_py(int(df), n_docs))
                )
        mt = sorted(set(tokenize_text(r.must_text or "")))
        for t in mt:
            must.append((qid, t))
        if mt:
            n_must.append((qid, len(mt)))
        for t in sorted(set(tokenize_text(r.must_not_text or ""))):
            must_not.append((qid, t))
    return {
        "weighted": weighted, "must": must, "n_must": n_must,
        "must_not": must_not,
    }


def boolean_scores(
    corpus: DataFrame,
    bool_queries: DataFrame,
    stats: CorpusStats | None = None,
    postings: DataFrame | None = None,
    term_df: DataFrame | None = None,
    compiled: dict | None = None,
) -> DataFrame:
    """Full BooleanQuery composition — must / should / must_not clauses
    (Lucene BooleanClause.Occur; the reference's `filter` clause wraps
    exactly these): (query_id, doc_id, score) where

      - the doc matches EVERY distinct `must` term,
      - the doc matches NO `must_not` term,
      - score = the standard BM25 sum over the doc's matched must+should
        term occurrences (must terms score too, Lucene MUST not FILTER;
        must_not contributes nothing).

    bool_queries: (query_id, must_text, should_text, must_not_text, k) —
    any clause text may be empty.

    Plan: ONE postings derivation feeds scoring, the must-count check and
    the must_not exclusion; the three clause tables are broadcasts, the
    must gate is one conditional count on the scoring groupBy (the msm
    machinery with per-query n_must), and must_not is a broadcast-built
    exclusion set applied left_anti — no corpus-keyed shuffle beyond the
    scoring aggregation itself.
    """
    from .score import resolve_corpus_state

    if compiled is not None:
        # Driver-compiled clause tables (compile_boolean_clauses): no
        # explode/groupBy/join subtrees, just literal broadcasts.
        if postings is None:
            postings = postings_df(corpus)
        if stats is None:
            stats = corpus_stats(corpus)
        persisted = None
        spark = postings.sparkSession
        weighted = spark.createDataFrame(
            compiled["weighted"], "query_id INT, term STRING, w DOUBLE"
        )
        n_must = spark.createDataFrame(
            compiled["n_must"], "query_id INT, _n_must LONG"
        )
        must_flag = spark.createDataFrame(
            compiled["must"], "query_id INT, term STRING"
        ).withColumn("_is_must", F.lit(1).cast("long"))
        must_not_lit = spark.createDataFrame(
            compiled["must_not"], "query_id INT, term STRING"
        )
    else:
        stats, postings, term_df, persisted = resolve_corpus_state(
            corpus, stats, postings, term_df
        )
        must_not_lit = None
    try:
        if compiled is None:
            # Scoring terms: must + should occurrences pooled into one qtf
            # table.
            scoring_q = bool_queries.select(
                "query_id",
                F.concat_ws(
                    " ",
                    F.coalesce("must_text", F.lit("")),
                    F.coalesce("should_text", F.lit("")),
                ).alias("query_text"),
            )
            qterms = query_terms_df(scoring_q)
            weighted = (
                qterms.join(term_df, "term")
                .withColumn("idf", bm25_idf(F.col("df"), float(stats.n_docs)))
                .select(
                    "query_id", "term",
                    (F.col("qtf") * F.col("idf")).alias("w"),
                )
            )
            must = query_terms_df(
                bool_queries.select(
                    "query_id", F.col("must_text").alias("query_text")
                )
            ).select("query_id", "term")
            n_must = must.groupBy("query_id").agg(
                F.count("*").cast("long").alias("_n_must")
            )
            must_flag = must.withColumn("_is_must", F.lit(1).cast("long"))
        scored = (
            postings.join(F.broadcast(weighted), "term")
            .join(F.broadcast(must_flag), ["query_id", "term"], "left")
            .select(
                "query_id",
                "doc_id",
                (
                    F.col("w")
                    * bm25_tf_norm(F.col("tf"), F.col("dl"), stats.avgdl)
                ).alias("contrib"),
                F.coalesce("_is_must", F.lit(0)).alias("_is_must"),
            )
        )
        agged = scored.groupBy("query_id", "doc_id").agg(
            F.sum("contrib").alias("score"),
            F.sum("_is_must").alias("_must_matched"),
        )
        # Queries with no must clause pass the gate with _n_must null -> 0.
        gated = (
            agged.join(F.broadcast(n_must), "query_id", "left")
            .where(
                F.col("_must_matched")
                >= F.coalesce("_n_must", F.lit(0).cast("long"))
            )
            .select("query_id", "doc_id", "score")
        )
        if must_not_lit is not None:
            must_not = must_not_lit
        else:
            must_not = query_terms_df(
                bool_queries.select(
                    "query_id", F.col("must_not_text").alias("query_text")
                )
            ).select("query_id", "term")
        excluded = (
            postings.join(F.broadcast(must_not), "term")
            .select("query_id", "doc_id")
            .distinct()
        )
        out = gated.join(excluded, ["query_id", "doc_id"], "left_anti")
        if persisted is not None:
            out._ojs_persisted = persisted
        return out
    except Exception:
        if persisted is not None:
            persisted.unpersist()
        raise


def msm_scores(
    corpus: DataFrame,
    queries: DataFrame,
    msm: dict[int, int],
    stats: CorpusStats | None = None,
    postings: DataFrame | None = None,
    term_df: DataFrame | None = None,
    weighted: DataFrame | None = None,
) -> DataFrame:
    """BM25 scoring with a minimum_should_match cut: (query_id, doc_id,
    score) for docs matching >= msm[query_id] DISTINCT query terms.

    Identical plan shape to score_all (operators/score.py) — the match
    count is one extra count on the SAME map-side-combined groupBy, and the
    msm cut is a broadcast-joined filter on the aggregated (small) rows, so
    the msm variant shuffles exactly the bytes the unfiltered query does.
    """
    spark = (corpus if corpus is not None else postings).sparkSession
    derived_postings = postings is None
    if postings is None:
        postings = postings_df(corpus)
    if stats is None:
        stats = corpus_stats(corpus)
    persisted = None
    if weighted is None:
        if term_df is None:
            if derived_postings:
                postings = persisted = postings.persist()
            term_df = postings.groupBy("term").agg(
                F.count("*").cast("long").alias("df")
            )
        qterms = query_terms_df(queries)
        weighted = (
            qterms.join(term_df, "term")
            .withColumn("idf", bm25_idf(F.col("df"), float(stats.n_docs)))
            .select(
                "query_id", "term", (F.col("qtf") * F.col("idf")).alias("w")
            )
        )
    scored = postings.join(F.broadcast(weighted), "term").select(
        "query_id",
        "doc_id",
        (
            F.col("w") * bm25_tf_norm(F.col("tf"), F.col("dl"), stats.avgdl)
        ).alias("contrib"),
    )
    agged = scored.groupBy("query_id", "doc_id").agg(
        F.sum("contrib").alias("score"),
        F.count("*").cast("long").alias("n_matched"),
    )
    msm_df = spark.createDataFrame(
        [(int(q), int(m)) for q, m in msm.items()], "query_id INT, _msm LONG"
    )
    out = (
        agged.join(F.broadcast(msm_df), "query_id")
        .where(F.col("n_matched") >= F.col("_msm"))
        .select("query_id", "doc_id", "score")
    )
    if persisted is not None:
        out._ojs_persisted = persisted
    return out


def compile_boosting_clauses(
    boosting_pdf, term_dfs: dict, n_docs: int
) -> dict:
    """Driver-side compile of the boosting clause tables: weighted =
    qtf*idf over the positive occurrences (absent terms dropped),
    neg = distinct negative tokens. boosting_pdf columns:
    (query_id, positive_text, negative_text)."""
    from collections import Counter

    from ..functions.bm25 import bm25_idf_py as _idf

    weighted, neg = [], []
    for r in boosting_pdf.itertuples(index=False):
        qid = int(r.query_id)
        for term, qtf in sorted(
            Counter(tokenize_text(r.positive_text or "")).items()
        ):
            df = term_dfs.get(term)
            if df is not None:
                weighted.append(
                    (qid, term, float(qtf) * _idf(int(df), n_docs))
                )
        for t in sorted(set(tokenize_text(r.negative_text or ""))):
            neg.append((qid, t))
    return {"weighted": weighted, "neg": neg}


def boosting_scores(
    corpus: DataFrame,
    boosting_queries: DataFrame,
    stats: CorpusStats | None = None,
    postings: DataFrame | None = None,
    term_df: DataFrame | None = None,
    compiled: dict | None = None,
) -> DataFrame:
    """Lucene BoostingQuery (the OpenSearch `boosting` query): the positive
    clause is scored normally; hits that ALSO match the negative clause
    (any negative term present) keep rank eligibility but are demoted to

        score = positive_score * negative_boost        (0 < boost < 1)

    — unlike must_not the negative clause never removes a hit, it only
    down-weights. boosting_queries: (query_id, positive_text,
    negative_text, negative_boost); returns (query_id, doc_id, score).

    Plan: one postings derivation feeds both sides — the positive BM25
    aggregation (score_all's plan) and the negative match set, which is a
    broadcast term join + distinct on match-sized rows; the demotion is a
    hit-sized left join. No corpus-keyed shuffle beyond the scoring
    aggregation.
    """
    from .score import resolve_corpus_state

    if compiled is not None:
        if postings is None:
            postings = postings_df(corpus)
        if stats is None:
            stats = corpus_stats(corpus)
        persisted = None
        spark = postings.sparkSession
        weighted = spark.createDataFrame(
            compiled["weighted"], "query_id INT, term STRING, w DOUBLE"
        )
        neg_lit = spark.createDataFrame(
            compiled["neg"], "query_id INT, term STRING"
        )
    else:
        stats, postings, term_df, persisted = resolve_corpus_state(
            corpus, stats, postings, term_df
        )
        neg_lit = None
    try:
        if compiled is None:
            pos_terms = query_terms_df(
                boosting_queries.select(
                    "query_id", F.col("positive_text").alias("query_text")
                )
            )
            weighted = (
                pos_terms.join(term_df, "term")
                .withColumn("idf", bm25_idf(F.col("df"), float(stats.n_docs)))
                .select(
                    "query_id", "term",
                    (F.col("qtf") * F.col("idf")).alias("w"),
                )
            )
        scored = (
            postings.join(F.broadcast(weighted), "term")
            .select(
                "query_id",
                "doc_id",
                (
                    F.col("w")
                    * bm25_tf_norm(F.col("tf"), F.col("dl"), stats.avgdl)
                ).alias("contrib"),
            )
            .groupBy("query_id", "doc_id")
            .agg(F.sum("contrib").alias("score"))
        )
        if neg_lit is not None:
            neg_terms = neg_lit
        else:
            neg_terms = query_terms_df(
                boosting_queries.select(
                    "query_id", F.col("negative_text").alias("query_text")
                )
            ).select("query_id", "term")
        neg_matched = (
            postings.join(F.broadcast(neg_terms), "term")
            .select("query_id", "doc_id")
            .distinct()
            .withColumn("_neg", F.lit(1))
        )
        boosts = boosting_queries.select(
            "query_id", F.col("negative_boost").cast("double").alias("_nb")
        )
        # neg_matched is bounded by sum(df) over the negative terms — can be
        # corpus-sized for a common negative term, so NOT broadcast: both
        # sides key on (query_id, doc_id) and AQE picks the strategy.
        out = (
            scored.join(neg_matched, ["query_id", "doc_id"], "left")
            .join(F.broadcast(boosts), "query_id")
            .select(
                "query_id",
                "doc_id",
                F.when(F.col("_neg").isNotNull(), F.col("score") * F.col("_nb"))
                .otherwise(F.col("score"))
                .alias("score"),
            )
        )
        if persisted is not None:
            out._ojs_persisted = persisted
        return out
    except Exception:
        if persisted is not None:
            persisted.unpersist()
        raise
