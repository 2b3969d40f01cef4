"""Index-served multi-term rewrites and boolean composition — the text
query surface (fuzzy / prefix / wildcard / regexp / minimum_should_match /
boolean must-should-must_not) answered ENTIRELY from the persisted index:
term expansion against the index's global dictionary, scoring from the
persisted postings. The corpus text is never re-tokenized (the reference
never rescans source data to serve a query — JVectorReader.java:108-133
reads the on-disk structure; the FST term dictionary backs Lucene's
MultiTermQuery expansion the same way the dict parquet does here).

Two serving tails, both fed by dictionary expansion:

- **Top-k weighted disjunction** (fuzzy/prefix/wildcard/regexp): the
  capped expansion compiles to per-(query, term) weights — exactly the
  form `search()` already serves — so these route through the MaxScore
  kernel (`query.search_weighted`) with upper-bound pruning intact.
- **Gated full scoring** (`search_weighted_all`): minimum_should_match
  and boolean queries need per-doc matched-term counts / must gates /
  must_not exclusion, which the top-k heap cannot carry. The kernel
  scores every doc matching >= 1 weighted term within each segment
  (docs never span segments, so the gates are segment-local facts) and
  applies the gates before emitting — output is match-sized, identical
  to the declarative operators' pre-ranking relation.

Scale shape: the dict scan is |V| rows with the query set broadcast; the
capped expansion is <= groups * max_expansions rows, collected driver-side
(the bounded-collect discipline of `_query_weights`) and broadcast into
the shared term-pruned segment scan (`query.scan_segments`), whose
collector here is the gated full scorer. Nothing corpus-sized ever
shuffles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenizer import tokenize_text
from .fuzzy import (
    MAX_EDITS,
    MAX_EXPANSIONS,
    fuzzy_expand,
    pattern_expand,
    prefix_expand,
    wildcard_to_like,
)
from .query import (
    IndexHandle,
    _live_mask,
    _query_weights,
    scan_segments,
    search_weighted,
)
from .score import query_terms_df
from .wand import _tf_norm_np

RESULT_SCHEMA = "query_id INT, doc_id LONG, score DOUBLE"


def _dict_df(spark: SparkSession, index: IndexHandle) -> DataFrame:
    """The persisted global term dictionary (term, df) — the FST analog."""
    return spark.read.parquet(index.dict_path).select("term", "df")


def _collect_weights(weighted: DataFrame) -> dict[int, dict[str, float]]:
    """Bounded collect of a capped expansion: two query terms expanding to
    the SAME dict term sum their weights (the postings join in the
    declarative path contributes once per expansion row; w1*norm + w2*norm
    == (w1+w2)*norm, so the summed weight is contribution-identical)."""
    rows = (
        weighted.groupBy("query_id", "term")
        .agg(F.sum("w").alias("w"))
        .collect()
    )
    out: dict[int, dict[str, float]] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), {})[r["term"]] = float(r["w"])
    return out


def _queries_sdf(spark: SparkSession, queries: pd.DataFrame) -> DataFrame:
    return spark.createDataFrame(
        queries[["query_id", "query_text"]],
        "query_id INT, query_text STRING",
    )


def search_fuzzy(
    spark: SparkSession,
    index: IndexHandle,
    queries: pd.DataFrame,
    max_edits: int = MAX_EDITS,
    max_expansions: int = MAX_EXPANSIONS,
    tie_epsilon: float = 0.0,
) -> DataFrame:
    """Index-served FuzzyQuery: dictionary expansion (capped, boost-ranked)
    + MaxScore top-k from persisted postings. queries: (query_id,
    query_text, k). Rank/score-identical to fuzzy_scores + top-k on the
    same corpus (the dict's df ARE the corpus dfs by construction)."""
    qterms = query_terms_df(_queries_sdf(spark, queries))
    weighted = fuzzy_expand(
        qterms, _dict_df(spark, index), float(index.n_docs),
        max_edits, max_expansions,
    )
    ks = {int(q.query_id): int(q.k) for q in queries.itertuples(index=False)}
    return search_weighted(
        spark, index, _collect_weights(weighted), ks,
        tie_epsilon=tie_epsilon,
    )


def search_prefix(
    spark: SparkSession,
    index: IndexHandle,
    queries: pd.DataFrame,
    max_expansions: int = MAX_EXPANSIONS,
    tie_epsilon: float = 0.0,
) -> DataFrame:
    """Index-served PrefixQuery under the scoring-boolean rewrite."""
    qterms = query_terms_df(_queries_sdf(spark, queries))
    weighted = prefix_expand(
        qterms, _dict_df(spark, index), float(index.n_docs), max_expansions
    )
    ks = {int(q.query_id): int(q.k) for q in queries.itertuples(index=False)}
    return search_weighted(
        spark, index, _collect_weights(weighted), ks,
        tie_epsilon=tie_epsilon,
    )


def _search_pattern(
    spark: SparkSession,
    index: IndexHandle,
    pats: list[tuple[int, str]],
    ks: dict[int, int],
    match_builder,
    max_expansions: int,
    tie_epsilon: float,
) -> DataFrame:
    weighted = pattern_expand(
        _dict_df(spark, index), float(index.n_docs), pats, match_builder,
        max_expansions=max_expansions,
    )
    return search_weighted(
        spark, index, _collect_weights(weighted), ks,
        tie_epsilon=tie_epsilon,
    )


def search_wildcard(
    spark: SparkSession,
    index: IndexHandle,
    pats: list[tuple[int, str]],
    ks: dict[int, int],
    max_expansions: int = MAX_EXPANSIONS,
    tie_epsilon: float = 0.0,
) -> DataFrame:
    """Index-served WildcardQuery: one dict scan projects every pattern."""
    like_pats = [(qid, wildcard_to_like(p)) for qid, p in pats]
    return _search_pattern(
        spark, index, like_pats, ks, lambda term, p: term.like(p),
        max_expansions, tie_epsilon,
    )


def search_regexp(
    spark: SparkSession,
    index: IndexHandle,
    pats: list[tuple[int, str]],
    ks: dict[int, int],
    max_expansions: int = MAX_EXPANSIONS,
    tie_epsilon: float = 0.0,
) -> DataFrame:
    """Index-served RegexpQuery (anchored whole-term match)."""
    return _search_pattern(
        spark, index, list(pats), ks,
        lambda term, p: term.rlike(f"^(?:{p})$"),
        max_expansions, tie_epsilon,
    )


def search_weighted_all(
    spark: SparkSession,
    index: IndexHandle,
    weights: dict[int, dict[str, float]],
    msm: dict[int, int] | None = None,
    must: dict[int, list[str]] | None = None,
    n_must: dict[int, int] | None = None,
    must_not: dict[int, list[str]] | None = None,
    use_merged: bool | None = None,
) -> DataFrame:
    """Gated full scoring from the persisted index: (query_id, doc_id,
    score) for every doc matching >= 1 weighted term AND passing the
    per-query gates —

      msm[qid]:      doc must match >= msm distinct weighted terms
      must[qid]:     doc must match ALL of these terms; n_must[qid] is the
                     required count (counts OOV must terms too, so an OOV
                     must term correctly empties the query)
      must_not[qid]: doc must match NONE of these terms

    Docs live in exactly one segment, so every gate is a segment-local
    fact and the kernel applies them before emitting — the exchange
    carries only gated survivors. This is the radial-search output
    contract (all qualifying docs, unranked); rank with the caller's
    window exactly like minscore results.
    """
    score_terms = sorted({t for w in weights.values() for t in w})
    if not score_terms:
        return spark.createDataFrame([], RESULT_SCHEMA)
    extra_terms = sorted(
        {t for ts in (must_not or {}).values() for t in ts} - set(score_terms)
    )
    return scan_segments(
        spark, index, score_terms + extra_terms, _collect_gated,
        RESULT_SCHEMA,
        {"w": weights, "msm": msm or {}, "must": must or {},
         "n_must": n_must or {}, "must_not": must_not or {},
         "avgdl": index.avgdl},
        use_merged=use_merged,
    )


def _collect_gated(decoded, pdf, q, denied):
    """Every segment doc matching >= 1 weighted term, scored, then gated.
    The liveDocs mask is a keep-gate, NOT a shrink of cand: the scoring
    and must searchsorted calls rely on every term's doc list being
    ⊆ cand."""
    avgdl = q["avgdl"]
    norm_cache: dict[str, np.ndarray] = {}

    def norm_of(t: str) -> np.ndarray:
        arr = norm_cache.get(t)
        if arr is None:
            _doc, tf, dl = decoded[t]
            arr = _tf_norm_np(tf, dl, avgdl)
            norm_cache[t] = arr
        return arr

    for qid, wmap in q["w"].items():
        present = [t for t in sorted(wmap) if t in decoded]
        if not present:
            continue
        cand = np.unique(np.concatenate([decoded[t][0] for t in present]))
        scores = np.zeros(len(cand), dtype=np.float64)
        nmatch = np.zeros(len(cand), dtype=np.int64)
        for t in present:
            doc = decoded[t][0]
            pos = np.searchsorted(cand, doc)  # doc ⊆ cand
            np.add.at(scores, pos, wmap[t] * norm_of(t))
            nmatch[pos] += 1
        keep = _live_mask(denied, cand)
        if qid in q["msm"]:
            keep &= nmatch >= q["msm"][qid]
        req = q["n_must"].get(qid, 0)
        if req:
            mcount = np.zeros(len(cand), dtype=np.int64)
            for t in q["must"].get(qid, ()):
                if t in decoded:
                    # must ⊆ scoring terms, so doc ⊆ cand here too.
                    mcount[np.searchsorted(cand, decoded[t][0])] += 1
            keep &= mcount >= req
        for t in q["must_not"].get(qid, ()):
            if t in decoded:
                # Exclude cand docs present in the must_not posting
                # list (sorted-array membership, the createBits shape).
                doc = decoded[t][0]
                m = np.searchsorted(doc, cand)
                m_c = np.minimum(m, len(doc) - 1)
                keep &= ~(doc[m_c] == cand)
        yield qid, cand[keep], scores[keep]


def search_msm(
    spark: SparkSession,
    index: IndexHandle,
    queries: pd.DataFrame,
    msm: dict[int, int],
) -> DataFrame:
    """Index-served minimum_should_match: BM25 scoring restricted to docs
    matching >= msm[query_id] DISTINCT query terms — frame-identical to
    msm_scores pre-ranking. queries: (query_id, query_text)."""
    weights = _query_weights(spark, index, queries)[0]
    return search_weighted_all(spark, index, weights, msm=msm)


def search_boolean(
    spark: SparkSession,
    index: IndexHandle,
    bool_queries: pd.DataFrame,
) -> DataFrame:
    """Index-served BooleanQuery must/should/must_not — frame-identical to
    boolean_scores pre-ranking. bool_queries: (query_id, must_text,
    should_text, must_not_text)."""
    pooled = bool_queries.assign(
        query_text=(
            bool_queries["must_text"].fillna("")
            + " "
            + bool_queries["should_text"].fillna("")
        )
    )[["query_id", "query_text"]]
    weights = _query_weights(spark, index, pooled)[0]
    must: dict[int, list[str]] = {}
    n_must: dict[int, int] = {}
    must_not: dict[int, list[str]] = {}
    for r in bool_queries.itertuples(index=False):
        qid = int(r.query_id)
        mt = sorted(set(tokenize_text(r.must_text or "")))
        if mt:
            must[qid] = mt
            n_must[qid] = len(mt)
        nt = sorted(set(tokenize_text(r.must_not_text or "")))
        if nt:
            must_not[qid] = nt
    return search_weighted_all(
        spark, index, weights, must=must, n_must=n_must, must_not=must_not
    )

