"""Index query path: batched BM25 over a built segment index.

Spark trace of the reference's search lifecycle (SURVEY.md §3.1): queries ->
broadcast corpus stats -> term-pruned postings scan -> per-segment collector
-> global reduce. `scan_segments` is the one per-segment search behind
every index-served query (JVectorReader.java:108-133: accepted-docs bits
plus a pluggable KnnCollector). It picks the merged or raw base, prunes
terms, applies the deleted set and decodes each segment once; the callers
differ only in their collector and their reduce (MaxScore top-k and
min-score here, gated full scoring in indexed_text, phrase conjunction in
phrase).

Scale properties:
- The postings scan is filtered by `term isin (query terms)` — a Parquet
  predicate pushdown, so a 100 TB index reads only the row groups containing
  query terms (plus dictionary pages). Same for the global dict lookup.
- Query weights/stats travel to executors as one small broadcast (the
  QuantizationStateCache analog).
- Per-segment top-k uses k' = k: exact for the global reduce (per-partition
  heaps -> union -> window rank), the ResultUtil.reduceToTopK shape.
- Pre-filter semantics: an optional set of allowed docIDs is applied inside
  the kernel (acceptDocs, JVectorReader.java:128), never after the heap —
  so a filtered query still returns k results when k matches exist.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..functions.bm25 import bm25_idf_py
from ..functions.tokenizer import tokenize_text
from .codec import decode_postings, decode_postings_batch
from .wand import maxscore_topk, minscore_all, term_upper_bound

RESULT_SCHEMA = "query_id INT, doc_id LONG, score DOUBLE"

# Mirror of the reference's K_MAX validation (KNNQueryBuilder.java:82,
# 254-257: k must be in (0, 10000]).
K_MAX = 10_000


@dataclass
class IndexHandle:
    index_dir: str
    n_docs: int
    avgdl: float
    n_segments: int

    @property
    def segments_path(self) -> str:
        return os.path.join(self.index_dir, "segments")

    @property
    def merged_path(self) -> str:
        return os.path.join(self.index_dir, "merged")

    @property
    def dict_path(self) -> str:
        return os.path.join(self.index_dir, "dict")

    def has_merged(self) -> bool:
        return os.path.exists(
            os.path.join(self.index_dir, "merged_manifest.json")
        )

    def deleted(self) -> "np.ndarray":
        """Sorted deleted docIDs (the liveDocs analog) — read fresh per
        call so a delete is visible to the next search on an existing
        handle, like a Lucene reader refresh."""
        from .deletes import deleted_docs

        return deleted_docs(self.index_dir)

    def merged_is_current(self) -> bool:
        """A merge is stale once streaming appends add segments it never
        saw; serving it would silently drop the new docs."""
        if not self.has_merged():
            return False
        with open(os.path.join(self.index_dir, "merged_manifest.json")) as f:
            manifest = json.load(f)
        from .build import committed_segments

        return set(manifest["input_segments"]) == set(
            committed_segments(self.index_dir)
        )


def load_index(index_dir: str) -> IndexHandle:
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    return IndexHandle(
        index_dir=index_dir,
        n_docs=int(stats["n_docs"]),
        avgdl=float(stats["avgdl"]),
        n_segments=int(stats["n_segments"]),
    )


# A dictionary below this total on-disk size is read driver-side with
# pyarrow instead of a Spark job (Lucene memory-maps the terms dict of a
# shard the same way; the env knob keeps the switch scale-configurable —
# a 100 TB index's vocabulary goes through the distributed scan).
DICT_DRIVER_MAX_BYTES = int(
    os.environ.get("OJS_DICT_DRIVER_BYTES", str(64 << 20))
)
# (dict_path) -> (fingerprint, term -> df). Fingerprint is (file names,
# sizes, mtimes), so a merge that rewrites the dict invalidates the entry.
_DICT_CACHE: dict[str, tuple[tuple, dict[str, int]]] = {}


def _dict_fingerprint(dict_path: str) -> tuple | None:
    try:
        names = sorted(
            n for n in os.listdir(dict_path) if n.endswith(".parquet")
        )
        stats = []
        total = 0
        for n in names:
            st = os.stat(os.path.join(dict_path, n))
            stats.append((n, st.st_size, st.st_mtime_ns))
            total += st.st_size
        return tuple(stats) if total <= DICT_DRIVER_MAX_BYTES else None
    except OSError:
        return None


def lookup_term_dfs(
    spark: SparkSession, index: IndexHandle, terms: list[str]
) -> dict[str, int]:
    """term -> global df from the persisted dictionary, for the terms that
    exist. Cost-switched (the FilterIdsSelector.java:78-109 discipline,
    round 7): a small dictionary is loaded once per process driver-side via
    pyarrow — no Spark job per query batch, the dominant fixed cost of the
    batched-query path (measured 0.46s of a 1.8s 200-query batch) — while a
    large dictionary keeps the distributed term-pruned scan."""
    fp = _dict_fingerprint(index.dict_path)
    if fp is not None:
        cached = _DICT_CACHE.get(index.dict_path)
        if cached is None or cached[0] != fp:
            import pyarrow.parquet as pq

            t = pq.read_table(index.dict_path, columns=["term", "df"])
            cached = (
                fp,
                dict(
                    zip(
                        t.column("term").to_pylist(),
                        (int(x) for x in t.column("df").to_pylist()),
                    )
                ),
            )
            _DICT_CACHE[index.dict_path] = cached
        full = cached[1]
        return {t: full[t] for t in terms if t in full}

    lookup = _filter_terms(spark, spark.read.parquet(index.dict_path), terms)
    return {
        r["term"]: int(r["df"]) for r in lookup.select("term", "df").collect()
    }


def _query_weights(
    spark: SparkSession, index: IndexHandle, queries: pd.DataFrame
) -> tuple[dict[int, dict[str, float]], dict[int, int], list[str]]:
    """Driver-side query compile: tokenize, global-df lookup (term-pruned
    dict scan), idf -> per-query term weights. Queries are small by contract
    (k <= K_MAX, few thousand queries) so this is cheap."""
    qtfs: dict[int, Counter] = {
        int(q.query_id): Counter(tokenize_text(q.query_text))
        for q in queries.itertuples(index=False)
    }
    ks = (
        {int(q.query_id): int(q.k) for q in queries.itertuples(index=False)}
        if "k" in queries.columns
        else {}
    )
    for qid, k in ks.items():
        if k <= 0 or k > K_MAX:
            raise ValueError(
                f"query {qid}: k must be in (0, {K_MAX}], got {k}"
            )
    all_terms = sorted({t for c in qtfs.values() for t in c})
    if not all_terms:
        return {qid: {} for qid in qtfs}, ks, []

    global_df = lookup_term_dfs(spark, index, all_terms)
    weights = {
        qid: {
            t: float(c) * bm25_idf_py(global_df[t], index.n_docs)
            for t, c in qtf.items()
            if t in global_df
        }
        for qid, qtf in qtfs.items()
    }
    present_terms = sorted({t for w in weights.values() for t in w})
    return weights, ks, present_terms


def _segment_granularity(
    spark: SparkSession, postings: DataFrame, index: IndexHandle,
    group_col: str,
) -> DataFrame:
    """Set the query-kernel stage's task granularity to ~one segment — but
    only when the index actually has more segments than the default shuffle
    layout can spread.

    Measured history (BENCH.md): with the default 2x-cores shuffle
    partitions, MANY segments (128) hash into few coarse tasks and the
    stage inherits multinomial imbalance (~0.63-0.68 scaling efficiency);
    an explicit hash repartition at segment count fixed that (0.92-0.99,
    363 QPS at local[8]). But unconditionally raising the count to
    2x-parallelism regressed the FEW-segment case ~9% at local[32]
    (BENCH_r02 query_qps 82.2 -> 74.7, an 8-segment index shattered into 64
    mostly-empty tasks and pinned past AQE coalescing). Parallelism on a
    few-segment index is capped at n_segments either way (one group = one
    kernel task), so the repartition only pays when n_segments is large
    relative to the parallelism — exactly the regime where it was measured
    to matter. The explicit repartition satisfies the groupBy's required
    distribution (no second exchange) and AQE honors the explicit count."""
    par = spark.sparkContext.defaultParallelism
    n_part = min(index.n_segments, 4096)
    if n_part >= 2 * par:
        return postings.repartition(n_part, group_col)
    return postings


def _filter_terms(spark: SparkSession, postings: DataFrame, terms) -> DataFrame:
    """Cardinality-switched term filter on the postings scan — the
    FilterIdsSelector.java:78-109 cost-model discipline, applied to the
    DRIVER this time: a small In() pushes into the parquet scan (row-group
    pruning), but CONSTRUCTING a multi-thousand-literal In() costs seconds
    of serial driver time (measured at 5000 terms: 3.3 s py4j literal
    conversion + 2.2 s optimizer InSet rewrite — BENCH.md round 4), a
    fixed cost that caps batched-query scaling efficiency no matter how
    many executors run the scan. Large term lists broadcast-join instead:
    one createDataFrame call, a broadcast hash join executor-side, and the
    postings never shuffle. The parquet range pushdown lost by not using
    In() is negligible for large lists (their min..max spans the scan)."""
    terms = list(terms)
    if len(terms) <= 64:
        return postings.where(F.col("term").isin(terms))
    terms_df = spark.createDataFrame([(t,) for t in terms], "term STRING")
    return postings.join(F.broadcast(terms_df), "term")


def decode_segment_postings(pdf: pd.DataFrame) -> dict[str, tuple]:
    """Decode one segment's (term-pruned) posting rows into
    term -> (doc_ids sorted asc, tfs, dls). Each term decodes once (terms
    are shared across the query batch); all-varint segments decode in ONE
    vectorized pass over the concatenated blobs."""
    decoded: dict[str, tuple] = {}
    codecs = (
        pdf["codec"].to_numpy()
        if "codec" in pdf.columns
        else np.ones(len(pdf), dtype=np.int64)
    )
    if (codecs == 1).all() and len(pdf):
        lists = decode_postings_batch(
            list(pdf["blob"]), pdf["df"].to_numpy(),
            pdf["checksum"].to_numpy(),
        )
        for term, dec in zip(pdf["term"], lists):
            decoded[term] = (dec.doc_ids, dec.tfs, dec.dls)
    else:
        for r in pdf.itertuples(index=False):
            dec = decode_postings(
                r.blob, int(r.df), int(r.tf_offset), int(r.dl_offset),
                int(r.checksum), codec=int(getattr(r, "codec", 1)),
            )
            decoded[r.term] = (dec.doc_ids, dec.tfs, dec.dls)
    return decoded


def _live_mask(denied: np.ndarray | None, doc_ids: np.ndarray) -> np.ndarray:
    """True for every docID not in the sorted deleted set (the liveDocs
    bits); `denied` is None when nothing is deleted."""
    if denied is None or not len(doc_ids):
        return np.ones(len(doc_ids), dtype=bool)
    pos = np.searchsorted(denied, doc_ids)
    pos[pos == len(denied)] = 0
    return denied[pos] != doc_ids


def scan_segments(
    spark: SparkSession,
    index: IndexHandle,
    terms: list[str],
    collect,
    schema: str,
    payload,
    use_merged: bool | None = None,
) -> DataFrame:
    """The per-segment search behind every index-served query.

    `use_merged`: None serves the merged index when it covers every
    committed segment (appends after a merge make it stale, and serving it
    would silently drop the new docs), True serves it or raises when it is
    stale, False serves the raw segments. The postings scan is pruned to
    `terms`, and `payload` rides one broadcast with the deleted set.
    `collect(decoded, pdf, payload, denied)` runs once per segment on the
    decoded postings and yields `(query_id, doc_ids, *values)` per query;
    the scan assembles those into one `schema` frame. The caller does the
    global reduce."""
    if use_merged is None:
        use_merged = index.merged_is_current()
    elif use_merged and not index.merged_is_current():
        raise ValueError(
            "merged index is stale: segments were appended after the last "
            "merge_segments(); re-merge or search with use_merged=False"
        )
    base = index.merged_path if use_merged else index.segments_path
    postings = _filter_terms(spark, spark.read.parquet(base), terms)
    postings = _segment_granularity(spark, postings, index, "seg_id")
    deleted = index.deleted()
    bc = spark.sparkContext.broadcast(
        (payload, deleted if len(deleted) else None)
    )
    empty = (
        to_arrow_schema(StructType.fromDDL(schema)).empty_table().to_pandas()
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        payload, denied = bc.value
        parts = list(
            collect(decode_segment_postings(pdf), pdf, payload, denied)
        )
        if not parts:
            return empty
        qids, *values = zip(*parts)
        cols = [np.repeat(np.asarray(qids, dtype=empty.dtypes.iloc[0]),
                          [len(d) for d in values[0]])]
        cols += [np.concatenate(v) for v in values]
        return pd.DataFrame(dict(zip(empty.columns, cols)))

    return postings.groupBy("seg_id").applyInPandas(kernel, schema)


def _weighted_terms(decoded, pdf, weights, avgdl):
    """Per query: the segment's postings of its terms, their weights and
    their MaxScore upper bounds. The idf-free bounds come from the block
    metadata once per segment and every query of the batch shares them."""
    ub_base = {
        t: term_upper_bound(
            1.0, np.asarray(btf, dtype=np.int64),
            np.asarray(bdl, dtype=np.int64), avgdl,
        )
        for t, btf, bdl in zip(
            pdf["term"], pdf["block_max_tf"], pdf["block_min_dl"]
        )
    }
    for qid, wmap in weights.items():
        tw = {t: w for t, w in wmap.items() if t in decoded}
        if tw:
            yield (qid, {t: decoded[t] for t in tw}, tw,
                   {t: w * ub_base[t] for t, w in tw.items()})


def _collect_topk(decoded, pdf, p, denied):
    """MaxScore top-k per query (the bounded-heap collector). One tf_norm
    cache per segment is shared by the whole batch."""
    norm_cache: dict[str, np.ndarray] = {}
    for qid, tp, tw, ubs in _weighted_terms(
        decoded, pdf, p["weights"], p["avgdl"]
    ):
        yield (qid, *maxscore_topk(
            tp, tw, ubs, p["ks"][qid], p["avgdl"], allowed=p["allowed"],
            tf_norm_cache=norm_cache, tie_epsilon=p["tie_epsilon"],
            denied=denied,
        ))


def _collect_min_score(decoded, pdf, p, denied):
    """Every doc scoring >= the query's min_score (the radial collector)."""
    norm_cache: dict[str, np.ndarray] = {}
    for qid, tp, tw, ubs in _weighted_terms(
        decoded, pdf, p["weights"], p["avgdl"]
    ):
        yield (qid, *minscore_all(
            tp, tw, ubs, p["min_score"][qid], p["avgdl"],
            allowed=p["allowed"], tf_norm_cache=norm_cache, denied=denied,
        ))


def search(
    spark: SparkSession,
    index: IndexHandle,
    queries: pd.DataFrame | DataFrame,
    allowed_docs: np.ndarray | None = None,
    use_merged: bool | None = None,
    tie_epsilon: float = 0.0,
) -> DataFrame:
    """Batched top-k: returns (query_id, rank, doc_id, score).

    `allowed_docs`: optional sorted int64 array of permitted docIDs applied
    to every query (pre-filter). Shipped as a Spark broadcast.
    `tie_epsilon`: when > 0, rows scoring within tie_epsilon of the k-th
    raw score are ALSO returned (rank > k). A caller that re-ranks on
    rounded scores needs epsilon = the rounding quantum so a rounded tie
    just outside the raw top-k is never lost to the raw cut.
    """
    if isinstance(queries, DataFrame):
        queries = queries.toPandas()
    weights, ks, _terms = _query_weights(spark, index, queries)
    return search_weighted(
        spark, index, weights, ks, allowed_docs=allowed_docs,
        use_merged=use_merged, tie_epsilon=tie_epsilon,
    )


def search_weighted(
    spark: SparkSession,
    index: IndexHandle,
    weights: dict[int, dict[str, float]],
    ks: dict[int, int],
    allowed_docs: np.ndarray | None = None,
    use_merged: bool | None = None,
    tie_epsilon: float = 0.0,
) -> DataFrame:
    """Top-k serving for PRE-COMPILED per-(query, term) weights — the tail
    of search() behind every multi-term rewrite: a fuzzy/prefix/wildcard/
    regexp expansion against the persisted dictionary compiles to exactly
    this weighted-disjunction form (Lucene's BlendedTermQuery after the
    TopTermsRewrite), and the MaxScore kernel serves it from the persisted
    postings without ever touching source text
    (JVectorReader.java:108-133 — the reference never rescans source data
    to serve a query). Returns (query_id, rank, doc_id, score)."""
    terms = sorted({t for w in weights.values() for t in w})
    if not terms:
        return spark.createDataFrame(
            [], "query_id INT, rank INT, doc_id LONG, score DOUBLE"
        )
    for qid, k in ks.items():
        if k <= 0 or k > K_MAX:
            raise ValueError(
                f"query {qid}: k must be in (0, {K_MAX}], got {k}"
            )
    allowed = (None if allowed_docs is None
               else np.sort(np.asarray(allowed_docs, dtype=np.int64)))
    per_segment = scan_segments(
        spark, index, terms, _collect_topk, RESULT_SCHEMA,
        {"weights": weights, "ks": ks, "avgdl": index.avgdl,
         "allowed": allowed, "tie_epsilon": tie_epsilon},
        use_merged=use_merged,
    )

    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    ks_df = spark.createDataFrame(
        [(int(q), int(k)) for q, k in ks.items()], "query_id INT, _k LONG"
    )
    ranked = per_segment.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).join(F.broadcast(ks_df), "query_id")
    if tie_epsilon > 0.0:
        # Epsilon-extended global cut (matching the kernel's): keep any row
        # within tie_epsilon of the query's k-th raw score too.
        kth = F.max(
            F.when(F.col("rank") == F.col("_k"), F.col("score"))
        ).over(W.partitionBy("query_id"))
        ranked = ranked.withColumn("_kth", kth)
        keep = (F.col("rank") <= F.col("_k")) | (
            F.col("score") >= F.col("_kth") - F.lit(tie_epsilon)
        )
    else:
        keep = F.col("rank") <= F.col("_k")
    return ranked.where(keep).select("query_id", "rank", "doc_id", "score")


def search_radial(
    spark: SparkSession,
    index: IndexHandle,
    queries: pd.DataFrame,
    k: int | None = None,
    max_distance: float | None = None,
    min_score: float | None = None,
    allowed_docs: np.ndarray | None = None,
    use_merged: bool | None = None,
) -> DataFrame:
    """Unified query-mode surface with the reference's exactly-one-of
    contract (KNNQueryBuilder.java:241-258: exactly one of k, max_distance,
    min_score must be set; KNNQueryBuilder.java:552-565 routes the radial
    modes).

    `queries` columns: query_id, query_text. The chosen mode applies to all
    queries in the batch. max_distance is translated to a score threshold
    via the SpaceType.scoreTranslation convention score = 1/(1 + distance),
    i.e. min_score = 1/(1 + max_distance); the radial kernel then prunes on
    the score exactly as min_score mode does.
    """
    n_set = sum(x is not None for x in (k, max_distance, min_score))
    if n_set != 1:
        raise ValueError(
            "exactly one of k, max_distance, min_score must be set "
            f"(got {n_set})"
        )
    q = queries.copy()
    if k is not None:
        q["k"] = int(k)
        return search(spark, index, q, allowed_docs=allowed_docs,
                      use_merged=use_merged)
    if max_distance is not None:
        if max_distance < 0:
            raise ValueError(f"max_distance must be >= 0, got {max_distance}")
        q["min_score"] = 1.0 / (1.0 + float(max_distance))
    else:
        if min_score <= 0:
            raise ValueError(f"min_score must be > 0, got {min_score}")
        q["min_score"] = float(min_score)
    return search_min_score(spark, index, q, allowed_docs=allowed_docs,
                            use_merged=use_merged)


def search_min_score(
    spark: SparkSession,
    index: IndexHandle,
    queries: pd.DataFrame,
    allowed_docs: np.ndarray | None = None,
    use_merged: bool | None = None,
) -> DataFrame:
    """Radial search: every doc scoring >= the query's min_score, ranked.

    The analog of the reference's max_distance/min_score query mode
    (RNNQueryFactory path, KNNQueryBuilder.java:552-565): no k heap, the
    score threshold itself prunes (θ0 = min_score in the MaxScore split).
    `queries` columns: query_id, query_text, min_score.
    """
    weights, _, terms = _query_weights(spark, index, queries)
    if not terms:
        return spark.createDataFrame(
            [], "query_id INT, rank INT, doc_id LONG, score DOUBLE"
        )
    ms = {
        int(q.query_id): float(q.min_score)
        for q in queries.itertuples(index=False)
    }
    allowed = (None if allowed_docs is None
               else np.sort(np.asarray(allowed_docs, dtype=np.int64)))
    per_segment = scan_segments(
        spark, index, terms, _collect_min_score, RESULT_SCHEMA,
        {"weights": weights, "min_score": ms, "avgdl": index.avgdl,
         "allowed": allowed},
        use_merged=use_merged,
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return per_segment.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).select("query_id", "rank", "doc_id", "score")
