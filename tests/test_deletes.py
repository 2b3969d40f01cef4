"""Soft deletes (operators/deletes.py) — the Lucene liveDocs contract:
immediate search-time filtering with stale stats, merge-time purge with
exact stats adjustment, idempotent re-merge; and the docID space and
stats across appends (deletable appended docs, unique docIDs after an
align build, live-only stats after a purge)."""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pytest
from pyspark.sql import functions as F

from opensearch_jvector_plugin_spark.functions.tokenizer import tokenize_text
from opensearch_jvector_plugin_spark.operators.build import (
    build_index,
    committed_segments,
)
from opensearch_jvector_plugin_spark.operators.deletes import (
    delete_docs,
    deleted_docs,
    pending_purge,
)
from opensearch_jvector_plugin_spark.operators.merge import merge_segments
from opensearch_jvector_plugin_spark.operators.query import (
    decode_segment_postings,
    load_index,
    search,
    search_min_score,
)
from opensearch_jvector_plugin_spark.oracle import build_oracle_index, oracle_topk
from opensearch_jvector_plugin_spark.sources.transcripts import reference_queries
from opensearch_jvector_plugin_spark.streaming.incremental import append_batch
from tests.test_bruteforce_rank_identity import assert_rank_identical


@pytest.fixture()
def built(spark, tiny_corpus_pdf, tmp_path):
    d = str(tmp_path / "delidx")
    build_index(spark.createDataFrame(tiny_corpus_pdf), d, seg_size=25)
    return d


def _q(k=20):
    from opensearch_jvector_plugin_spark.sources.transcripts import (
        reference_queries,
    )

    q = reference_queries(100).iloc[:1].copy()
    q["k"] = k
    return q[["query_id", "query_text", "k"]]


def test_delete_filters_immediately_with_stale_scores(spark, built):
    idx = load_index(built)
    before = search(spark, idx, _q()).toPandas()
    assert len(before) > 2
    victims = [int(before.iloc[0]["doc_id"]), int(before.iloc[2]["doc_id"])]
    out = delete_docs(built, victims)
    assert out["new"] == 2
    # Same handle — the deleted set is read fresh per search.
    after = search(spark, idx, _q()).toPandas()
    assert not set(victims) & set(after["doc_id"])
    # Stale-stats contract: surviving docs keep their EXACT scores, and
    # k still fills from live docs (next docs promoted, none dropped).
    b = before[~before["doc_id"].isin(victims)].reset_index(drop=True)
    a = after.set_index("doc_id")["score"]
    for r in b.itertuples(index=False):
        assert a[r.doc_id] == r.score
    assert len(after) == min(20, len(b) + 0) or len(after) >= len(b)


def test_delete_validation_and_idempotence(spark, built):
    with pytest.raises(ValueError, match="out of range"):
        delete_docs(built, [10_000])
    with pytest.raises(ValueError, match="negative"):
        delete_docs(built, [-1])
    delete_docs(built, [5, 6])
    out = delete_docs(built, [6, 7])
    assert out["deleted"] == 3 and out["new"] == 1
    assert list(deleted_docs(built)) == [5, 6, 7]


def test_radial_search_respects_deletes(spark, built):
    idx = load_index(built)
    base = _q()
    q = pd.DataFrame(
        [(0, base.iloc[0]["query_text"], 0.01)],
        columns=["query_id", "query_text", "min_score"],
    )
    before = search_min_score(spark, idx, q).toPandas()
    victim = int(before.iloc[0]["doc_id"])
    delete_docs(built, [victim])
    after = search_min_score(spark, idx, q).toPandas()
    assert victim not in set(after["doc_id"])
    assert len(after) == len(before) - 1


def test_merge_purges_and_is_idempotent(spark, built):
    idx = load_index(built)
    hits = search(spark, idx, _q()).toPandas()
    victims = [int(hits.iloc[0]["doc_id"]), int(hits.iloc[1]["doc_id"])]
    delete_docs(built, victims)
    with open(os.path.join(built, "stats.json")) as f:
        s0 = json.load(f)

    merge_segments(spark, load_index(built))
    assert len(pending_purge(built)) == 0
    assert list(deleted_docs(built)) == sorted(victims)  # filter kept
    with open(os.path.join(built, "stats.json")) as f:
        s1 = json.load(f)
    assert s1["n_docs"] == s0["n_docs"] - 2
    assert s1["max_doc"] == s0["n_docs"]  # docID space never shrinks
    assert s1["total_dl"] < s0["total_dl"]
    # The purged docs' postings are physically gone from the merged index
    # AND the dict df dropped for their terms.
    idx2 = load_index(built)
    merged = spark.read.parquet(idx2.merged_path)
    import opensearch_jvector_plugin_spark.operators.codec as codec

    for r in merged.collect():
        dec = codec.decode_postings(
            r["blob"], int(r["df"]), int(r["tf_offset"]),
            int(r["dl_offset"]), int(r["checksum"]), codec=int(r["codec"]),
        )
        assert not set(victims) & set(dec.doc_ids.tolist()), r["term"]
    # Serving from merged and from base segments agree (same live docs,
    # same post-purge stats).
    res_merged = search(spark, idx2, _q(), use_merged=True).toPandas()
    res_base = search(spark, idx2, _q(), use_merged=False).toPandas()
    pd.testing.assert_frame_equal(
        res_merged.sort_values(["rank"]).reset_index(drop=True),
        res_base.sort_values(["rank"]).reset_index(drop=True),
    )
    assert not set(victims) & set(res_merged["doc_id"])

    # Re-merge: pending is empty, stats untouched (idempotent).
    merge_segments(spark, load_index(built))
    with open(os.path.join(built, "stats.json")) as f:
        s2 = json.load(f)
    assert s2 == s1

    # New deletes after a purge still validate against the ORIGINAL
    # docID space.
    delete_docs(built, [int(s0["n_docs"]) - 1])
    with pytest.raises(ValueError, match="out of range"):
        delete_docs(built, [int(s0["n_docs"])])


def test_allowed_filter_composes_with_deletes(spark, built):
    idx = load_index(built)
    hits = search(spark, idx, _q()).toPandas()
    victim = int(hits.iloc[0]["doc_id"])
    allowed = np.asarray(sorted(hits["doc_id"].astype(int)), dtype=np.int64)
    delete_docs(built, [victim])
    res = search(spark, idx, _q(), allowed_docs=allowed).toPandas()
    assert victim not in set(res["doc_id"])
    assert set(res["doc_id"]) <= set(allowed.tolist())


def test_msm_boolean_respect_deletes(spark, built):
    """Round-7 fix: the gated full-scoring kernel (search_weighted_all
    behind search_msm / search_boolean) applies the liveDocs mask."""
    from opensearch_jvector_plugin_spark.operators.indexed_text import (
        search_boolean,
        search_msm,
    )

    idx = load_index(built)
    q = _q()[["query_id", "query_text"]]
    before = search_msm(spark, idx, q, msm={0: 1}).toPandas()
    assert len(before) > 2
    victims = sorted(before["doc_id"].astype(int).iloc[:2])
    delete_docs(built, victims)
    after = search_msm(spark, idx, q, msm={0: 1}).toPandas()
    assert not set(victims) & set(after["doc_id"])
    assert len(after) == len(before) - 2
    # Surviving docs keep their exact (stale-stats) scores.
    b = before.set_index("doc_id")["score"]
    for r in after.itertuples(index=False):
        assert b[r.doc_id] == r.score

    bq = pd.DataFrame(
        [(0, None, _q().iloc[0]["query_text"], None)],
        columns=["query_id", "must_text", "should_text", "must_not_text"],
    )
    bool_after = search_boolean(spark, idx, bq).toPandas()
    assert not set(victims) & set(bool_after["doc_id"])


def test_indexed_phrase_respects_deletes(spark, built, tiny_corpus_pdf):
    from opensearch_jvector_plugin_spark.functions.tokenizer import (
        tokenize_text,
    )
    from opensearch_jvector_plugin_spark.operators.phrase import search_phrase

    corpus = spark.createDataFrame(tiny_corpus_pdf)
    idx = load_index(built)
    # A phrase taken verbatim from doc 0 -> doc 0 is a guaranteed match.
    toks = tokenize_text(tiny_corpus_pdf.iloc[0]["text"])
    q = pd.DataFrame(
        [(0, f"{toks[0]} {toks[1]}", 50)],
        columns=["query_id", "query_text", "k"],
    )
    before = search_phrase(spark, idx, corpus, q).toPandas()
    assert 0 in set(before["doc_id"])
    delete_docs(built, [0])
    after = search_phrase(spark, idx, corpus, q).toPandas()
    assert 0 not in set(after["doc_id"])
    assert len(after) == len(before) - 1


def test_remerge_with_smaller_output_set_drops_stale_dirs(spark, built):
    """Round-7 fix: a merge whose output set is smaller than a previous
    merge's must remove the stale seg_id dirs (else the dict rebuild
    double-counts df/ctf and the merged scan reads duplicated postings)."""
    idx = load_index(built)
    n_segs = idx.n_segments
    assert n_segs >= 2
    merge_segments(spark, idx, fan_in=1)  # one output dir per input segment
    merged_dirs = {
        d for d in os.listdir(idx.merged_path) if d.startswith("seg_id=")
    }
    assert len(merged_dirs) == n_segs
    # Delete something so the second merge rebuilds the dict from merged.
    hits = search(spark, idx, _q()).toPandas()
    delete_docs(built, [int(hits.iloc[0]["doc_id"])])
    merge_segments(spark, load_index(built))  # fan_in=None -> ONE output
    remaining = {
        d for d in os.listdir(idx.merged_path) if d.startswith("seg_id=")
    }
    assert remaining == {"seg_id=0"}
    # Dict df equals the merged postings' df (no double counting).
    idx2 = load_index(built)
    merged_df = (
        spark.read.parquet(idx2.merged_path)
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .toPandas()
        .set_index("term")["df"]
    )
    dict_df = (
        spark.read.parquet(os.path.join(built, "dict"))
        .toPandas()
        .set_index("term")["df"]
    )
    assert merged_df.sort_index().equals(dict_df.sort_index().astype(merged_df.dtype))


def _append(spark, d, pdf, **kw):
    """append_batch the rows of `pdf` (it numbers them itself)."""
    append_batch(spark.createDataFrame(pdf.drop(columns=["doc_id"])), d, **kw)


def test_appended_doc_can_be_deleted(spark, small_corpus_pdf, tmp_path):
    """Appended docIDs start at the next segment boundary (100000 here), far
    above n_docs: the delete bound is the docID high-water mark, so an
    appended doc is deletable, and search honors the delete."""
    d = str(tmp_path / "appdel")
    base = small_corpus_pdf.iloc[:1000]
    build_index(spark.createDataFrame(base), d)  # one segment
    tail = small_corpus_pdf.iloc[1000:1100]
    _append(spark, d, tail)
    # append_batch numbers the batch in (conv_id, turn_idx) order from the
    # first docID of segment 1.
    corpus = pd.concat(
        [base, tail.assign(doc_id=100_000 + np.arange(len(tail)))]
    )
    victim = 100_005
    queries = pd.concat([
        reference_queries(2000),
        pd.DataFrame([(12, " ".join(tokenize_text(tail.iloc[5]["text"])[:3]),
                       10)], columns=["query_id", "query_text", "k"]),
    ]).astype({"query_id": np.int32})
    before = search(spark, load_index(d), queries).toPandas()
    assert victim in set(before["doc_id"])

    delete_docs(d, [victim])
    # Stale-stats contract: the deleted doc still counts in n_docs/df.
    live = set(corpus["doc_id"]) - {victim}
    want = oracle_topk(
        build_oracle_index(corpus), queries,
        filters={int(q): live for q in queries["query_id"]},
    )
    assert_rank_identical(search(spark, load_index(d), queries).toPandas(),
                          want)
    with pytest.raises(ValueError, match="out of range"):
        delete_docs(d, [100_000 + len(tail)])


def test_append_after_align_build_keeps_doc_ids_unique(
    spark, small_corpus_pdf, tmp_path
):
    """An align_partitions build numbers segments by partition, so its
    docIDs run past (max seg + 1) * seg_size; an append must start above
    the docID high-water mark instead."""
    d = str(tmp_path / "alignapp")
    base = small_corpus_pdf.iloc[:1000]
    build_index(spark.createDataFrame(base).repartition(2), d,
                align_partitions=True)
    assert len(committed_segments(d)) == 2
    _append(spark, d, small_corpus_pdf.iloc[1000:1300], seg_size=250)

    postings = ds.dataset(
        os.path.join(d, "segments"), format="parquet", partitioning="hive"
    ).to_table().to_pandas()
    per_seg = [
        np.unique(np.concatenate(
            [v[0] for v in decode_segment_postings(g).values()]
        ))
        for _sid, g in postings.groupby("seg_id")
    ]
    all_docs = np.concatenate(per_seg)
    assert len(all_docs) == len(np.unique(all_docs)) == 1300

    # The batch starts at ceil(max_doc / seg_size) * seg_size = 1000, so its
    # docIDs are the fixture's.
    queries = reference_queries(2000)
    want = oracle_topk(
        build_oracle_index(small_corpus_pdf.iloc[:1300]), queries
    )
    assert_rank_identical(search(spark, load_index(d), queries).toPandas(),
                          want)


def test_append_after_purging_merge_counts_live_docs(
    spark, small_corpus_pdf, tmp_path
):
    """Build 1,000, delete 50, merge (purge), append 100: stats and dfs
    cover the 1,050 live docs, not the purged ones again."""

    d = str(tmp_path / "purgeapp")
    base = small_corpus_pdf.iloc[:1000]
    build_index(spark.createDataFrame(base), d, seg_size=250)
    victims = list(range(0, 1000, 20))
    delete_docs(d, victims)
    merge_segments(spark, load_index(d))
    tail = small_corpus_pdf.iloc[1000:1100]
    _append(spark, d, tail, seg_size=250)

    oracle = build_oracle_index(
        pd.concat([base[~base["doc_id"].isin(victims)], tail])
    )
    with open(os.path.join(d, "stats.json")) as f:
        stats = json.load(f)
    assert stats["n_docs"] == oracle.n_docs == 1050
    assert stats["total_dl"] == sum(oracle.dl.values())
    assert stats["avgdl"] == pytest.approx(oracle.avgdl, rel=1e-12)
    assert stats["max_doc"] == 1100
    dict_df = spark.read.parquet(os.path.join(d, "dict")).toPandas()
    assert dict(zip(dict_df["term"], dict_df["df"].astype(int))) == oracle.df

    queries = reference_queries(2000)
    want = oracle_topk(oracle, queries)
    idx = load_index(d)
    assert not idx.merged_is_current()
    assert_rank_identical(search(spark, idx, queries).toPandas(), want)
    # A re-merge purges nothing new: stats stay, merged serving agrees.
    merge_segments(spark, load_index(d))
    with open(os.path.join(d, "stats.json")) as f:
        assert json.load(f) == stats
    assert_rank_identical(
        search(spark, load_index(d), queries, use_merged=True).toPandas(),
        want,
    )
