"""Streaming incremental append + multimodal plumbing tests."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from opensearch_jvector_plugin_spark.operators.build import (
    build_index,
    committed_segments,
)
from opensearch_jvector_plugin_spark.operators.multimodal import (
    decode_image,
    extract_metadata,
    frame_sample,
    image_features,
    synthesize_assets,
)
from opensearch_jvector_plugin_spark.operators.query import load_index, search
from opensearch_jvector_plugin_spark.oracle import build_oracle_index, oracle_topk
from opensearch_jvector_plugin_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    reference_queries,
)
from opensearch_jvector_plugin_spark.streaming.incremental import (
    append_batch,
    start_index_stream,
)
from tests.test_bruteforce_rank_identity import assert_rank_identical


def test_streaming_append_matches_batch_build(spark, small_corpus_pdf, tmp_path):
    """Two micro-batches arriving in conv order == one batch build:
    same segments discipline, rank-identical query results."""
    pdf = small_corpus_pdf
    seg_size = 250

    stream_idx = str(tmp_path / "stream_idx")
    b1 = spark.createDataFrame(pdf.iloc[:1000].drop(columns=["doc_id"]))
    b2 = spark.createDataFrame(pdf.iloc[1000:].drop(columns=["doc_id"]))
    append_batch(b1, stream_idx, seg_size=seg_size)
    stats1 = committed_segments(stream_idx)
    assert len(stats1) == 4
    append_batch(b2, stream_idx, seg_size=seg_size)
    assert len(committed_segments(stream_idx)) == 8

    queries = reference_queries(2000)
    want = oracle_topk(build_oracle_index(pdf), queries)
    got = search(spark, load_index(stream_idx), queries).toPandas()
    assert_rank_identical(got, want)


def test_streaming_big_batch_multipartition(spark, small_corpus_pdf, tmp_path):
    """A catch-up replay can make one micro-batch many segments big: the
    docID assignment must stay multi-partition (offsets method) and still
    produce the contract ids — rank-identical results to the batch build."""
    pdf = small_corpus_pdf
    d = str(tmp_path / "bigbatch")
    batch = spark.createDataFrame(pdf.drop(columns=["doc_id"])).repartition(8)
    append_batch(batch, d, seg_size=250)
    assert len(committed_segments(d)) == 8

    queries = reference_queries(2000)
    want = oracle_topk(build_oracle_index(pdf), queries)
    got = search(spark, load_index(d), queries).toPandas()
    assert_rank_identical(got, want)


def test_streaming_file_source(spark, small_corpus_pdf, tmp_path):
    """End-to-end Structured Streaming: files appear -> segments appended."""
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    spark.createDataFrame(
        small_corpus_pdf.iloc[:600].drop(columns=["doc_id"])
    ).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(
        small_corpus_pdf.iloc[600:1200].drop(columns=["doc_id"])
    ).coalesce(1).write.mode("append").parquet(in_dir)

    idx_dir = str(tmp_path / "sidx")
    q = start_index_stream(
        spark, in_dir, idx_dir, TRANSCRIPT_SCHEMA,
        checkpoint_dir=str(tmp_path / "ckpt"), seg_size=300,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert os.path.exists(os.path.join(idx_dir, "stats.json"))
    idx = load_index(idx_dir)
    assert idx.n_docs == 1200
    res = search(spark, idx, reference_queries(1200).iloc[:3]).toPandas()
    assert len(res) > 0


def test_multimodal_plumbing(spark):
    assets = synthesize_assets(spark, 30)
    meta = extract_metadata(assets).toPandas().sort_values("asset_id")
    assert len(meta) == 30
    # Magic sniffing agrees with declared kind on synthetic assets —
    # which are now REAL files (PPM / PCM WAV / Y4M).
    assert (meta["kind_declared"] == meta["kind_detected"]).all()
    assert (meta["n_bytes"] > 8).all()

    # Real image features over the image assets only (ids % 3 == 0).
    feats = image_features(assets).toPandas()
    assert len(feats) == 10
    assert all(len(f) == 8 for f in feats["features"])
    # Luma statistics land in sane ranges (real decode, not a hash fake).
    first = [list(f) for f in feats.sort_values("asset_id")["features"]]
    assert all(0.0 <= f[0] <= 1.0 and 0.0 <= f[1] <= 0.5 for f in first)
    # Deterministic across evaluations.
    feats2 = image_features(assets).toPandas()
    b = [list(f) for f in feats2.sort_values("asset_id")["features"]]
    assert first == b

    # Real frame sampling: synth videos run 10 fps, nf = 2 + id % 5
    # frames -> duration nf*100 ms -> nf samples at every_ms=100, with
    # REAL frame indexes and 4x4 luma thumbnails.
    frames = frame_sample(assets, every_ms=100).toPandas()
    n_videos = (meta["kind_declared"] == "video").sum()
    assert frames["asset_id"].nunique() == n_videos
    assert (frames["offset_ms"] % 100 == 0).all()
    assert (frames["frame_idx"] == frames["offset_ms"] // 100).all()
    assert all(len(t) == 16 for t in frames["thumb"])
    assert all(0 <= x <= 255 for t in frames["thumb"] for x in t)
    per_video = frames.groupby("asset_id").size()
    for aid, cnt in per_video.items():
        assert cnt == 2 + aid % 5

    # The legacy fake stub still runs (plumbing without decodable bytes).
    fake_pixels = decode_image(assets, fake=True).toPandas()
    assert all(len(p) == 16 for p in fake_pixels["pixels"])

    # REAL decode works WITHOUT Pillow on the native formats.
    real_pixels = decode_image(assets, fake=False).toPandas()
    assert len(real_pixels) == 10
    assert all(len(p) == 16 for p in real_pixels["pixels"])
    assert all(0 <= x <= 255 for p in real_pixels["pixels"] for x in p)


def test_audio_features_real(spark):
    """WAV decode is real: duration matches the synthesized length and the
    spectral centroid sits between the two mixed sine frequencies."""
    from opensearch_jvector_plugin_spark.operators.multimodal import (
        audio_features,
    )

    assets = synthesize_assets(spark, 30)
    af = audio_features(assets).toPandas().sort_values("asset_id")
    assert len(af) == 10  # ids % 3 == 1
    for r in af.itertuples(index=False):
        i = int(r.asset_id)
        want_dur = 0.25 + (i % 4) * 0.25
        assert abs(r.duration_s - want_dur) < 1e-6
        f0 = 220.0 * (1 + (i % 6))
        assert f0 * 0.5 < r.centroid_hz < f0 * 2.5, (i, f0, r.centroid_hz)
        assert 0.2 < r.rms < 0.6
        assert 0.0 < r.peak <= 0.71


def test_image_phash_real(spark):
    """The DCT pHash is a real content hash: identical images collide,
    structurally different synth images do not all collide."""
    from opensearch_jvector_plugin_spark.operators.multimodal import (
        image_phash,
    )

    assets = synthesize_assets(spark, 30)
    ph = image_phash(assets).toPandas().sort_values("asset_id")
    assert len(ph) == 10
    ph2 = image_phash(assets).toPandas().sort_values("asset_id")
    assert list(ph["phash"]) == list(ph2["phash"])
    assert ph["phash"].nunique() > 1


def test_decode_unknown_format_raises_without_pil(spark):
    """A compressed format (PNG) without Pillow still fails honestly with
    the install hint — the numpy codecs only cover PPM/BMP."""
    from opensearch_jvector_plugin_spark.operators.multimodal import (
        ASSET_SCHEMA,
        _pil_image,
    )

    if _pil_image() is not None:
        pytest.skip("Pillow installed; the fallback covers PNG here")
    pdf = pd.DataFrame(
        {
            "asset_id": [1],
            "kind": ["image"],
            "payload": [bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)],
            "width": [8],
            "height": [8],
            "duration_ms": [None],
        }
    )
    assets = spark.createDataFrame(pdf, ASSET_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError|PIL"):
        decode_image(assets, fake=False).collect()


def test_decode_image_real_with_pil(spark):
    """Real decode path: runs only when Pillow is installed (skips with
    reason otherwise — no imaging libs in this dev container). A genuine
    PNG payload must decode to the 4x4 grayscale thumbnail."""
    pytest.importorskip(
        "PIL", reason="Pillow not installed; real decode path needs it"
    )
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (32, 32), (200, 10, 10)).save(buf, format="PNG")
    pdf = pd.DataFrame(
        {
            "asset_id": [1],
            "kind": ["image"],
            "payload": [bytearray(buf.getvalue())],
            "width": [32],
            "height": [32],
            "duration_ms": [None],
        }
    )
    from opensearch_jvector_plugin_spark.operators.multimodal import (
        ASSET_SCHEMA,
    )

    assets = spark.createDataFrame(pdf, ASSET_SCHEMA)
    out = decode_image(assets, fake=False).toPandas()
    assert len(out) == 1
    assert len(out["pixels"][0]) == 16
    # A uniform red image converts to a uniform grayscale value.
    assert len(set(out["pixels"][0])) == 1


def test_build_and_merge_write_metrics(spark, tiny_corpus_pdf, tmp_path):
    from opensearch_jvector_plugin_spark.operators.merge import merge_segments
    from opensearch_jvector_plugin_spark.operators.query import load_index
    from opensearch_jvector_plugin_spark.plans.metrics import read_metrics

    d = str(tmp_path / "midx")
    build_index(spark.createDataFrame(tiny_corpus_pdf), d, seg_size=40)
    merge_segments(spark, load_index(d))
    recs = read_metrics(d)
    jobs = [r["job"] for r in recs]
    assert jobs == ["build", "merge"]
    assert recs[0]["n_docs"] == 100
    assert recs[1]["inputs"] == 3


def test_stale_merge_detected_after_append(spark, small_corpus_pdf, tmp_path):
    """Appending segments after a merge must not silently serve the stale
    merged index: auto mode falls back to raw segments (results include
    the new docs); explicit use_merged=True raises."""
    import pytest as _pytest

    from opensearch_jvector_plugin_spark.operators.merge import merge_segments
    from opensearch_jvector_plugin_spark.oracle import oracle_topk

    d = str(tmp_path / "stale")
    b1 = spark.createDataFrame(small_corpus_pdf.iloc[:1000].drop(columns=["doc_id"]))
    append_batch(b1, d, seg_size=250)
    merge_segments(spark, load_index(d))

    b2 = spark.createDataFrame(small_corpus_pdf.iloc[1000:].drop(columns=["doc_id"]))
    append_batch(b2, d, seg_size=250)

    idx = load_index(d)
    assert idx.has_merged() and not idx.merged_is_current()

    queries = reference_queries(2000).iloc[:5]
    got = search(spark, idx, queries).toPandas()  # auto -> raw segments
    want = oracle_topk(build_oracle_index(small_corpus_pdf), queries)
    from tests.test_bruteforce_rank_identity import assert_rank_identical
    assert_rank_identical(got, want)

    with _pytest.raises(ValueError, match="stale"):
        search(spark, idx, queries, use_merged=True).count()

    # Radial search must apply the same staleness discipline (it previously
    # auto-served any merged index via has_merged(), dropping appended docs).
    from opensearch_jvector_plugin_spark.operators.query import search_min_score
    from opensearch_jvector_plugin_spark.oracle import oracle_radial

    rq = queries.iloc[:2].drop(columns=["k"]).assign(min_score=1.0)
    got_r = search_min_score(spark, idx, rq).toPandas()  # auto -> raw segments
    want_r = oracle_radial(build_oracle_index(small_corpus_pdf), rq)
    assert_rank_identical(got_r, want_r)
    with _pytest.raises(ValueError, match="stale"):
        search_min_score(spark, idx, rq, use_merged=True).count()

    # Gated full scoring and the indexed phrase serve through the same
    # segment scan: auto mode falls back to the raw segments (so an
    # appended doc's own phrase finds it) and matches the declarative twin.
    from opensearch_jvector_plugin_spark.functions.tokenizer import (
        tokenize_text,
    )
    from opensearch_jvector_plugin_spark.operators.indexed_text import (
        search_msm,
        search_weighted_all,
    )
    from opensearch_jvector_plugin_spark.operators.phrase import (
        msm_scores,
        phrase_scores,
        search_phrase,
    )

    def norm(pdf):
        pdf = pdf[["query_id", "doc_id", "score"]].astype(
            {"query_id": np.int64, "doc_id": np.int64}
        )
        return (pdf.assign(score=pdf["score"].round(6))
                .sort_values(["query_id", "doc_id"]).reset_index(drop=True))

    corpus = spark.createDataFrame(small_corpus_pdf)
    toks = tokenize_text(small_corpus_pdf.iloc[1500]["text"])
    tq = pd.DataFrame([(0, f"{toks[0]} {toks[1]}", 10)],
                      columns=["query_id", "query_text", "k"])
    got_p = norm(search_phrase(spark, idx, corpus, tq).toPandas())
    assert 1500 in set(got_p["doc_id"])
    pd.testing.assert_frame_equal(
        got_p, norm(phrase_scores(corpus, tq).toPandas())
    )
    mq = tq[["query_id", "query_text"]]
    got_m = norm(search_msm(spark, idx, mq, {0: 2}).toPandas())
    assert 1500 in set(got_m["doc_id"])
    pd.testing.assert_frame_equal(
        got_m,
        norm(msm_scores(
            corpus,
            spark.createDataFrame(mq, "query_id INT, query_text STRING"),
            {0: 2},
        ).toPandas()),
    )
    with _pytest.raises(ValueError, match="stale"):
        search_weighted_all(
            spark, idx, {0: {toks[0]: 1.0}}, use_merged=True
        ).count()

    # Re-merging restores merged serving.
    merge_segments(spark, load_index(d))
    got2 = search(spark, load_index(d), queries, use_merged=True).toPandas()
    assert_rank_identical(got2, want)


def test_streaming_epoch_exactly_once(spark, small_corpus_pdf, tmp_path):
    """Round 4: the epoch journal makes append_batch exactly-once under
    every foreachBatch re-delivery scenario — full re-delivery is a no-op,
    and a partial-crash retry COMPLETES the crashed attempt at the same
    segment ids instead of duplicating the batch at new ones (the failure
    the bare manifest-resume could not prevent)."""
    import glob
    import json

    from opensearch_jvector_plugin_spark.streaming.incremental import (
        _read_stream_log,
        _write_stream_log,
    )

    pdf = small_corpus_pdf
    d = str(tmp_path / "sidx")
    b1 = spark.createDataFrame(pdf.iloc[:1000].drop(columns=["doc_id"]))
    b2 = spark.createDataFrame(pdf.iloc[1000:].drop(columns=["doc_id"]))
    append_batch(b1, d, seg_size=250, batch_id=0)
    append_batch(b2, d, seg_size=250, batch_id=1)
    assert load_index(d).n_docs == 2000

    # Full re-delivery of both epochs: no-ops.
    append_batch(b1, d, seg_size=250, batch_id=0)
    append_batch(b2, d, seg_size=250, batch_id=1)
    idx = load_index(d)
    assert idx.n_docs == 2000 and idx.n_segments == 8

    # Partial-crash retry: forge the mid-append state — batch 1's LAST
    # segment uncommitted, its epoch still pending in the journal.
    log = _read_stream_log(d)
    base = int(log["committed"]["1"]["base_seg"])
    last = max(
        int(p.split("seg-")[1].split(".")[0])
        for p in glob.glob(os.path.join(d, "manifests", "seg-*.json"))
    )
    os.remove(os.path.join(d, "manifests", f"seg-{last:05d}.json"))
    import shutil

    shutil.rmtree(os.path.join(d, "segments", f"seg_id={last}"))
    del log["committed"]["1"]
    log["pending"] = {"batch_id": 1, "base_seg": base}
    _write_stream_log(d, log)

    append_batch(b2, d, seg_size=250, batch_id=1)  # the retried epoch
    idx = load_index(d)
    assert idx.n_docs == 2000 and idx.n_segments == 8
    queries = reference_queries(2000)
    want = oracle_topk(build_oracle_index(pdf), queries)
    assert_rank_identical(search(spark, idx, queries).toPandas(), want)


def test_streaming_stale_pending_rolled_back(spark, small_corpus_pdf,
                                             tmp_path):
    """A pending epoch that is never retried (possible only outside the
    single-stream contract) is rolled back before the next append: its
    partial segments are deleted so the index never serves a half batch."""
    import shutil

    from opensearch_jvector_plugin_spark.streaming.incremental import (
        _read_stream_log,
        _write_stream_log,
    )

    pdf = small_corpus_pdf
    d = str(tmp_path / "sidx")
    b1 = spark.createDataFrame(pdf.iloc[:1000].drop(columns=["doc_id"]))
    b2 = spark.createDataFrame(pdf.iloc[1000:].drop(columns=["doc_id"]))
    append_batch(b1, d, seg_size=250, batch_id=0)

    # Forge a crashed batch 9: one orphan segment (a copy of segment 0)
    # at the next free seg_id, pending in the journal.
    shutil.copytree(os.path.join(d, "segments", "seg_id=0"),
                    os.path.join(d, "segments", "seg_id=4"))
    shutil.copyfile(os.path.join(d, "manifests", "seg-00000.json"),
                    os.path.join(d, "manifests", "seg-00004.json"))
    log = _read_stream_log(d)
    log["pending"] = {"batch_id": 9, "base_seg": 4}
    _write_stream_log(d, log)

    append_batch(b2, d, seg_size=250, batch_id=2)
    idx = load_index(d)
    assert idx.n_docs == 2000 and idx.n_segments == 8
    queries = reference_queries(2000)
    want = oracle_topk(build_oracle_index(pdf), queries)
    assert_rank_identical(search(spark, idx, queries).toPandas(), want)
