"""Traced runs only: replay a query request's decode and top-k kernel on
the driver, so the codec and MaxScore layers get their own timings and
counts without instrumenting the engine.

The replay reads exactly the posting rows the request's terms select from
the index files the request was served from, decodes them per segment
with `decode_segment_postings` and ranks them with `maxscore_topk` the
way the engine's per-segment kernel does: the same weights, upper bounds
computed once per segment, and one tf_norm cache per segment shared by
every query of the request.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds

from opensearch_jvector_plugin_spark.functions.bm25 import bm25_idf_py
from opensearch_jvector_plugin_spark.functions.tokenizer import tokenize_text
from opensearch_jvector_plugin_spark.operators.query import (
    decode_segment_postings,
    lookup_term_dfs,
)
from opensearch_jvector_plugin_spark.operators.wand import (
    maxscore_topk,
    term_upper_bound,
)


def replay(run, handle, queries) -> None:
    """Record query.postings_read, codec.* and wand.* for one request."""
    tr = run.tracer
    qtfs = {int(q.query_id): (Counter(tokenize_text(q.query_text)), int(q.k))
            for q in queries.itertuples(index=False)}
    terms = sorted({t for c, _ in qtfs.values() for t in c})
    with tr.span("client.replay") as rsp:
        if not terms:
            tr.note(rsp, postings_read=0, blob_bytes_read=0)
            return
        base = (handle.merged_path if handle.merged_is_current()
                else handle.segments_path)
        table = ds.dataset(base, format="parquet", partitioning="hive").to_table(
            filter=pc.field("term").isin(terms))
        pdf = table.to_pandas()
        tr.note(rsp, postings_read=int(pdf["df"].sum()) if len(pdf) else 0,
                blob_bytes_read=int(pdf["blob"].map(len).sum()) if len(pdf)
                else 0)
        global_df = lookup_term_dfs(run.spark, handle, terms)
        denied = handle.deleted()
        denied = denied if len(denied) else None
        for _, seg in pdf.groupby("seg_id"):
            with tr.span("codec.decode") as dsp:
                decoded = decode_segment_postings(seg)
            tr.note(dsp, blob_bytes=int(seg["blob"].map(len).sum()))
            meta = {t: (np.asarray(a, np.int64), np.asarray(b, np.int64))
                    for t, a, b in zip(seg["term"], seg["block_max_tf"],
                                       seg["block_min_dl"])}
            weights = {
                qid: {t: float(c) * bm25_idf_py(global_df[t], handle.n_docs)
                      for t, c in qtf.items()
                      if t in decoded and t in global_df}
                for qid, (qtf, _) in qtfs.items()}
            postings_in = results = 0
            # As the engine's kernel does per segment: idf-free upper bounds
            # and the tf_norm cache are computed once and shared by every
            # query of the request.
            with tr.span("wand.kernel") as wsp:
                norm_cache: dict[str, np.ndarray] = {}
                ub_base = {t: term_upper_bound(1.0, *meta[t], handle.avgdl)
                           for t in decoded}
                for qid, tw in weights.items():
                    if not tw:
                        continue
                    tp = {t: decoded[t] for t in tw}
                    ubs = {t: tw[t] * ub_base[t] for t in tw}
                    docs, _ = maxscore_topk(tp, tw, ubs, qtfs[qid][1],
                                            handle.avgdl, denied=denied,
                                            tf_norm_cache=norm_cache)
                    postings_in += sum(len(tp[t][0]) for t in tp)
                    results += len(docs)
            tr.note(wsp, postings_in=postings_in,
                    results_per_posting=results / postings_in
                    if postings_in else 0.0)
