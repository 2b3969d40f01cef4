"""Oracle gate: every result the engine returns is compared with
`oracle.oracle_topk` on the same corpus state.

Comparison rule (the test suite's rank-identity rule): same rows per query,
same ranks, docIDs exact, scores within rtol 1e-6.

The oracle follows the soft-delete contract of `operators.deletes`:
corpus statistics keep counting deleted docs (they are only filtered out of
results) until a merge purges them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from opensearch_jvector_plugin_spark.functions.tokenizer import tokenize_text
from opensearch_jvector_plugin_spark.oracle import (
    OracleIndex,
    build_oracle_index,
    oracle_topk,
)

RTOL = 1e-6


def mismatch(got: pd.DataFrame, want: pd.DataFrame, rtol: float = RTOL):
    """None when `got` is rank-identical to `want`, else a short reason."""
    cols = ["query_id", "rank", "doc_id", "score"]
    got = got[cols].sort_values(["query_id", "rank"]).reset_index(drop=True)
    want = want[cols].sort_values(["query_id", "rank"]).reset_index(drop=True)
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    for col in ("query_id", "rank", "doc_id"):
        if not np.array_equal(got[col].to_numpy(np.int64),
                              want[col].to_numpy(np.int64)):
            return f"{col} differs"
    g, w = got["score"].to_numpy(float), want["score"].to_numpy(float)
    if not np.allclose(g, w, rtol=rtol, atol=0.0):
        return f"score differs (max abs err {np.max(np.abs(g - w)):.3g})"
    return None


def _merge(a: OracleIndex, b: OracleIndex) -> OracleIndex:
    tf = {t: dict(p) for t, p in a.tf.items()}
    for t, p in b.tf.items():
        tf.setdefault(t, {}).update(p)
    dl = {**a.dl, **b.dl}
    n = a.n_docs + b.n_docs
    return OracleIndex(
        n_docs=n,
        avgdl=float(sum(dl.values())) / n if n else 0.0,
        doc_ids=np.sort(np.concatenate([a.doc_ids, b.doc_ids])),
        dl=dl,
        tf=tf,
        df={t: len(p) for t, p in tf.items()},
    )


class Oracle:
    """Expected top-k for an index that takes appends and soft deletes."""

    def __init__(self, corpus: pd.DataFrame):
        self._docs = corpus[["doc_id", "text"]].copy()
        self._index = build_oracle_index(self._docs)
        self._deleted: set[int] = set()
        self._live: set[int] | None = None
        self._cache: dict[tuple[str, int], pd.DataFrame] = {}

    @property
    def n_docs(self) -> int:
        return self._index.n_docs

    @property
    def deleted(self) -> set[int]:
        return set(self._deleted)

    def copy(self) -> "Oracle":
        """An independent oracle for the same state (appends and purges
        build new indexes, so the current one can be shared)."""
        other = Oracle.__new__(Oracle)
        other._docs = self._docs
        other._index = self._index
        other._deleted = set(self._deleted)
        other._live = self._live
        other._cache = {}
        return other

    def append(self, docs: pd.DataFrame) -> None:
        docs = docs[["doc_id", "text"]]
        self._docs = pd.concat([self._docs, docs], ignore_index=True)
        self._index = _merge(self._index, build_oracle_index(docs))
        self._live = None
        self._cache = {}

    def delete(self, doc_ids) -> None:
        self._deleted.update(int(d) for d in doc_ids)
        self._live = None
        self._cache = {}

    def purge(self) -> None:
        """A merge expunged the deleted docs: statistics drop them too."""
        dead = self._docs["doc_id"].isin(self._deleted)
        old = self._index
        tf = {t: dict(p) for t, p in old.tf.items()}
        dl = dict(old.dl)
        for doc_id, text in zip(self._docs["doc_id"][dead],
                                self._docs["text"][dead]):
            for term in set(tokenize_text(text)):
                del tf[term][int(doc_id)]
                if not tf[term]:
                    del tf[term]
            del dl[int(doc_id)]
        self._docs = self._docs[~dead].reset_index(drop=True)
        n = len(dl)
        self._index = OracleIndex(
            n_docs=n,
            avgdl=float(sum(dl.values())) / n if n else 0.0,
            doc_ids=np.sort(np.fromiter(dl, dtype=np.int64, count=n)),
            dl=dl,
            tf=tf,
            df={t: len(p) for t, p in tf.items()},
        )
        self._live = None
        self._cache = {}

    def expected(self, queries: pd.DataFrame) -> pd.DataFrame:
        """Oracle top-k for `queries`. Answers are kept per (text, k) until
        the next append, delete or purge, so repeated queries cost the
        oracle once."""
        keys = list(zip(queries["query_text"], queries["k"].astype(int)))
        todo = queries[[key not in self._cache for key in keys]]
        todo = todo.drop_duplicates(["query_text", "k"])
        if len(todo):
            filters = None
            if self._deleted:
                if self._live is None:
                    self._live = set(self._index.dl) - self._deleted
                filters = {int(q): self._live for q in todo["query_id"]}
            got = oracle_topk(self._index, todo, filters)
            by_id = {int(q): f for q, f in got.groupby("query_id")}
            for q in todo.itertuples(index=False):
                rows = by_id.get(int(q.query_id), got.iloc[:0])
                self._cache[(q.query_text, int(q.k))] = rows.drop(
                    columns="query_id")
        parts = [self._cache[key].assign(query_id=np.int32(qid))
                 for key, qid in zip(keys, queries["query_id"])]
        return pd.concat(parts, ignore_index=True).astype(
            {"query_id": np.int32})
