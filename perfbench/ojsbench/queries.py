"""Seeded query mixes over the synthetic transcript vocabulary.

The shape of the traffic is taken from the engine's reference query set
(`sources.transcripts.reference_queries`, FIXTURES.md §2). Every block of
twelve consecutive queries holds one query of each of its twelve shapes,
in a seeded order; only the terms are drawn anew. So per twelve queries:
two carry a planted hot term (`hotcommon`/`hotfive`), two match nothing
(one single out-of-vocabulary term, one two-term), one asks for k=100, and
one repeats a term. The reference set's 6-term query is cut to 4 terms
(queries here have 1-4 terms), and its k=1 and k > corpus queries use
k=10. Vocabulary terms are drawn by Zipf rank, as the corpus draws its
tokens (log-uniform over ranks, i.e. Zipf(1)); "tail" terms come from the
rarer half of the vocabulary.

Because each block has a fixed composition, two seeds send the same mix
of query shapes and differ only in the terms.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from opensearch_jvector_plugin_spark.sources.transcripts import (
    HOT_TERMS,
    VOCAB_SIZE,
)

# (term kinds, k) per reference query, in reference_queries' order.
SHAPES = (
    (("zipf",), 10),                          # common term
    (("tail",), 10),                          # rare term
    (("hot",), 10),                           # planted hot term
    (("oov",), 10),                           # out of vocabulary
    (("zipf", "zipf"), 10),
    (("zipf", "zipf", "zipf", "tail"), 10),
    (("zipf", "zipf", "zipf", "zipf"), 10),   # reference: 6 terms
    (("dup",), 10),                           # duplicate-term query
    (("zipf",), 10),                          # reference: k=1
    (("hot", "zipf"), 100),
    (("zipf",), 10),                          # reference: k > corpus
    (("oov", "oov"), 10),                     # multi-term, zero matches
)
BLOCK = len(SHAPES)

# Popularity of repeated queries on search_merged. Not measured from any
# query log: an assumed skew that makes a minority of queries most of the
# traffic, so the run has repeated queries (the share is recorded).
POOL_PER_SHAPE = 32
ZIPF_A = 1.2


class QueryMix:
    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self._order: list[int] = []

    def _next_shape(self) -> int:
        if not self._order:
            self._order = list(self.rng.permutation(BLOCK))
        return int(self._order.pop())

    def _vocab_term(self, tail: bool) -> str:
        lo = 0.5 if tail else 0.0  # the rarer half of log-rank space
        rank = int(VOCAB_SIZE ** self.rng.uniform(lo, 1.0))
        return f"term{min(max(rank, 1), VOCAB_SIZE):04d}"

    def _term(self, kind: str) -> str:
        if kind == "hot":
            return sorted(HOT_TERMS)[int(self.rng.integers(len(HOT_TERMS)))]
        if kind == "oov":
            return f"zzoov{int(self.rng.integers(1 << 30))}"
        return self._vocab_term(kind == "tail")

    def _of_shape(self, shape: int) -> tuple[str, int]:
        kinds, k = SHAPES[shape]
        if kinds == ("dup",):
            t = self._vocab_term(False)
            return f"{t} {t}", k
        return " ".join(self._term(kind) for kind in kinds), k

    def new_block(self) -> None:
        """Start a fresh block of twelve shapes with the next query."""
        self._order = []

    def query(self, extra_term: str | None = None,
              shape: int | None = None) -> tuple[str, int]:
        """(query_text, k) for the next query, or for one of the given
        shape (an index into SHAPES); `extra_term` replaces one of its
        terms."""
        text, k = self._of_shape(self._next_shape() if shape is None
                                 else shape)
        if extra_term is not None:
            terms = text.split()
            terms[int(self.rng.integers(len(terms)))] = extra_term
            text = " ".join(terms)
        return text, k

    def popular(self):
        """A sampler of repeated queries: each shape has a pool of
        POOL_PER_SHAPE distinct queries, drawn with Zipf(ZIPF_A)
        popularity; shapes still follow the fixed block composition. (A
        shape with fewer distinct queries, such as a lone hot term, gets
        a smaller pool.)"""
        pools, weights = [], []
        for shape in range(BLOCK):
            pool: dict[str, int] = {}
            for _ in range(20 * POOL_PER_SHAPE):
                if len(pool) == POOL_PER_SHAPE:
                    break
                text, k = self._of_shape(shape)
                pool.setdefault(text, k)
            w = 1.0 / np.arange(1, len(pool) + 1) ** ZIPF_A
            pools.append(list(pool.items()))
            weights.append(w / w.sum())

        def draw() -> tuple[str, int]:
            shape = self._next_shape()
            pool = pools[shape]
            return pool[int(self.rng.choice(len(pool), p=weights[shape]))]

        return draw


def frame(rows: list[tuple[str, int]], first_id: int = 0) -> pd.DataFrame:
    """Queries as the (query_id, query_text, k) frame `search` takes."""
    return pd.DataFrame(
        {
            "query_id": np.arange(first_id, first_id + len(rows),
                                  dtype=np.int32),
            "query_text": [r[0] for r in rows],
            "k": np.array([r[1] for r in rows], dtype=np.int64),
        }
    )
