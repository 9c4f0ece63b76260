"""Seeded workload inputs: corpus, delta batches and query streams.

The corpus keeps the shape of ``fixtures.corpus``: code-like tokens drawn
Zipfian from ``fixtures.corpus.VOCAB``, lognormal document lengths clipped
to [20, 2000] tokens, and the fixture's needle phrases planted in a
residue class of doc ids. Unlike the fixture, every draw comes from one
``numpy`` generator seeded by ``--seed``, so two seeds give two corpora.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd

from data_text_search_spark.fixtures.corpus import NEEDLES, RARE_TERMS, VOCAB, _PROBS
from data_text_search_spark.functions.text import tokenize_py

# query terms are word tokens only: punctuation tokens are query-string
# syntax (+ - " ~ * ^) and would change what the query means
WORDS = list(dict.fromkeys(t for t in VOCAB
                           if tokenize_py(t) == [t] and t[0].isalnum()))
IDENTS = [t for t in WORDS if "_" in t]       # code identifiers: get_row, ...
# the Zipf head: at ~205 tokens per document each of these is in more
# than half the documents, so its posting list spans most of the index
HOT = WORDS[:34]


def _zipf_p(terms: list[str]) -> np.ndarray:
    """The corpus's Zipfian token probabilities restricted to `terms`."""
    p = np.array([_PROBS[VOCAB.index(t)] for t in terms])
    return p / p.sum()


_WORD_P, _IDENT_P = _zipf_p(WORDS), _zipf_p(IDENTS)
_HOT_SET = frozenset(HOT)
NEEDLE_WORDS = sorted({w for p in NEEDLES for w in p.split()})
ABSENT = [f"absent{i}term" for i in range(8)]

# share of query terms by class; the rest is Zipfian over WORDS
TERM_CLASS_P = {"rare": 0.06, "absent": 0.04, "needle": 0.10}
TERM_COUNT_P = (0.35, 0.35, 0.20, 0.10)          # 1..4 terms

# a freely drawn term is hot with probability (1 - class shares) *
# (HOT's share of the Zipf mass over WORDS), about 0.49
_TERM_HOT_P = ((1 - sum(TERM_CLASS_P.values()))
               * float(_WORD_P[:len(HOT)].sum()))
# the shapes of a freely drawn query, (terms, hot terms), with their
# probabilities; about 0.70 of free draws hold a hot term
SHAPES = [((k, h), pk * math.comb(k, h) * _TERM_HOT_P ** h
           * (1 - _TERM_HOT_P) ** (k - h))
          for k, pk in enumerate(TERM_COUNT_P, start=1) for h in range(k + 1)]
_SHAPE_CDF = np.cumsum([p for _, p in SHAPES])
FREE_HOT_SHARE = 1 - sum(p for (_, h), p in SHAPES if h == 0)
_GOLDEN = (5 ** 0.5 - 1) / 2

# the search workload's interactive phase: op kind -> ops per block
OP_MIX = {"search": 10, "query_string": 3, "boolean_search": 2,
          "search_msm": 2, "fuzzy_search": 2, "phrase_count": 1}


def make_docs(rs: np.random.RandomState, first_id: int, n: int,
              needle: str | None = None, needle_every: int = 10) -> pd.DataFrame:
    """`n` documents with ids first_id.. ; `needle` (a delta's own marker
    term) is appended to every `needle_every`-th document."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    lens = np.clip(rs.lognormal(5.0, 0.8, n), 20, 2000).astype(np.int64)
    words = np.asarray(VOCAB, dtype=object)[
        rs.choice(len(VOCAB), size=int(lens.sum()), p=_PROBS)]
    ends = np.cumsum(lens)
    residue = rs.randint(0, 1 << 20)
    texts = []
    for doc_id, end, ln in zip(ids.tolist(), ends.tolist(), lens.tolist()):
        toks = words[end - ln:end].tolist()
        for phrase, (mod, res) in NEEDLES.items():
            if (doc_id + residue) % mod == res:
                toks.append(phrase)
        if needle is not None and (doc_id - first_id) % needle_every == 0:
            toks.append(needle)
        texts.append(" ".join(toks))
    return pd.DataFrame({"doc_id": ids, "text": texts})


def delta_needle(round_no: int) -> str:
    return f"deltamark{round_no}x"


def needle_ids(delta: pd.DataFrame, needle: str) -> list[int]:
    return sorted(int(i) for i, t in zip(delta["doc_id"], delta["text"])
                  if t.endswith(" " + needle))


def _term(rs: np.random.RandomState) -> str:
    u = rs.random_sample()
    for cls, p in TERM_CLASS_P.items():
        if u < p:
            pool = {"rare": RARE_TERMS, "absent": ABSENT,
                    "needle": NEEDLE_WORDS}[cls]
            return pool[rs.randint(len(pool))]
        u -= p
    return WORDS[rs.choice(len(WORDS), p=_WORD_P)]


def _cold_term(rs: np.random.RandomState) -> str:
    while (t := _term(rs)) in _HOT_SET:
        pass
    return t


def query_terms(rs: np.random.RandomState, shape: tuple[int, int]
                ) -> list[str]:
    """`shape` = (k, h): k terms drawn freely until exactly h of them
    are hot, a free draw restricted to one stratum."""
    k, h = shape
    while True:
        terms = [_term(rs) for _ in range(k)]
        if sum(t in _HOT_SET for t in terms) == h:
            return terms


def query_shapes(first: int, n: int) -> list[tuple[int, int]]:
    """Strata of queries first..first+n-1 of a stream. Query i takes the
    shape where frac(0.5 + i * golden ratio) falls in SHAPES' cumulative
    distribution, so every prefix of a stream holds each shape in close
    to its free-draw share, the same for every seed.

    The number of terms and of hot terms set most of a query's cost; a
    hot term costs several times a cold one in most kernels. Drawn
    freely per query, they would make the cost of a short run depend on
    the seed more than on the program."""
    u = (0.5 + np.arange(first, first + n) * _GOLDEN) % 1.0
    idx = np.minimum(np.searchsorted(_SHAPE_CDF, u, side="right"),
                     len(SHAPES) - 1)
    return [SHAPES[i][0] for i in idx]


def interactive_ops(rs: np.random.RandomState, n_blocks: int) -> list[dict]:
    """`n_blocks` blocks of 20 ops; each block holds OP_MIX's exact
    shares in a seeded order, so every prefix of whole blocks has the
    stated mix. Within a kind, the ops take their shapes from
    `query_shapes` over that kind's stream."""
    ops = []
    for b in range(n_blocks):
        slots = [(k, shape) for k, c in OP_MIX.items()
                 for shape in query_shapes(b * c, c)]
        for i in rs.permutation(len(slots)):
            ops.append(_op(rs, *slots[i]))
    return ops


def _op(rs: np.random.RandomState, kind: str, shape: tuple[int, int]
        ) -> dict:
    terms = query_terms(rs, shape)
    q = " ".join(terms)
    if kind == "search":
        return {"kind": kind, "q": q, "n": 10}
    if kind == "query_string":
        # first term required, half the queries forbid a hot term;
        # phrases are phrase_count's part of the mix
        parts = ["+" + terms[0]] + terms[1:]
        if rs.random_sample() < 0.5:
            parts.append("-" + HOT[rs.randint(len(HOT))])
        return {"kind": kind, "q": " ".join(parts), "n": 10}
    if kind == "boolean_search":
        return {"kind": kind, "q": q, "must": [_cold_term(rs)],
                "must_not": [HOT[rs.randint(len(HOT))]], "n": 10}
    if kind == "search_msm":
        terms = terms + [_cold_term(rs)] if len(terms) < 2 else terms
        return {"kind": kind, "q": " ".join(terms), "m": 2, "n": 10}
    if kind == "fuzzy_search":
        return {"kind": kind, "q": q, "max_mistakes": 1}
    # phrase_count: a planted needle phrase or two code identifiers
    if rs.random_sample() < 0.5:
        return {"kind": kind, "q": list(NEEDLES)[rs.randint(len(NEEDLES))]}
    return {"kind": kind, "q": " ".join(IDENTS[rs.choice(len(IDENTS), p=_IDENT_P)]
                                        for _ in range(2))}


def query_pool(rs: np.random.RandomState, size: int) -> list[str]:
    """The first `size` distinct queries of a stream shaped by
    `query_shapes`. A shape with few distinct queries fills up and its
    repeats are skipped: a single hot term has only len(HOT) of them."""
    pool: dict[str, None] = {}
    i = 0
    while len(pool) < size:
        [shape] = query_shapes(i, 1)
        pool.setdefault(" ".join(query_terms(rs, shape)), None)
        i += 1
    return list(pool)


def zipf_draw(rs: np.random.RandomState, pool: list[str], n: int,
              s: float = 1.1) -> list[str]:
    """`n` draws from `pool` with Zipfian popularity (rank r has weight
    r^-s), for the repeats a query log has. The exponent is assumed, not
    fitted to a measured log."""
    w = 1.0 / np.arange(1, len(pool) + 1) ** s
    return [pool[i] for i in rs.choice(len(pool), size=n, p=w / w.sum())]


def corpus_properties(texts: list[str]) -> dict:
    lens = [len(tokenize_py(t)) for t in texts]
    return {"docs": len(texts),
            "bytes": int(sum(len(t.encode()) for t in texts)),
            "tokens": int(sum(lens))}


def doc_freq(texts: list[str]) -> Counter:
    df: Counter = Counter()
    for t in texts:
        df.update(set(tokenize_py(t)))
    return df


def query_properties(queries: list[str], df: Counter, n_docs: int) -> dict:
    """Term-count histogram and the share of queries touching a term with
    df > N/2 (a hot term: its posting list spans most documents)."""
    hist: Counter = Counter()
    hot = 0
    for q in queries:
        toks = tokenize_py(q)
        hist[len(set(toks))] += 1
        hot += any(df.get(t, 0) > n_docs / 2 for t in toks)
    return {"term_count_hist": {str(k): hist[k] for k in sorted(hist)},
            "hot_term_share": round(hot / max(len(queries), 1), 4)}
