"""Expected answers for every timed operation, and the row comparison.

BM25 ops (``search``, each query of ``search_batch_pandas``) are answered
by the reference re-implementation in ``tests/oracle_bm25``; the other ops
by their DuckDB twins in ``data_text_search_spark.oracle_sql``. Answers
are computed outside the timed region and cached on disk per corpus, so
a second run of the same seed reads them back instead of recomputing.
"""

from __future__ import annotations

import json
import math
import os

import duckdb
import pandas as pd

from data_text_search_spark import oracle_sql as osql
from data_text_search_spark.functions.text import tokenize_py
from tests.oracle_bm25 import OracleBM25

ALPHA = -5.0          # the index's BM25Config(alpha=...) — same on both sides
SCORE_TOL = 1e-4      # DuckDB rounds scores to 4 dp

# oracle_sql re-tokenizes the corpus inside every statement (the `docs`
# CTE, the corpus-statistics CTEs, fuzzy's per-token CTE). Those CTEs do
# not depend on the query, so they are computed once per corpus into
# tables and the statement text is pointed at them; the per-query parts
# of each statement run unchanged. As written, one block of the search
# workload's ops costs about 32 s of DuckDB time at 6,000 documents,
# against about 5 s this way (perfbench/NOTES.md). If a CTE's text ever
# changes in oracle_sql, the replacement raises instead of falling back.
_TOKENIZED = osql.TOKENIZE.format(col="text") + " AS toks FROM documents"
_BASE = osql._base_ctes()
_BASE_TABLES = ("docs", "doc_stats", "corpus", "tok", "tf", "stats")
_BASE_AS_TABLES = ",\n".join(f"{n} AS (SELECT * FROM m_{n})" for n in _BASE_TABLES)
# fuzzy_search_sql's per-token CTE (doc_id, n_chars, tok), also query-free
_FUZZY = osql.fuzzy_search_sql("x", 1)
_FUZZY_TOKS = _FUZZY[_FUZZY.index("toks AS ("):_FUZZY.index("q(qtok)")]


def op_key(op: dict) -> str:
    return json.dumps(op, sort_keys=True)


class Oracle:
    """Expected rows for ops over one corpus, cached at `cache_path`
    (None: not cached)."""

    def __init__(self, corpus: pd.DataFrame, cache_path: str | None):
        self.corpus = corpus
        self.cache_path = cache_path
        self.answers: dict[str, list] = {}
        if cache_path is not None and os.path.exists(cache_path):
            with open(cache_path) as f:
                self.answers = json.load(f)
        self._bm25: OracleBM25 | None = None
        self._db = None
        self._dirty = False

    def expected(self, op: dict) -> list:
        key = op_key(op)
        if key not in self.answers:
            self.answers[key] = self._compute(op)
            self._dirty = True
        return self.answers[key]

    def save(self) -> None:
        if self._dirty and self.cache_path is not None:
            os.makedirs(os.path.dirname(self.cache_path), exist_ok=True)
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.answers, f)
            os.replace(tmp, self.cache_path)
            self._dirty = False

    def close(self) -> None:
        if self._db is not None:
            self._db.close()
            self._db = None

    # ---- computing answers ------------------------------------------------
    def _compute(self, op: dict) -> list:
        kind = op["kind"]
        if kind == "search":
            ids = self.corpus["doc_id"].tolist()
            return [[int(ids[i]), float(s)] for i, s in
                    self.bm25.top_n(tokenize_py(op["q"].lower()), op["n"])]
        if kind == "query_string":
            sql = osql.query_string_sql(op["q"], k=op["n"], alpha=ALPHA)
        elif kind == "search_msm":
            sql = osql.msm_sql(op["q"], op["m"], k=op["n"], alpha=ALPHA)
        elif kind == "boolean_search":
            flt = " AND ".join(
                [f"tf.doc_id IN (SELECT doc_id FROM tf WHERE term = '{t}')"
                 for m in op["must"] for t in tokenize_py(m)]
                + [f"tf.doc_id NOT IN (SELECT doc_id FROM tf WHERE term = '{t}')"
                   for m in op["must_not"] for t in tokenize_py(m)])
            sql = osql.bm25_topk_sql(op["q"], k=op["n"], alpha=ALPHA,
                                     doc_filter=flt or None)
        elif kind == "fuzzy_search":
            sql = _swap(osql.fuzzy_search_sql(op["q"], op["max_mistakes"]),
                        _FUZZY_TOKS, "toks AS (SELECT * FROM m_fuzzy_toks),\n")
        elif kind == "phrase_count":
            toks = tokenize_py(op["q"])
            if len(toks) < 2:
                raise ValueError("phrase ops carry at least two tokens")
            # only documents holding every phrase token can hold the
            # phrase: the statement scans just those
            sql = _swap(osql.phrase_search_sql(op["q"]), _TOKENIZED,
                        f"toks FROM m_docs WHERE list_has_all(toks, {toks!r})")
        else:
            raise ValueError(f"no oracle for op kind {kind!r}")
        if kind in ("query_string", "search_msm", "boolean_search"):
            sql = _swap(sql, _BASE, "\n" + _BASE_AS_TABLES)
        rows = self.db.execute(sql).fetchall()
        return [[int(v) if isinstance(v, int) else float(v) for v in r]
                for r in rows]

    @property
    def bm25(self) -> OracleBM25:
        if self._bm25 is None:
            texts = self.corpus["text"].tolist()
            self._bm25 = OracleBM25([tokenize_py(t.lower()) for t in texts],
                                    alpha=ALPHA)
        return self._bm25

    @property
    def db(self):
        if self._db is None:
            db = duckdb.connect()
            db.register("corpus_df", self.corpus)
            db.execute("CREATE TABLE documents AS SELECT doc_id, text FROM corpus_df")
            db.unregister("corpus_df")
            body = _BASE.strip()
            for name in _BASE_TABLES:
                db.execute(f"CREATE TABLE m_{name} AS WITH {body} SELECT * FROM {name}")
            db.execute("""CREATE TABLE m_fuzzy_toks AS
                SELECT t.doc_id, n.n_chars, t.term AS tok FROM m_tok t
                JOIN (SELECT doc_id, length(array_to_string(toks, ' ')) AS n_chars
                      FROM m_docs) n USING (doc_id)""")
            self._db = db
        return self._db


def _swap(sql: str, old: str, new: str) -> str:
    """`sql` with `old` replaced by `new`; `old` must occur in it."""
    if old not in sql:
        raise RuntimeError("oracle_sql's text changed: a shared-table "
                           f"rewrite no longer applies ({old[:60]!r}...)")
    return sql.replace(old, new)


# ---- comparing engine rows with expected rows ------------------------------
def rows_match(kind: str, got: list, want: list) -> bool:
    """Ranked ops must return the same doc ids in the same order with
    scores within SCORE_TOL; fuzzy rows (doc_id, match_count, n_chars,
    score) compare as a doc_id-keyed set; phrase rows exactly."""
    if len(got) != len(want):
        return False
    if kind == "fuzzy_search":
        got, want = sorted(got), sorted(want)
        return all(g[:3] == w[:3] and math.isclose(g[3], w[3], abs_tol=SCORE_TOL)
                   for g, w in zip(got, want))
    if kind == "phrase_count":
        return [list(g) for g in got] == [list(w) for w in want]
    return all(g[0] == w[0] and math.isclose(g[1], w[1], abs_tol=SCORE_TOL)
               for g, w in zip(got, want))
