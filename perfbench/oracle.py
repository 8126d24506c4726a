"""DuckDB BM25 oracle over the benchmark's *input* documents.

The oracle never reads what the engine wrote. Its corpus is the input
`text` of each live url (the generator's ground truth), tokenized here
with the engine's documented rule (lowercase, maximal [a-z0-9] runs),
and joined to the engine's doc ids by url. The scoring formula restates
`operators/engine_queries._bm25_scored_cte`: textbook BM25 with global
N, avgdl and df over the live corpus.

Engine results are compared "rank-identically up to exact ties": the
doc at each rank must carry the oracle score of that rank, every
returned doc must belong to the oracle's top-k tie class, and each
returned score must equal the doc's oracle score to 4 decimals.
"""

from __future__ import annotations

import re

import duckdb
import numpy as np
import pandas as pd

K1 = 1.2
B = 0.75
TOKEN_SQL = "regexp_extract_all(lower({col}), '[a-z0-9]+')"
SCORE_TOL = 5e-5  # "equal to 4 decimals"
TIE_TOL = 1e-7  # two oracle scores closer than this are one tie class


def tokens(text: str) -> list[str]:
    return re.findall(r"[a-z0-9]+", (text or "").lower())


class Bm25Oracle:
    """One corpus state: docs(doc_id, url, lang, text)."""

    def __init__(self, docs: pd.DataFrame):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.register("docs_in", docs[["doc_id", "url", "lang", "text"]])
        tok = TOKEN_SQL.format(col="text")
        self.con.execute(
            f"""
            CREATE TABLE docs AS
              SELECT doc_id, url, lang,
                     ' ' || array_to_string({tok}, ' ') || ' ' AS norm,
                     len({tok}) AS dl
              FROM docs_in;
            CREATE TABLE tf AS
              SELECT doc_id, term, count(*) AS tf
              FROM (SELECT doc_id, unnest({tok}) AS term FROM docs_in)
              GROUP BY 1, 2;
            CREATE TABLE df AS SELECT term, count(*) AS df FROM tf GROUP BY 1;
            CREATE TABLE stats AS SELECT count(*) AS n, avg(dl) AS avgdl FROM docs;
            """
        )
        self.con.unregister("docs_in")

    def close(self) -> None:
        self.con.close()

    def scored(self, queries: pd.DataFrame) -> pd.DataFrame:
        """(query_id, doc_id, s, nt, lang, norm) for every doc matching
        at least one query term; nt = distinct query terms matched."""
        q = pd.DataFrame(
            [(int(qid), t) for qid, txt in zip(queries["query_id"], queries["query_text"])
             for t in sorted(set(tokens(txt)))],
            columns=["query_id", "term"],
        )
        self.con.register("q", q)
        try:
            return self.con.execute(
                f"""
                SELECT q.query_id, tf.doc_id,
                       sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                           * tf.tf * ({K1} + 1)
                           / (tf.tf + {K1} * (1 - {B} + {B} * d.dl / stats.avgdl))) AS s,
                       count(*) AS nt, any_value(d.lang) AS lang, any_value(d.norm) AS norm
                FROM tf JOIN q USING (term) JOIN df USING (term)
                     JOIN docs d USING (doc_id) CROSS JOIN stats
                GROUP BY 1, 2
                """
            ).df()
        finally:
            self.con.unregister("q")

    def expected(self, queries: pd.DataFrame, mode: str, lang: str | None = None) -> dict:
        """query_id -> candidate frame (doc_id, s) of qualifying docs,
        best first (score desc, doc_id asc)."""
        sc = self.scored(queries)
        n_terms = {
            int(qid): len(set(tokens(txt)))
            for qid, txt in zip(queries["query_id"], queries["query_text"])
        }
        if mode in ("and", "phrase"):
            sc = sc[sc["nt"] == sc["query_id"].map(n_terms)]
        if lang is not None:
            sc = sc[sc["lang"] == lang]
        if mode == "phrase":
            needle = {
                int(qid): " " + " ".join(tokens(txt)) + " "
                for qid, txt in zip(queries["query_id"], queries["query_text"])
            }
            keep = [needle[int(q)] in norm for q, norm in zip(sc["query_id"], sc["norm"])]
            sc = sc[np.array(keep, dtype=bool)] if len(sc) else sc
        sc = sc.sort_values(["query_id", "s", "doc_id"], ascending=[True, False, True])
        return {int(qid): g[["doc_id", "s"]].reset_index(drop=True)
                for qid, g in sc.groupby("query_id")}


def check_topk(result: pd.DataFrame, expected: dict, query_ids, k: int) -> list[str]:
    """Compare engine rows (query_id, rank, doc_id, score) with the
    oracle's candidates; returns a list of mismatch descriptions."""
    errors = []
    for qid in query_ids:
        got = result[result["query_id"] == qid].sort_values("rank")
        exp = expected.get(int(qid))
        n_exp = 0 if exp is None else min(k, len(exp))
        if len(got) != n_exp:
            errors.append(f"q{qid}: {len(got)} rows, oracle {n_exp}")
            continue
        if not n_exp:
            continue
        if got["doc_id"].duplicated().any():
            errors.append(f"q{qid}: a doc is returned twice")
            continue
        score_of = dict(zip(exp["doc_id"].astype(int), exp["s"]))
        kth = float(exp["s"].iloc[n_exp - 1])
        for i, (doc, score) in enumerate(zip(got["doc_id"].astype(int), got["score"])):
            want = float(exp["s"].iloc[i])
            have = score_of.get(doc)
            if have is None or have < kth - TIE_TOL:
                errors.append(f"q{qid} rank {i + 1}: doc {doc} not in oracle top-{k}")
                break
            if abs(have - want) > TIE_TOL:
                errors.append(f"q{qid} rank {i + 1}: doc {doc} out of rank order")
                break
            if abs(float(score) - have) > SCORE_TOL:
                errors.append(f"q{qid} rank {i + 1}: score {score:.6f} vs oracle {have:.6f}")
                break
    return errors
