"""Independent answers in DuckDB SQL, and the answer check.

The oracle recomputes every score from the raw turns of one corpus state
with the pinned BM25 (FIXTURES.md section 3, k1 = 1.2, b = 0.75) and the
phrase scoring pinned in ``query.phrase_search``, in the shape of the
suite's ``bm25_must_not`` and ``bm25_phrase`` oracles. It returns the full
score of every matching document, so the check can accept any member of a
score-tie group that the top-k cut splits: the engine breaks ties on its
own docIDs (``doc_order="doclen"`` plus append offsets), the oracle on the
corpus key.
"""

from __future__ import annotations

import re

import duckdb
import pandas as pd

TOL = 1e-9
_TOKEN = re.compile(r"[a-z0-9]+")

_SAT = "(1.2 * (0.25 + 0.75 * (dl.doclen / st.avgdl)))"
_IDF = "ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)"


def _lit(tok: str) -> str:
    if not _TOKEN.fullmatch(tok):
        raise ValueError(f"not an analyzed token: {tok!r}")
    return f"'{tok}'"


class Oracle:
    """Exact answers over one corpus state (conv_id, turn_idx, text)."""

    def __init__(self, turns: pd.DataFrame):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.register("src", turns[["conv_id", "turn_idx", "text"]])
        self.con.execute("""
            CREATE TABLE docs AS
            SELECT row_number() OVER (ORDER BY conv_id, turn_idx) AS d,
                   conv_id, turn_idx,
                   list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '[^a-z0-9]+'), x -> x <> '') AS toks
            FROM src""")
        self.con.unregister("src")
        self.con.execute("""
            CREATE TABLE tokpos AS
            SELECT d, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos FROM docs""")
        self.con.execute(
            "CREATE TABLE tf AS SELECT d, term, count(*)::BIGINT AS tf FROM tokpos GROUP BY 1, 2")
        self.con.execute("CREATE TABLE dl AS SELECT d, len(toks)::BIGINT AS doclen FROM docs")
        self.con.execute(
            "CREATE TABLE dfq AS SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1")
        self.con.execute("""
            CREATE TABLE st AS
            SELECT count(*)::BIGINT AS n, sum(doclen)::DOUBLE / count(*) AS avgdl FROM dl""")

    @property
    def n_docs(self) -> int:
        return int(self.con.execute("SELECT n FROM st").fetchone()[0])

    def _scores(self, sql: str) -> dict[int, dict[tuple[str, int], float]]:
        out: dict[int, dict[tuple[str, int], float]] = {}
        for qid, conv, turn, score in self.con.execute(sql).fetchall():
            if score > 0:
                out.setdefault(int(qid), {})[(conv, int(turn))] = float(score)
        return out

    def bm25(self, queries: list[tuple[int, str]],
             must_not: dict[int, str] | None = None) -> dict[int, dict]:
        """qid -> {(conv_id, turn_idx): score} over every matching doc;
        docs holding any ``must_not`` token of their qid are removed."""
        qt = pd.DataFrame(
            [(q, t) for q, text in queries for t in set(_TOKEN.findall(text.lower()))],
            columns=["qid", "term"]).astype({"qid": "int64"})
        mn = pd.DataFrame(
            [(q, t) for q, text in (must_not or {}).items()
             for t in set(_TOKEN.findall(text.lower()))],
            columns=["qid", "term"]).astype({"qid": "int64"})
        self.con.register("qt", qt)
        self.con.register("mn", mn)
        try:
            return self._scores(f"""
                WITH deny AS (SELECT DISTINCT mn.qid, tf.d FROM mn JOIN tf USING (term)),
                scores AS (
                  SELECT qt.qid, tf.d, sum({_IDF} * (tf.tf / (tf.tf + {_SAT}))) AS score
                  FROM qt JOIN tf USING (term) JOIN dfq USING (term)
                       JOIN dl ON dl.d = tf.d CROSS JOIN st
                  GROUP BY 1, 2)
                SELECT s.qid, docs.conv_id, docs.turn_idx, s.score
                FROM scores s JOIN docs ON docs.d = s.d
                     ANTI JOIN deny ON deny.qid = s.qid AND deny.d = s.d""")
        finally:
            self.con.unregister("qt")
            self.con.unregister("mn")

    def phrase(self, qid: int, text: str, slop: int) -> dict[tuple[str, int], float]:
        """{(conv_id, turn_idx): score} of one match_phrase request:
        idf_sum(distinct terms) * pf / (pf + k1 * (1 - b + b * dl / avgdl)).
        Exact phrases count consecutive occurrences; sloppy ones sum
        1 / (gap + 1) over greedy-leftmost in-order matches with total gap
        <= slop, capped at the minimum tf of the distinct terms."""
        toks = _TOKEN.findall(text.lower())
        n = len(toks)
        terms = ", ".join(_lit(t) for t in sorted(set(toks)))
        if slop == 0:
            arr = "[" + ", ".join(_lit(t) for t in toks) + "]"
            pv = f"""SELECT d, len(list_filter(range(1, len(toks) - {n} + 2),
                                           i -> toks[i : i + {n - 1}] = {arr}))::DOUBLE AS pf
                     FROM docs"""
        else:
            # greedy-leftmost chain: each next token at its minimal position
            # after the previous one; a start matches when the chain ends
            # inside the window p0 + (n - 1) + slop
            g = f"(SELECT d, pos AS p0 FROM tokpos WHERE term = {_lit(toks[0])}) g0"
            cols = ["p0"]
            for m in range(1, n):
                keep = ", ".join([f"g{m - 1}.d"] + [f"g{m - 1}.{c}" for c in cols])
                g = (f"(SELECT {keep}, min(t.pos) AS p{m} FROM {g} JOIN tokpos t "
                     f"ON t.d = g{m - 1}.d AND t.term = {_lit(toks[m])} "
                     f"AND t.pos > g{m - 1}.p{m - 1} GROUP BY {keep}) g{m}")
                cols.append(f"p{m}")
            last = f"p{n - 1}"
            pv = f"""SELECT w.d, least(w.pfw, mt.min_tf::DOUBLE) AS pf
                     FROM (SELECT d, sum(1.0 / ({last} - p0 - {n - 1} + 1)) AS pfw
                           FROM {g} WHERE {last} <= p0 + {n - 1 + slop} GROUP BY d) w
                     JOIN (SELECT d, min(tf) AS min_tf FROM tf WHERE term IN ({terms})
                           GROUP BY d HAVING count(DISTINCT term) = {len(set(toks))}) mt
                     USING (d)"""
        return self._scores(f"""
            WITH isum AS (SELECT sum({_IDF}) AS idf_sum
                          FROM dfq CROSS JOIN st WHERE dfq.term IN ({terms})),
            pv AS ({pv})
            SELECT {int(qid)}, docs.conv_id, docs.turn_idx,
                   isum.idf_sum * (pv.pf / (pv.pf + {_SAT})) AS score
            FROM pv JOIN dl ON dl.d = pv.d JOIN docs ON docs.d = pv.d
                 CROSS JOIN st CROSS JOIN isum
            WHERE pv.pf > 0""").get(int(qid), {})

    def close(self) -> None:
        self.con.close()


def check_topk(rows: list, keys: dict[int, tuple[str, int]],
               full: dict[tuple[str, int], float], k: int) -> str | None:
    """None when ``rows`` (qid, rank, docID, score) are a correct top-k
    under ``full``, else the reason. Correct means: ranks 1..n, n equal to
    min(k, matches), the score at each rank equal to the oracle's k-th best
    scores (to 1e-9), each returned doc's own oracle score equal to the
    score returned for it, and no doc twice."""
    want = sorted(full.values(), reverse=True)[:k]
    got = sorted(rows, key=lambda r: r["rank"])
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    seen = set()
    for i, (r, w) in enumerate(zip(got, want), start=1):
        key = keys.get(int(r["docID"]))
        if r["rank"] != i:
            return f"rank {r['rank']} at position {i}"
        if key is None or key in seen:
            return f"docID {r['docID']} unknown or repeated"
        seen.add(key)
        if abs(r["score"] - w) > TOL:
            return f"rank {i} score {r['score']!r}, expected {w!r}"
        if abs(full.get(key, 0.0) - r["score"]) > TOL:
            return f"rank {i} doc {key} scores {full.get(key, 0.0)!r}, got {r['score']!r}"
    return None
