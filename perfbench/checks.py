"""Correctness checks. Every check returns a list of mismatch strings; an
op whose list is non-empty counts as failed.

- ``Reference``: brute-force BM25 over a small corpus, built on the
  scoring primitives of ``ee_outliers_spark.oracle``, extended to what the
  timed query shapes use: boosts, prefix wildcards (Lucene's
  scoring-boolean rewrite: each expanded term is its own clause), sloppy
  phrases and single-token clauses on the analyzed ``lang``/``source``
  fields (per-field df and length norms).
- ``topk_invariants``: what every timed top-k result must satisfy.
- ``duckdb_outliers``: the first analyze tick's outlier sets, recomputed
  in DuckDB from the same parquet inputs.
"""

from __future__ import annotations

import fnmatch
import math
from collections import Counter

from ee_outliers_spark.oracle import bm25_idf, bm25_tf_part
from ee_outliers_spark.tokenizer import tokenize_py

TOL = 1e-6


def topk_invariants(rows: list[tuple[int, float]], k: int,
                    min_hits: int | None = None,
                    id_range: tuple[int, int] | None = None) -> list[str]:
    """k hits (when at least ``min_hits`` docs match), non-increasing
    scores, ties broken by ascending doc_id, ids inside ``id_range``."""
    errs = []
    want = k if min_hits is None else min(k, min_hits)
    if len(rows) != want:
        errs.append(f"{len(rows)} hits, expected {want}")
    for (d0, s0), (d1, s1) in zip(rows, rows[1:]):
        if s1 > s0 or (s1 == s0 and d1 <= d0):
            errs.append(f"order ({d0},{s0}) before ({d1},{s1})")
    if id_range is not None:
        lo, hi = id_range
        errs += [f"doc {d} outside [{lo},{hi})" for d, _ in rows
                 if not lo <= d < hi]
    return errs


def compare_topk(got: list[tuple[int, float]],
                 want: list[tuple[int, float]], k: int) -> list[str]:
    """``want`` is the full reference ranking. Each returned doc must carry
    its reference score, and the i-th score must equal the reference's
    i-th; docs whose scores tie may come in either order."""
    errs = topk_invariants(got, k, min_hits=len(want))
    ref = dict(want)
    for i, (d, s) in enumerate(got):
        if d not in ref:
            errs.append(f"doc {d} does not match")
        elif abs(ref[d] - s) > TOL * max(1.0, abs(s)):
            errs.append(f"doc {d} score {s} != {ref[d]}")
        if i < len(want) and abs(want[i][1] - s) > TOL * max(1.0, abs(s)):
            errs.append(f"rank {i} score {s} != {want[i][1]}")
    return errs


def _sloppy_tf(pos: dict[str, list[int]], terms: list[str], slop: int) -> int:
    """Window starts v such that every phrase offset j has a position of
    its (distinct) term in [v + j, v + j + slop]; at slop 0 the exact
    phrase frequency."""
    adj = [[p - j for p in pos.get(t, ())] for j, t in enumerate(terms)]
    if not all(adj):
        return 0
    starts = sorted(set().union(*adj))
    return sum(1 for v in starts
               if all(any(v <= p <= v + slop for p in a) for a in adj))


class Reference:
    def __init__(self, rows: list[dict]):
        self.rows = {r["doc_id"]: r for r in rows}
        self.toks = {d: tokenize_py(r["text"]) for d, r in self.rows.items()}
        self.pos = {}
        for d, toks in self.toks.items():
            p: dict[str, list[int]] = {}
            for i, t in enumerate(toks):
                p.setdefault(t, []).append(i)
            self.pos[d] = p
        self.n = len(rows)
        self.avgdl = sum(len(t) for t in self.toks.values()) / self.n
        self.df = Counter(t for p in self.pos.values() for t in p)

    # --- per-clause contributions {doc: score} ----------------------------
    def term(self, t: str, boost: float = 1.0) -> dict[int, float]:
        idf = bm25_idf(self.n, self.df[t]) * boost
        return {d: idf * bm25_tf_part(len(p[t]), len(self.toks[d]), self.avgdl)
                for d, p in self.pos.items() if t in p}

    def wildcard(self, pattern: str, boost: float = 1.0) -> dict[int, float]:
        out: dict[int, float] = {}
        for t in self.df:
            if fnmatch.fnmatchcase(t, pattern):
                for d, s in self.term(t, boost).items():
                    out[d] = out.get(d, 0.0) + s
        return out

    def phrase(self, words: list[str], slop: int = 0,
               boost: float = 1.0) -> dict[int, float]:
        tf = {d: _sloppy_tf(p, words, slop) for d, p in self.pos.items()}
        tf = {d: f for d, f in tf.items() if f}
        idf = bm25_idf(self.n, len(tf)) * boost
        return {d: idf * bm25_tf_part(f, len(self.toks[d]), self.avgdl)
                for d, f in tf.items()}

    def field(self, name: str, value: str, boost: float = 1.0) -> dict[int, float]:
        """Single-token clause on an analyzed one-token field: tf = dl =
        avgdl = 1, so the clause scores its per-field idf."""
        hits = [d for d, r in self.rows.items() if r[name] == value]
        idf = bm25_idf(self.n, len(hits)) * boost
        return {d: idf * bm25_tf_part(1, 1, 1.0) for d in hits}

    @staticmethod
    def ranked(*parts: dict[int, float], eligible=None) -> list[tuple[int, float]]:
        total: dict[int, float] = {}
        for p in parts:
            for d, s in p.items():
                total[d] = total.get(d, 0.0) + s
        if eligible is not None:
            total = {d: total.get(d, 0.0) for d in eligible}
        return sorted(total.items(), key=lambda x: (-x[1], x[0]))

    def and_terms(self, terms: list[str]) -> list[tuple[int, float]]:
        docs = set.intersection(*(set(self.term(t)) for t in terms))
        return [x for x in self.ranked(*(self.term(t) for t in terms))
                if x[0] in docs]


# --- analyze: first-tick outlier sets in DuckDB ----------------------------

def _mad_frontier(con, table: str, group: str, value: str, s: float,
                  on: str) -> None:
    """``fr(<group>, frontier)``: the engine's MAD rule, falling back to
    mean ± 1 stdev when the MAD is 0."""
    sgn = 1 if on == "high" else -1
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE fr AS
        WITH med AS (SELECT {group}, quantile_cont({value}, 0.5) AS m
                     FROM {table} GROUP BY {group}),
        st AS (SELECT v.{group}, any_value(m.m) AS m,
                      quantile_cont(abs(v.{value} - m.m), 0.5) AS mad,
                      avg(v.{value}) AS a, stddev_pop(v.{value}) AS sd
               FROM {table} v JOIN med m USING ({group}) GROUP BY v.{group})
        SELECT {group}, CASE WHEN m + {sgn} * {s} * mad = m
                             THEN a + {sgn} * sd
                             ELSE m + {sgn} * {s} * mad END AS frontier
        FROM st""")


def _terms_fixpoint(con, one_pass, whitelisted: str) -> set:
    """Whitelist fixpoint: drop whitelisted outliers from the window and
    recompute until no flagged row is whitelisted."""
    con.execute("CREATE OR REPLACE TEMP TABLE work AS SELECT * FROM win")
    for _ in range(20):
        one_pass()
        n = con.execute(
            f"SELECT count(*) FROM flagged WHERE {whitelisted}").fetchone()[0]
        if n == 0:
            break
        con.execute(f"CREATE OR REPLACE TEMP TABLE work AS SELECT * FROM work "
                    f"WHERE event_id NOT IN (SELECT event_id FROM flagged "
                    f"WHERE {whitelisted})")
    return {str(r[0]) for r in con.execute("SELECT event_id FROM flagged").fetchall()}


def _shannon(s: str) -> float:
    b = s.encode("utf-8", errors="replace")
    if not b:
        return 0.0
    return -sum(c / len(b) * math.log2(c / len(b)) for c in Counter(b).values())


def duckdb_outliers(events_path: str, docs_paths: list[str], history,
                    sa_windows, sa_step_s: int) -> dict[str, set]:
    """Expected {model_name: doc keys} of the first tick, for the bundled
    use cases DuckDB can express. ``sa_windows`` is the sudden-appearance
    window schedule [(start, end)] over ``history``."""
    import duckdb

    con = duckdb.connect()
    lo, hi = history
    con.execute(f"CREATE TEMP TABLE win AS SELECT * FROM read_parquet('{events_path}') "
                f"WHERE ts BETWEEN TIMESTAMP '{lo}' AND TIMESTAMP '{hi}'")
    wl = "event_type = 'token_reset'"
    out = {}

    def within():
        con.execute("""CREATE OR REPLACE TEMP TABLE tc AS
            SELECT CAST(user_id AS VARCHAR) AS agg, event_type,
                   CAST(count(*) AS DOUBLE) AS c
            FROM work GROUP BY ALL""")
        con.execute("""CREATE OR REPLACE TEMP TABLE flagged AS
            SELECT w.* FROM work w
            JOIN tc ON CAST(w.user_id AS VARCHAR) = tc.agg
                   AND w.event_type = tc.event_type
            WHERE tc.c < 2""")

    def across():
        con.execute("""CREATE OR REPLACE TEMP TABLE flagged AS
            SELECT w.* FROM work w JOIN (
                SELECT event_type FROM work GROUP BY event_type
                HAVING count(DISTINCT user_id) < 400) USING (event_type)""")

    out["terms_within_user_event"] = _terms_fixpoint(con, within, wl)
    out["terms_across_rare_type"] = _terms_fixpoint(con, across, wl)

    vals = ", ".join(f"({i}, TIMESTAMP '{s}', TIMESTAMP '{e}')"
                     for i, (s, e) in enumerate(sa_windows))
    out["sudden_appearance_user_event"] = {str(r[0]) for r in con.execute(f"""
        WITH wins(w_id, ws, we) AS (VALUES {vals}),
        firsts AS (
            SELECT w_id, we, min_by(event_id, ts) AS event_id, min(ts) AS t0
            FROM win JOIN wins ON ts >= ws AND ts <= we
            GROUP BY w_id, we, user_id, event_type)
        SELECT DISTINCT event_id FROM firsts
        WHERE t0 > we - INTERVAL {sa_step_s} SECONDS
          AND event_id NOT IN (SELECT event_id FROM win WHERE {wl})
    """).fetchall()}

    files = ", ".join(f"'{p}'" for p in docs_paths)
    con.execute(f"CREATE TEMP TABLE docs AS SELECT * FROM read_parquet([{files}])")
    word = "(^|[^a-z0-9])%s($|[^a-z0-9])"
    out["simplequery_rare_pair"] = {str(r[0]) for r in con.execute(f"""
        SELECT doc_id FROM docs
        WHERE regexp_matches(lower(text), '{word % 'z7'}')
          AND regexp_matches(lower(text), '{word % 'window[^a-z0-9]+stream'}')
    """).fetchall()}

    con.execute("""CREATE TEMP TABLE lv AS
        SELECT doc_id, source AS agg, CAST(length(text) AS DOUBLE) AS v FROM docs""")
    _mad_frontier(con, "lv", "agg", "v", 3.0, "high")
    out["metrics_text_length"] = {str(r[0]) for r in con.execute(
        "SELECT doc_id FROM lv JOIN fr USING (agg) WHERE v > frontier").fetchall()}

    rows = con.execute(f"""SELECT doc_id, lang, text FROM docs
        WHERE regexp_matches(lower(text), '{word % 'window'}')
           OR regexp_matches(lower(text), '{word % 'stream'}')""").fetchall()
    con.execute("CREATE TEMP TABLE ev (doc_id BIGINT, agg VARCHAR, v DOUBLE)")
    con.executemany("INSERT INTO ev VALUES (?, ?, ?)",
                    [(d, lang, _shannon(t)) for d, lang, t in rows])
    _mad_frontier(con, "ev", "agg", "v", 3.0, "low")
    out["metrics_text_entropy"] = {str(r[0]) for r in con.execute(
        "SELECT doc_id FROM ev JOIN fr USING (agg) WHERE v < frontier").fetchall()}
    con.close()
    return out
