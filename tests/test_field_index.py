"""Per-field analyzed search (round-4 verdict #3): ES analyzes every text
field and `field:value` searches the analyzed terms unless `.keyword`
(reference query strings like `OsqueryFilter.cmdline:"-W hidden"`,
/root/reference/app/helpers/es.py:238-250 + use_cases/examples/*.conf).
The engine stores per-field terms as `field:token` dictionary entries in
the same segment layout (Lucene per-field terms), so field atoms resolve
index-backed — terms, phrases, slop — and score BM25 with the field's OWN
stats: per-field df, docCount-based idf, and the field's dl/avgdl length
norm read from the per-field "field:" doclen sidecar rows (Lucene
per-field similarity)."""

import math

import pytest
from pyspark.sql import functions as F

from ee_outliers_spark.index.build import build_segments, load_stats
from ee_outliers_spark.index.filter import indexed_filter, matching_ids, text_only
from ee_outliers_spark.index.query import querystring_topk, search_topk
from ee_outliers_spark.queryparser import (
    FieldEq, FieldText, parse_query_string, resolve_analyzed,
    to_spark_predicate,
)
from ee_outliers_spark.tokenizer import tokenize_py, tokens_col

F_COLS = ["doc_id", "text", "lang", "source", "n_chars", "title"]


@pytest.fixture(scope="module")
def titled_docs(documents):
    return documents.withColumn(
        "title", F.array_join(F.slice(tokens_col("text"), 1, 5), " "))


@pytest.fixture(scope="module")
def field_paths(spark, titled_docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("field_idx"))
    return build_segments(spark, titled_docs, "doc_id", "text", out,
                          num_segments=4, positions=True,
                          analyzed_fields=["title"], resume=False)


def test_stats_record_analyzed_fields(field_paths):
    assert load_stats(field_paths).get("analyzed_fields") == ["title"]


@pytest.mark.parametrize("qs", [
    "title:batch",
    'title:"key order"',
    'title:"key order"~1',
    "title:batch AND window",
    "NOT title:batch AND merge",
    "title:batch OR title:scan",
    'customer AND NOT title:"key order"',
])
def test_field_filter_matches_raw_predicate(qs, spark, titled_docs,
                                            field_paths):
    """Index-backed field atoms ≡ the raw compile of the SAME (rewritten)
    AST against the title column — and the whole boolean is text-only after
    the analyzed rewrite, so it runs on the postings-only set-algebra
    path."""
    node = parse_query_string(qs)
    rnode = resolve_analyzed(node, ["title"])
    assert text_only(rnode, True)
    got = sorted(int(r["doc_id"]) for r in indexed_filter(
        spark, field_paths, titled_docs, "doc_id", "text", node, F_COLS,
    ).select("doc_id").collect())
    want = sorted(int(r["doc_id"]) for r in titled_docs.where(
        to_spark_predicate(rnode, "text", F_COLS)).select("doc_id").collect())
    assert got == want, qs
    # matching_ids directly (the ES filter-context path) agrees too
    mids = sorted(int(r["doc_id"]) for r in
                  matching_ids(spark, field_paths, node).collect())
    assert mids == want, qs


def test_keyword_suffix_bypasses_analysis(spark, titled_docs, field_paths):
    """`title.keyword:value` stays exact raw equality (ES .keyword
    semantics) — no doc's title is exactly 'batch' unless the whole value
    equals it."""
    node = parse_query_string('title.keyword:"batch"')
    assert resolve_analyzed(node, ["title"]) == node  # no rewrite
    got = sorted(int(r["doc_id"]) for r in indexed_filter(
        spark, field_paths, titled_docs, "doc_id", "text", node, F_COLS,
    ).select("doc_id").collect())
    want = sorted(int(r["doc_id"]) for r in titled_docs.where(
        F.col("title") == "batch").select("doc_id").collect())
    assert got == want


def test_unanalyzed_index_keeps_raw_equality(spark, titled_docs,
                                             tmp_path_factory):
    """On an index WITHOUT analyzed_fields the same query string keeps
    FieldEq raw-equality semantics — the mapping decides, like ES."""
    out = str(tmp_path_factory.mktemp("plain_idx"))
    paths = build_segments(spark, titled_docs, "doc_id", "text", out,
                           num_segments=2, positions=True, resume=False)
    node = parse_query_string("title:batch OR window")
    got = sorted(int(r["doc_id"]) for r in indexed_filter(
        spark, paths, titled_docs, "doc_id", "text", node, F_COLS,
    ).select("doc_id").collect())
    want = sorted(int(r["doc_id"]) for r in titled_docs.where(
        (F.col("title") == "batch")
        | to_spark_predicate(parse_query_string("window"), "text", F_COLS)
    ).select("doc_id").collect())
    assert got == want


def _brute_field_scores(docs_rows, term, k1=1.2, b=0.75):
    """Per-doc BM25 of one title term with the FIELD's own stats: per-field
    df, docCount(title)-based idf, title dl/avgdl norm (Lucene per-field
    similarity — what the engine now implements)."""
    tfs = {}
    fdls = []
    for r in docs_rows:
        ttoks = tokenize_py(r["title"])
        if ttoks:
            fdls.append(len(ttoks))
        tf = ttoks.count(term)
        if tf:
            tfs[int(r["doc_id"])] = (tf, len(ttoks))
    n_docs = len(fdls)                      # docCount of the field
    avgdl = sum(fdls) / n_docs
    df = len(tfs)
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    return {
        d: idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        for d, (tf, dl) in tfs.items()
    }


def test_scored_field_term_rank_identity(spark, titled_docs, field_paths):
    """querystring_topk('title:batch') ≡ brute-force per-field BM25 over
    the corpus — rank-identical, scores to 1e-9."""
    rows = titled_docs.select("doc_id", "text", "title").collect()
    want = _brute_field_scores(rows, "batch")
    order = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    got = querystring_topk(spark, field_paths, "title:batch", 15).collect()
    assert [int(r["doc_id"]) for r in got] == [d for d, _ in order]
    for r, (_, s) in zip(got, order):
        assert abs(float(r["score"]) - s) < 1e-9


def test_scored_mixed_field_and_text(spark, titled_docs, field_paths):
    """`title:batch window` sums the field clause (qualified df) and the
    main-text clause (text df) — equal to the two single-clause scorers
    summed per doc."""
    f_scores = {int(r["doc_id"]): float(r["score"]) for r in querystring_topk(
        spark, field_paths, "title:batch", 10_000).collect()}
    t_scores = {int(r["doc_id"]): float(r["score"]) for r in querystring_topk(
        spark, field_paths, "window", 10_000).collect()}
    want = {}
    for d, s in f_scores.items():
        want[d] = want.get(d, 0.0) + s
    for d, s in t_scores.items():
        want[d] = want.get(d, 0.0) + s
    got = querystring_topk(spark, field_paths, "title:batch window",
                           10_000).collect()
    assert len(got) == len(want)
    for r in got:
        assert abs(float(r["score"]) - want[int(r["doc_id"])]) < 1e-9


def test_search_topk_field_clause_filters_and_scores(spark, titled_docs,
                                                     field_paths):
    """search_topk composes: the field atom both gates (eligibility) and
    scores (positive text atom) — hits ⊆ title:batch docs, scores > 0."""
    out = search_topk(spark, field_paths, titled_docs, "doc_id", "text",
                      "title:batch AND NOT lang:de", 10, F_COLS).collect()
    assert out
    batch_ids = {int(r["doc_id"]) for r in titled_docs.where(
        F.array_contains(tokens_col("title"), "batch")
        & (F.col("lang") != "de")).select("doc_id").collect()}
    for r in out:
        assert int(r["doc_id"]) in batch_ids
        assert float(r["score"]) > 0


def test_append_preserves_field_terms(spark, titled_docs, tmp_path_factory):
    """append_segments inherits analyzed_fields from the commit point: a
    doc appended later is findable via its title terms."""
    from ee_outliers_spark.streaming.daemon import append_segments

    out = str(tmp_path_factory.mktemp("field_idx_inc"))
    half1 = titled_docs.where(F.col("doc_id") % 2 == 0)
    half2 = titled_docs.where(F.col("doc_id") % 2 == 1)
    paths = build_segments(spark, half1, "doc_id", "text", out,
                           num_segments=2, positions=True,
                           analyzed_fields=["title"], resume=False)
    append_segments(spark, half2, paths, num_segments=2)
    node = parse_query_string("title:batch")
    got = sorted(int(r["doc_id"]) for r in
                 matching_ids(spark, paths, node).collect())
    want = sorted(int(r["doc_id"]) for r in titled_docs.where(
        F.array_contains(tokens_col("title"), "batch")
    ).select("doc_id").collect())
    assert got == want
    assert any(d % 2 == 1 for d in got)  # appended half is represented


def test_field_slop_resolves_positionally(spark, titled_docs, field_paths):
    """`title:"a c"~2` uses the PER-FIELD position lists: windowed match
    within the title tokens only — verified against a python brute force
    over title token positions."""
    rows = titled_docs.select("doc_id", "title").collect()

    def brute(toks, a, b, slop):
        pa = [i for i, t in enumerate(toks) if t == a]
        pb = [i for i, t in enumerate(toks) if t == b]
        for i in pa:
            for j in pb:
                d = (j - i - 1) if j > i else (i - j + 1)
                if d <= slop:
                    return True
        return False

    for qs, a, b, slop in [('title:"key scan"~2', "key", "scan", 2),
                           ('title:"order key"~1', "order", "key", 1)]:
        want = sorted(int(r["doc_id"]) for r in rows
                      if brute(tokenize_py(r["title"]), a, b, slop))
        got = sorted(int(r["doc_id"]) for r in matching_ids(
            spark, field_paths, parse_query_string(qs)).collect())
        assert got == want, qs


def test_field_boost_scales_bm25(spark, titled_docs, field_paths):
    """`title:batch^2` doubles the field clause's BM25 contribution once
    the field resolves analyzed (keyword FieldEq keeps boost as a
    filter-context no-op, like ES)."""
    base = {int(r["doc_id"]): float(r["score"]) for r in querystring_topk(
        spark, field_paths, "title:batch", 10_000).collect()}
    boosted = querystring_topk(spark, field_paths, "title:batch^2",
                               10_000).collect()
    assert boosted and len(boosted) == len(base)
    for r in boosted:
        assert abs(float(r["score"]) - 2.0 * base[int(r["doc_id"])]) < 1e-9


def test_resolve_analyzed_shapes():
    n = parse_query_string('title:"a b"~2 AND lang:en')
    r = resolve_analyzed(n, ["title"])
    ft = r.parts[0]
    assert isinstance(ft, FieldText) and ft.slop == 2
    assert r.parts[1] == FieldEq("lang", "en")  # non-analyzed untouched


def test_field_stats_recorded(titled_docs, field_paths):
    """stats.json carries the field's docCount + avgdl (from the per-field
    "title:" sidecar totals) — the inputs to per-field BM25."""
    fs = load_stats(field_paths)["field_stats"]["title"]
    rows = titled_docs.select("title").collect()
    fdls = [len(tokenize_py(r["title"])) for r in rows]
    fdls = [d for d in fdls if d > 0]
    assert fs["n_docs"] == len(fdls)
    assert abs(fs["avgdl"] - sum(fdls) / len(fdls)) < 1e-9


@pytest.fixture(scope="module")
def skewed_docs(spark):
    """Titles and texts whose length orderings OPPOSE each other: under the
    field's norm short-title docs outrank long-title docs; under the
    main-text norm the ordering reverses — the exact case a main-text-norm
    FieldText scorer gets wrong."""
    rows = [
        (i, "filler " * (60 - 8 * i) + "anchor",
         "batch " + "pad " * (2 * i))
        for i in range(6)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, title string")


def test_per_field_norm_rank_divergence(spark, skewed_docs, tmp_path_factory):
    """Rank identity with the FIELD-norm brute force on a corpus where the
    field norm and the main-text norm order docs differently (title dl
    ascends while text dl descends) — pins that scoring really uses the
    field's lengths, not the text's."""
    out = str(tmp_path_factory.mktemp("skew_idx"))
    paths = build_segments(spark, skewed_docs, "doc_id", "text", out,
                           num_segments=2, positions=True,
                           analyzed_fields=["title"], resume=False)
    rows = skewed_docs.collect()
    want = _brute_field_scores(rows, "batch")
    order = [d for d, _ in sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))]
    assert order == [0, 1, 2, 3, 4, 5]  # shortest title first

    # the OLD semantics (main-text dl/avgdl, corpus docCount) ranks the
    # other way — proves this corpus actually discriminates the two norms
    n = len(rows)
    avg_text = sum(len(tokenize_py(r["text"])) for r in rows) / n
    df = len(want)
    idf_m = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    main = {
        int(r["doc_id"]): idf_m * 2.2 / (1.0 + 1.2 * (
            0.25 + 0.75 * len(tokenize_py(r["text"])) / avg_text))
        for r in rows
    }
    main_order = [d for d, _ in
                  sorted(main.items(), key=lambda kv: (-kv[1], kv[0]))]
    assert main_order != order

    got = querystring_topk(spark, paths, "title:batch", 10).collect()
    assert [int(r["doc_id"]) for r in got] == order
    for r in got:
        assert abs(float(r["score"]) - want[int(r["doc_id"])]) < 1e-9

    # the WAND path over the same qualified dictionary term agrees exactly
    from ee_outliers_spark.index.query import bm25_topk_wand

    wand = bm25_topk_wand(spark, paths, ["title:batch"], 10).collect()
    assert [int(r["doc_id"]) for r in wand] == order
    for r in wand:
        assert abs(float(r["score"]) - want[int(r["doc_id"])]) < 1e-9


def test_merge_preserves_field_norms(spark, skewed_docs, tmp_path_factory):
    """Full compaction of a per-field index merges the "title:" norm
    sidecars like doclen sidecars — scores are unchanged afterwards."""
    from ee_outliers_spark.index.merge import merge_segments

    out = str(tmp_path_factory.mktemp("skew_idx_merge"))
    paths = build_segments(spark, skewed_docs, "doc_id", "text", out,
                           num_segments=4, positions=True,
                           analyzed_fields=["title"], resume=False)
    before = [(int(r["doc_id"]), float(r["score"])) for r in
              querystring_topk(spark, paths, "title:batch", 10).collect()]
    merge_segments(spark, paths, fanin=4)
    assert len(load_stats(paths)["live_segments"]) == 1
    after = [(int(r["doc_id"]), float(r["score"])) for r in
             querystring_topk(spark, paths, "title:batch", 10).collect()]
    assert [d for d, _ in after] == [d for d, _ in before]
    for (_, a), (_, b) in zip(after, before):
        assert abs(a - b) < 1e-9


def _brute_qs(rows, clauses, k1=1.2, b=0.75):
    """Full BM25 ranking [(doc_id, score)] of a query_string's positive
    clauses, by brute force over the raw rows: every dictionary term that
    a term / wildcard / regexp / fuzzy clause names or accepts is its own
    clause weighted by the summed boosts, phrases score their sloppy tf
    with their own df. ``title:`` terms and phrases use the title's
    docCount, avgdl and lengths. Clauses: ("t", term, boost),
    ("w", fnmatch pattern, boost), ("r", regex, boost), ("f", token,
    max_edits, boost), ("p", tokens, slop, boost, field or None)."""
    import fnmatch
    import re

    import numpy as np
    from reference_scorers import sloppy_tf

    from ee_outliers_spark.queryparser import levenshtein_py

    toks = {None: {int(r["doc_id"]): tokenize_py(r["text"]) for r in rows},
            "title": {int(r["doc_id"]): tokenize_py(r["title"])
                      for r in rows}}
    norms = {None: (len(rows), sum(map(len, toks[None].values())) / len(rows))}
    fl = [len(t) for t in toks["title"].values() if t]
    norms["title"] = (len(fl), sum(fl) / len(fl))
    vocab = {t for ts in toks[None].values() for t in ts}

    def add_scores(total, tfs, field, boost):
        n, avgdl = norms[field]
        idf = math.log(1.0 + (n - len(tfs) + 0.5) / (len(tfs) + 0.5)) * boost
        for d, tf in tfs.items():
            dl = len(toks[field][d])
            total[d] = total.get(d, 0.0) + idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * dl / avgdl))

    weights: dict[str, float] = {}
    phrases = []
    for c in clauses:
        if c[0] == "p":
            phrases.append(c[1:])
            continue
        if c[0] == "t":
            hits = [c[1]]
        elif c[0] == "w":
            hits = [t for t in vocab if fnmatch.fnmatchcase(t, c[1])]
        elif c[0] == "r":
            hits = [t for t in vocab if re.fullmatch(c[1], t)]
        else:
            hits = [t for t in vocab if levenshtein_py(t, c[1]) <= c[2]]
        for t in hits:
            weights[t] = weights.get(t, 0.0) + c[-1]
    total: dict[int, float] = {}
    for term, w in weights.items():
        field, tok = (term.split(":") if ":" in term else (None, term))
        tfs = {d: ts.count(tok) for d, ts in toks[field].items()
               if tok in ts}
        add_scores(total, tfs, field, w)
    for ptoks, slop, boost, field in phrases:
        tfs = {}
        for d, ts in toks[field].items():
            plists = {t: (np.array([d]),
                          np.array([i for i, x in enumerate(ts) if x == t]),
                          np.array([ts.count(t)])) for t in set(ptoks)}
            tf = sloppy_tf(plists, ptoks, d, slop)
            if tf:
                tfs[d] = tf
        add_scores(total, tfs, field, boost)
    return sorted(total.items(), key=lambda kv: (-kv[1], kv[0]))


@pytest.mark.parametrize("qs,clauses", [
    # a literal term also matched by two wildcards: its boosts sum
    ("scan s* sc?n", [("t", "scan", 1.0), ("w", "s*", 1.0),
                      ("w", "sc?n", 1.0)]),
    ("/s[a-z]{3}/^2 spork~1 title:batch^0.5",
     [("r", "s[a-z]{3}", 2.0), ("f", "spork", 1, 1.0),
      ("t", "title:batch", 0.5)]),
    # boosted sloppy phrase + a repeated-term phrase
    ('"key order"~2^2 "batch batch"~1 window',
     [("p", ["key", "order"], 2, 2.0, None),
      ("p", ["batch", "batch"], 1, 1.0, None), ("t", "window", 1.0)]),
    ('title:"key order"~1^1.5 "merge part" customer^0.5 dup',
     [("p", ["key", "order"], 1, 1.5, "title"),
      ("p", ["merge", "part"], 0, 1.0, None), ("t", "customer", 0.5),
      ("t", "dup", 1.0)]),
    # a single-token phrase scores as its term
    ('"window" window^2 wndow~1', [("t", "window", 1.0), ("t", "window", 2.0),
                                   ("f", "wndow", 1, 1.0)]),
    ('/qqq.*/ nosuchterm "no such phrase" zzz* xyzzy~1', []),
])
def test_querystring_topk_rank_identity(qs, clauses, spark, titled_docs,
                                        field_paths):
    """querystring_topk ≡ brute-force BM25 over the raw corpus on a
    4-segment positional index with an analyzed field, for k from 1 to
    past the number of matching docs: the per-segment candidate cut and the
    driver merge lose no doc, scores to 1e-9."""
    assert len(load_stats(field_paths)["live_segments"]) >= 4
    want = _brute_qs(titled_docs.select("doc_id", "text", "title").collect(),
                     clauses)
    assert bool(want) == bool(clauses), qs
    for k in (1, 5, 10, 50, len(want) + 7):
        got = [(int(r["doc_id"]), float(r["score"])) for r in
               querystring_topk(spark, field_paths, qs, k).collect()]
        assert [d for d, _ in got] == [d for d, _ in want[:k]], (qs, k)
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), (qs, k)
