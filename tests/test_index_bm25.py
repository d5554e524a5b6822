"""Rank-identity of the distributed BM25 executors vs the pure-Python oracle
(SURVEY §7.1 steps 2/4/5): naive DataFrame path, compressed SPIMI segment +
block-max WAND path, and phrase scoring. Ranks exact; scores to 1e-6."""

import math

import pytest

from ee_outliers_spark.index.build import (
    build_doc_lengths, build_postings, build_segments, corpus_stats,
)
from ee_outliers_spark.index.query import bm25_topk_df, bm25_topk_wand
from ee_outliers_spark.oracle import OracleIndex

K = 20

TERM_SETS = [
    (["vector"], "or"),
    (["the"], "or"),                      # head term
    (["vector", "zebra"], "or"),          # rare + missing
    (["customer", "window", "batch"], "or"),
    (["customer", "window", "batch"], "and"),
    (["the", "vector"], "and"),           # head + rare conjunction (WAND path)
    (["nosuchterm"], "or"),
    (["the", "nosuchterm"], "and"),       # conjunction w/ zero-df term → empty
]


@pytest.fixture(scope="module")
def oracle(docs_dict):
    return OracleIndex(docs_dict)


@pytest.fixture(scope="module")
def naive(spark, documents):
    postings = build_postings(documents, "doc_id", "text").cache()
    doclen = build_doc_lengths(documents, "doc_id", "text").cache()
    n, avgdl = corpus_stats(doclen)
    return postings, doclen, n, avgdl


@pytest.fixture(scope="module")
def seg_paths(spark, documents, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    return build_segments(spark, documents, "doc_id", "text", out, num_segments=8)


def _check(got_rows, expected):
    got = [(int(r["doc_id"]), float(r["score"])) for r in got_rows]
    assert [g[0] for g in got] == [e[0] for e in expected], "rank mismatch"
    for (gd, gs), (ed, es) in zip(got, expected):
        assert math.isclose(gs, es, rel_tol=1e-6, abs_tol=1e-9), (gd, gs, es)


@pytest.mark.parametrize("terms,mode", TERM_SETS)
def test_df_path_rank_identity(terms, mode, naive, oracle):
    postings, doclen, n, avgdl = naive
    got = bm25_topk_df(postings, doclen, n, avgdl, terms, K, mode).collect()
    _check(got, oracle.topk(terms, K, mode))


@pytest.mark.parametrize("terms,mode", TERM_SETS)
def test_wand_path_rank_identity(terms, mode, spark, seg_paths, oracle):
    got = bm25_topk_wand(spark, seg_paths, terms, K, mode).collect()
    _check(got, oracle.topk(terms, K, mode))


@pytest.fixture(scope="module")
def pos_paths(spark, documents, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index_pos"))
    return build_segments(spark, documents, "doc_id", "text", out,
                          num_segments=8, positions=True)


@pytest.mark.parametrize("phrase", [
    "key order", "batch batch", "no such phrase here", "vector"])
def test_phrase_wand_rank_identity(phrase, spark, pos_paths, oracle):
    """Index-backed phrase path (positional postings) ≡ the full-corpus
    re-tokenize oracle, including duplicate-token phrases, single-token
    degeneration, and the empty phrase."""
    from ee_outliers_spark.index.query import phrase_topk_wand
    from ee_outliers_spark.tokenizer import tokenize_py

    got = phrase_topk_wand(spark, pos_paths, phrase, K).collect()
    _check(got, oracle.phrase_topk(tokenize_py(phrase), K))


def test_phrase_wand_requires_positions(spark, seg_paths):
    from ee_outliers_spark.index.query import phrase_topk_wand

    with pytest.raises(ValueError, match="positional"):
        phrase_topk_wand(spark, seg_paths, "key order", K)


def test_phrase_wand_empty_phrase_matches_nothing(spark, pos_paths):
    """Lucene semantics: an empty/all-separator phrase is MatchNoDocs."""
    from ee_outliers_spark.index.query import phrase_topk_wand

    assert phrase_topk_wand(spark, pos_paths, "", K).count() == 0
    assert phrase_topk_wand(spark, pos_paths, "--- !!", K).count() == 0


def test_phrase_wand_survives_append_and_tier_merge(
        spark, documents, tmp_path_factory, oracle):
    """Positions flow through incremental appends and LSM tier merges:
    build half, append half, tier-merge, and the phrase ranks still equal
    the whole-corpus oracle."""
    from pyspark.sql import functions as F

    from ee_outliers_spark.index.merge import merge_tier
    from ee_outliers_spark.index.query import phrase_topk_wand
    from ee_outliers_spark.streaming.daemon import append_segments
    from ee_outliers_spark.tokenizer import tokenize_py

    out = str(tmp_path_factory.mktemp("index_pos_inc"))
    p = build_segments(spark, documents.where(F.col("doc_id") % 2 == 0),
                       "doc_id", "text", out, num_segments=4, positions=True)
    append_segments(spark, documents.where(F.col("doc_id") % 2 == 1),
                    p, num_segments=4)
    merge_tier(spark, p, fanin=4)
    got = phrase_topk_wand(spark, p, "key order", K).collect()
    _check(got, oracle.phrase_topk(tokenize_py("key order"), K))
    # WAND term queries agree too (live-segment commit point is consistent)
    got2 = bm25_topk_wand(spark, p, ["customer", "window"], K, "or").collect()
    _check(got2, oracle.topk(["customer", "window"], K, "or"))


def test_phrase_topk_ties_across_segments(spark, tmp_path_factory):
    """phrase_topk_wand merges per-segment candidates on the driver: when
    the k-th score is shared by docs in every segment, each segment must
    ship all of its docs tied at its local k-th value, so that the merge
    keeps the oracle's order (score desc, doc_id asc) for every k."""
    from ee_outliers_spark.index.query import phrase_topk_wand

    rows = []
    for d in range(60):
        if d % 7 == 3:
            text = "alpha beta alpha beta x"      # tf 2: tied at the top
        elif d % 3 == 0:
            text = "beta alpha x y"               # no phrase
        else:
            text = "alpha beta x y"               # tf 1: one big tie
        rows.append((d, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    p = build_segments(spark, docs, "doc_id", "text",
                       str(tmp_path_factory.mktemp("index_phrase_ties")),
                       num_segments=4, positions=True)
    oracle = OracleIndex({d: t for d, t in rows})
    for k in (1, 5, 9, 12, 40, 60):
        got = phrase_topk_wand(spark, p, "alpha beta", k).collect()
        _check(got, oracle.phrase_topk(["alpha", "beta"], k))


def test_wand_multiblock_tied_pivot(spark, tmp_path_factory):
    """Regression: with >128 postings per list (multiple blocks, so block_ub
    < max_score) and cursors TIED on the pivot doc, the block-max upper bound
    must include every tied cursor — the round-1 code summed live[:pivot_i+1]
    only and silently dropped true top-k docs once the heap filled."""
    rows = []
    # 300 docs all containing alpha+beta+gamma (3 cursors, lists >2 blocks,
    # always tied on the pivot); tf/dl patterns make late docs the winners.
    for d in range(300):
        boost = 6 if d % 97 == 5 else 1
        text = " ".join(
            ["alpha"] * boost + ["beta"] * (1 + d % 3) + ["gamma"]
            + ["filler%d" % (d % 7)] * (d % 11)
        )
        rows.append((d, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("index_tied"))
    p = build_segments(spark, docs, "doc_id", "text", out, num_segments=1)
    oracle = OracleIndex({d: t for d, t in rows})
    for k in (1, 3, 10):
        got = bm25_topk_wand(spark, p, ["alpha", "beta", "gamma"], k, "or").collect()
        _check(got, oracle.topk(["alpha", "beta", "gamma"], k, "or"))


def test_indexed_filter_matches_predicate_and_avoids_regex(
        spark, documents, seg_paths):
    """Filter context through posting-list semi-joins: same rows as the
    regex compilation, and the physical plan contains NO rlike over the
    text column for single-token terms (VERDICT round-1 'what's wrong' #3)."""
    from ee_outliers_spark.index.filter import indexed_filter
    from ee_outliers_spark.queryparser import parse_query_string, to_spark_predicate

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    node = parse_query_string("window AND customer AND _exists_:lang")
    want = sorted(r["doc_id"] for r in documents.where(
        to_spark_predicate(node, "text", cols)).select("doc_id").collect())
    out = indexed_filter(spark, seg_paths, documents, "doc_id", "text",
                         node, cols)
    got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert got == want and got
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rlike" not in plan.lower()
    # negated terms still compose (marker truth value under NOT)
    node2 = parse_query_string("window NOT customer")
    want2 = sorted(r["doc_id"] for r in documents.where(
        to_spark_predicate(node2, "text", cols)).select("doc_id").collect())
    got2 = sorted(r["doc_id"] for r in indexed_filter(
        spark, seg_paths, documents, "doc_id", "text", node2, cols
    ).select("doc_id").collect())
    assert got2 == want2


def test_matching_ids_postings_only(spark, documents, pos_paths,
                                   monkeypatch):
    """Text-only booleans resolve ENTIRELY off the index (matching_ids —
    the ES _count / filter-context fast path): same doc set as the regex
    compilation over the corpus across atom shapes, including the
    no-positive-guarantee case (top-level NOT / match-all) that needs the
    doclen-sidecar universe instead of the docs table."""
    from ee_outliers_spark.index.filter import matching_ids, text_only
    from ee_outliers_spark.queryparser import (
        parse_query_string, to_spark_predicate,
    )

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    for qs in [
        'window AND (cust* OR batch) AND NOT "batch batch"',
        "NOT window",                       # universe path (no guarantee)
        'custoner~1 OR "order key"~2',
        "*",                                # match_all → whole universe
        'window NOT (customer OR "key order")',
        "nosuchterm",                       # nothing matches
        "NOT batch AND NOT window",         # pure-negative conjunction
        'batch OR NOT "key order"',         # Not under Or (universe path)
        'batch AND "key order"',            # phrase restricted by sibling
        'batch AND NOT "key order"~1',      # subtracted sloppy phrase
        '(window OR batch) AND NOT (cust* AND NOT batch)',  # nested Not
    ]:
        node = parse_query_string(qs)
        assert text_only(node, positional=True), qs
        want = sorted(r["doc_id"] for r in documents.where(
            to_spark_predicate(node, "text", cols)
        ).select("doc_id").collect())
        got = sorted(r["doc_id"] for r in
                     matching_ids(spark, pos_paths, node).collect())
        assert got == want, qs
    # field/range/exists atoms are NOT decidable from postings
    for qs in ["window AND lang:en", "n_chars:[10 TO 200]",
               "_exists_:source"]:
        assert not text_only(parse_query_string(qs), positional=True), qs
    # the doclen-sidecar universe is read only when NOT/match-all needs it:
    # the rows that segment_map receives for a positive-only boolean have
    # no doclen leg, and `X AND NOT Y` evaluates the NOT as subtraction
    # from the positive conjunction (Lucene ReqExcl) — no universe either
    import ee_outliers_spark.index.filter as filt

    seen = []
    real = filt.segment_map

    def spy(spark_, paths_, rows, kernel, schema):
        seen.append(rows)
        return real(spark_, paths_, rows, kernel, schema)

    monkeypatch.setattr(filt, "segment_map", spy)
    for qs, universe in [("window AND cust*", False), ("NOT window", True),
                         ('window AND NOT "batch batch"', False)]:
        seen.clear()
        matching_ids(spark, pos_paths, parse_query_string(qs))
        assert [r.doclen for r in seen] == [universe], qs


def test_matching_ids_agrees_on_full_query_corpus(spark, documents,
                                                  pos_paths):
    """4th-backend agreement: every TEXT-ONLY query in the parser test
    corpus (tests/test_queryparser.QUERIES — terms, phrases, slop,
    wildcards, fuzzy, negation, match-all, groups) produces the same doc
    set from the postings-only evaluator as from the Spark predicate
    compilation over raw text."""
    from test_queryparser import QUERIES

    from ee_outliers_spark.index.filter import matching_ids, text_only
    from ee_outliers_spark.queryparser import (
        parse_query_string, to_spark_predicate,
    )

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    covered = 0
    for q in QUERIES:
        node = parse_query_string(q)
        if not text_only(node, positional=True):
            continue
        covered += 1
        want = sorted(r["doc_id"] for r in documents.where(
            to_spark_predicate(node, "text", cols)
        ).select("doc_id").collect())
        got = sorted(r["doc_id"] for r in
                     matching_ids(spark, pos_paths, node).collect())
        assert got == want, q
    assert covered >= 12  # the corpus carries a real text-only spread


def test_matching_ids_randomized_booleans(spark, documents, pos_paths,
                                          docs_dict):
    """Seeded random boolean ASTs (terms / wildcards / regexps / fuzzies /
    phrases under nested And/Or/Not) stress the per-segment set-algebra
    evaluator beyond the hand-written corpus: results must equal the pure
    Python compilation of the same AST over the raw rows."""
    import random

    from ee_outliers_spark.index.filter import matching_ids, text_only
    from ee_outliers_spark.queryparser import (
        And, Fuzzy, Not, Or, Phrase, Regexp, Term, Wildcard,
        to_python_predicate,
    )

    rng = random.Random(20260817)
    vocab = ["the", "customer", "window", "batch", "key", "order", "fast",
             "slow", "vector", "stream", "zebraqq"]

    def leaf():
        r = rng.random()
        t = rng.choice(vocab)
        if r < 0.4:
            return Term(t)
        if r < 0.55:
            return Wildcard(t[: rng.randint(1, 3)] + "*")
        if r < 0.7:
            return Regexp(t[:2] + "[a-z0-9]*")
        if r < 0.8:
            return Fuzzy(t, 1)
        t2 = rng.choice(vocab)
        return Phrase(f"{t} {t2}", slop=rng.choice([0, 0, 1, 2]))

    def gen(depth):
        if depth == 0 or rng.random() < 0.35:
            return leaf()
        kids = [gen(depth - 1) for _ in range(rng.randint(2, 3))]
        shape = rng.random()
        if shape < 0.45:
            return And(kids)
        if shape < 0.9:
            return Or(kids)
        return Not(gen(depth - 1))

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    rows = [{"doc_id": d, "text": t} for d, t in docs_dict.items()]
    checked = 0
    for _ in range(25):
        node = gen(2)
        assert text_only(node, positional=True)
        pred = to_python_predicate(node, "text", cols)
        want = sorted(r["doc_id"] for r in rows if pred(r))
        got = sorted(r["doc_id"] for r in
                     matching_ids(spark, pos_paths, node).collect())
        assert got == want, node
        checked += 1
    assert checked == 25


def test_text_only_filter_never_reads_corpus_text(spark, sf_dir, pos_paths):
    """indexed_filter on a text-only boolean collapses to matching_ids + a
    left-semi join: the docs-side parquet scan reads ONLY the join key
    (column pruning visible in ReadSchema) — at 100 TB the corpus text is
    never touched by a filter/count query."""
    from ee_outliers_spark.index.filter import indexed_filter
    from ee_outliers_spark.queryparser import parse_query_string

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    node = parse_query_string('window AND (cust* OR batch)')
    out = indexed_filter(spark, pos_paths, docs, "doc_id", "text", node,
                         cols).select("doc_id")  # the count/ids query shape
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    import re
    doc_scans = [m for m in re.findall(r"ReadSchema: struct<[^>]*>", plan)
                 if "doc_blob" not in m]  # exclude index-segment scans
    assert doc_scans and all(
        "text" not in m for m in doc_scans), doc_scans


def test_wand_resume(spark, documents, tmp_path_factory, oracle):
    """Kill-and-resume: a build with half the segments done completes and
    answers identically (north_rule resumability)."""
    import json, os
    out = str(tmp_path_factory.mktemp("index_resume"))
    p = build_segments(spark, documents, "doc_id", "text", out, num_segments=4)
    # truncate manifest to 2 segments, delete their outputs' sibling dirs
    with open(p.manifest) as fh:
        recs = [json.loads(l) for l in fh]
    keep = {r["seg_id"] for r in recs[:2]}
    with open(p.manifest, "w") as fh:
        for r in recs[:2]:
            fh.write(json.dumps(r) + "\n")
    import shutil
    for d in os.listdir(p.segments):
        if d.startswith("seg_id=") and int(d.split("=")[1]) not in keep:
            shutil.rmtree(os.path.join(p.segments, d))
    p2 = build_segments(spark, documents, "doc_id", "text", out, num_segments=4)
    got = bm25_topk_wand(spark, p2, ["customer", "window"], K, "or").collect()
    _check(got, oracle.topk(["customer", "window"], K, "or"))


def test_vectorized_paths_match_wand_loop(spark, documents, tmp_path_factory):
    """Differential: the vectorized per-segment executors (single-term /
    conjunction / chunked block-max OR) produce exactly what the
    document-at-a-time WAND reference loop produces, on a one-segment index
    where per-segment results ARE the global results."""
    import json as _json

    import numpy as np

    from ee_outliers_spark.index.build import build_segments
    from ee_outliers_spark.index.codec import varbyte_decode
    from ee_outliers_spark.index.query import (
        _TermCursor, _and_segment, _idf, _or_segment, _single_term_segment,
        block_upper_bound,
    )
    from reference_scorers import wand_segment

    out = str(tmp_path_factory.mktemp("index_diff"))
    p = build_segments(spark, documents, "doc_id", "text", out, num_segments=1)
    with open(p.stats) as fh:
        stats = _json.load(fh)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    seg = spark.read.parquet(p.segments).collect()
    dl_row = next(r for r in seg if r["term"] is None)
    dl_docs = np.cumsum(varbyte_decode(bytes(dl_row["doc_blob"]))).astype(np.int64)
    dl_vals = varbyte_decode(bytes(dl_row["tf_blob"])).astype(np.int64)
    rows = {r["term"]: r for r in seg if r["term"] is not None}
    tstats = {t: len(varbyte_decode(bytes(r["doc_blob"]))) for t, r in rows.items()}

    def cursors(terms):
        out = []
        for t in terms:
            r = rows[t]
            idf = _idf(n_docs, tstats[t])
            bmax = block_upper_bound(
                r["block_max_tf"], r["block_min_dl"], avgdl) * idf
            out.append(_TermCursor(
                bytes(r["doc_blob"]), bytes(r["tf_blob"]),
                dl_docs, dl_vals, idf, r["block_last_doc"], bmax))
        return out

    for terms, mode, k in [
        (["vector"], "or", 10),
        (["the"], "or", 5),
        (["customer", "window", "batch"], "or", 10),
        (["customer", "window", "batch", "stream"], "or", 20),
        (["the", "vector"], "and", 10),
        (["customer", "window", "batch"], "and", 10),
    ]:
        want = wand_segment(cursors(terms), k, avgdl, mode)
        if len(terms) == 1:
            got = _single_term_segment(cursors(terms)[0], k, avgdl)
        elif mode == "and":
            got = _and_segment(cursors(terms), k, avgdl)
        else:
            got = _or_segment(cursors(terms), k, avgdl)
        assert [g[0] for g in got] == [w[0] for w in want], (terms, mode)
        for (gd, gs), (wd, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9, (terms, mode, gd, gs, ws)


def test_phrase_seg_match_vectorized_vs_perdoc(docs_dict):
    """The vectorized cross-doc phrase kernel equals the per-doc reference
    (sloppy_tf / position intersection) for exact and sloppy phrases, both
    term orders, slop 0-5 — including the start at adjusted position -j
    whose owner attribution needs the +m shift (the bug this harness
    caught: doc-block // OFFSET went to the previous doc for negative
    in-block values)."""
    import numpy as np

    from ee_outliers_spark.index.query import _phrase_seg_match
    from ee_outliers_spark.tokenizer import tokenize_py
    from reference_scorers import sloppy_tf

    toks = {d: tokenize_py(t) for d, t in docs_dict.items()}

    def build_plists(terms):
        plists = {}
        for term in terms:
            ds, flats, bounds = [], [], []
            cum = 0
            for d in sorted(toks):
                pos = [i for i, tk in enumerate(toks[d]) if tk == term]
                if pos:
                    ds.append(d)
                    flats.extend(pos)
                    cum += len(pos)
                    bounds.append(cum)
            plists[term] = (np.array(ds, np.int64),
                            np.array(flats, np.int64),
                            np.array(bounds, np.int64))
        return plists

    cases = [(["key", "order"], s) for s in (0, 1, 2, 5)] + [
        (["order", "key"], s) for s in (0, 1, 2)] + [
        (["the", "key", "order"], 0), (["the", "key", "order"], 3)] + [
        # repeated terms under slop: the vectorized greedy
        # distinct-position assignment (round 5) vs the per-doc reference
        (["batch", "batch"], s) for s in (1, 2, 3, 5)] + [
        (["key", "order", "key"], s) for s in (1, 2, 4)] + [
        (["the", "key", "the"], s) for s in (1, 3)] + [
        (["batch", "batch", "batch"], 2)]
    any_hits = 0
    for phrase, slop in cases:
        distinct = list(dict.fromkeys(phrase))
        pl = build_plists(distinct)
        got_d, got_t = _phrase_seg_match(pl, distinct, phrase, slop)
        got = dict(zip(got_d.tolist(), got_t.tolist()))
        inter = pl[distinct[0]][0]
        for p in distinct[1:]:
            inter = np.intersect1d(inter, pl[p][0], assume_unique=True)
        want = {}
        for d in inter:
            if slop > 0:
                tf = sloppy_tf(pl, phrase, int(d), slop)
            else:
                cand = None
                for j, p in enumerate(phrase):
                    dd, fl, bb = pl[p]
                    i = int(np.searchsorted(dd, d))
                    lo = int(bb[i - 1]) if i > 0 else 0
                    pos = fl[lo:int(bb[i])] - j
                    cand = pos if cand is None else np.intersect1d(
                        cand, pos, assume_unique=True)
                tf = int(cand.size)
            if tf:
                want[int(d)] = tf
        assert got == want, (phrase, slop)
        any_hits += len(got)
    assert any_hits > 0


def test_segments_decode_to_tokenized_postings(spark, documents, tmp_path):
    """Every segment that build_segments writes, and every segment of one
    append_segments batch (seg_offset routing), decodes to the postings
    tokenize_py gives for that segment's docs: dictionary, doc ids, tfs
    and positions; the doclen sidecar (term NULL) and the ``title:`` norm
    sidecar; and block_last_doc / block_max_tf / block_min_dl recomputed
    over 128-posting blocks, whose block_pos_ends byte slices decode on
    their own. Positional and non-positional, with and without an
    analyzed field; 2 build segments put one term across ≥2 blocks."""
    import collections

    import numpy as np
    import pyarrow.dataset as pads
    from pyspark.sql import functions as SF

    from ee_outliers_spark.index.build import BLOCK
    from ee_outliers_spark.index.codec import (
        decode_position_stream, decode_postings)
    from ee_outliers_spark.streaming.daemon import append_segments
    from ee_outliers_spark.tokenizer import tokenize_py, tokens_col

    n_seg, n_app = 2, 3
    docs = documents.select(
        SF.col("doc_id").cast("long").alias("doc_id"), "text",
        SF.array_join(SF.slice(tokens_col("text"), 1, 5), " ").alias("title"))
    # the build takes doc_id % 5 != 4, the append batch the rest
    first, batch = SF.col("doc_id") % 5 != 4, SF.col("doc_id") % 5 == 4
    toks, seg_of = {}, {}  # (doc_id, field) → tokens; field "" = main text
    for r in docs.collect():
        d = int(r["doc_id"])
        toks[(d, "")] = tokenize_py(r["text"])
        toks[(d, "title")] = tokenize_py(r["title"])
        seg_of[d] = d % n_seg if d % 5 != 4 else n_seg + d % n_app

    def check_segment(pdf, seg_docs, fields, positions):
        want = collections.defaultdict(dict)  # term → {doc: positions}
        dl = {f: {} for f in ("", *fields)}
        for f in dl:
            prefix = f + ":" if f else ""
            for d in seg_docs:
                ts = toks[(d, f)]
                dl[f][d] = len(ts)
                for p, t in enumerate(ts):
                    want[prefix + t].setdefault(d, []).append(p)
        is_side = pdf["term"].isna() | pdf["term"].str.endswith(":", na=False)
        term_rows = pdf[~is_side]
        assert sorted(term_rows["term"]) == sorted(want)
        max_blocks = 0
        for r in term_rows.itertuples(index=False):
            w = want[r.term]
            wd = np.array(sorted(w), np.int64)
            wtf = np.array([len(w[d]) for d in wd], np.int64)
            got_d, got_tf = decode_postings(bytes(r.doc_blob),
                                            bytes(r.tf_blob))
            assert got_d.tolist() == wd.tolist(), r.term
            assert got_tf.tolist() == wtf.tolist(), r.term
            assert r.df_local == r.n_postings == len(wd)
            norms = dl[r.term.split(":")[0] if ":" in r.term else ""]
            blocks = [slice(s, s + BLOCK) for s in range(0, len(wd), BLOCK)]
            max_blocks = max(max_blocks, len(blocks))
            assert list(r.block_last_doc) == [int(wd[b][-1]) for b in blocks]
            assert list(r.block_max_tf) == [int(wtf[b].max()) for b in blocks]
            assert list(r.block_min_dl) == [
                min(norms[int(d)] for d in wd[b]) for b in blocks]
            if not positions:
                assert r.pos_blob is None and r.block_pos_ends is None
                continue
            flat, bounds = decode_position_stream(bytes(r.pos_blob), wtf)
            got_pos = np.split(flat, bounds[:-1])
            assert [p.tolist() for p in got_pos] == [w[d] for d in wd], r.term
            ends = list(r.block_pos_ends)
            assert len(ends) == len(blocks) and ends[-1] == len(r.pos_blob)
            for b, lo, hi in zip(blocks, [0] + ends[:-1], ends):
                bflat, bb = decode_position_stream(
                    bytes(r.pos_blob)[lo:hi], wtf[b])
                assert [p.tolist() for p in np.split(bflat, bb[:-1])] == [
                    w[d] for d in wd[b]], r.term
        # sidecars: (term, docs with a norm, their lengths)
        n_terms, n_post = len(term_rows), int(term_rows["n_postings"].sum())
        side = {None: sorted(seg_docs)}
        for f in fields:
            side[f + ":"] = sorted(d for d in seg_docs if dl[f][d])
        extra = pdf[is_side]
        assert sorted(extra["term"].fillna("")) == sorted(
            t or "" for t, ds in side.items() if t is None or ds)
        for r in extra.itertuples(index=False):
            key = r.term if isinstance(r.term, str) else None
            sd = side[key]
            lens = [dl[key[:-1] if key else ""][d] for d in sd]
            got_d, got_l = decode_postings(bytes(r.doc_blob), bytes(r.tf_blob))
            assert got_d.tolist() == sd and got_l.tolist() == lens, key
            assert (r.n_docs, r.sum_dl) == (len(sd), sum(lens)), key
            if key is None:
                assert (r.df_local, r.n_postings) == (n_terms, n_post)
        return max_blocks

    for positions in (False, True):
        for fields in ((), ("title",)):
            out = str(tmp_path / f"p{int(positions)}_{len(fields)}")
            paths = build_segments(
                spark, docs.where(first), "doc_id", "text", out,
                num_segments=n_seg, positions=positions,
                analyzed_fields=list(fields))
            new_ids = append_segments(spark, docs.where(batch), paths,
                                      num_segments=n_app)
            assert new_ids == list(range(n_seg, n_seg + n_app))
            segs = pads.dataset(paths.segments, format="parquet",
                                partitioning="hive").to_table().to_pandas()
            assert sorted(segs["seg_id"].unique()) == list(
                range(n_seg + n_app))
            max_blocks = 0
            for s, pdf in segs.groupby("seg_id"):
                seg_docs = sorted(d for d, g in seg_of.items() if g == s)
                max_blocks = max(max_blocks, check_segment(
                    pdf, seg_docs, fields, positions))
            assert max_blocks >= 2, (positions, fields)


def test_segment_routing_is_one_task_per_segment(spark, documents):
    """The build/append exchange (routed_segment_groupby) routes each
    segment to its OWN reduce partition: _route_keys(n) must be a bijection
    onto partitions under Spark's real hash partitioning (so _mm3_int32
    must equal F.hash), and the routed exchange must place exactly one
    segment per non-empty partition — otherwise 128 segments hashed into
    shuffle.partitions reducers pack up to 1.5× the mean into one task
    (measured; the round-5 scaling gap)."""
    from pyspark.sql import functions as SF

    from ee_outliers_spark.index.build import (
        _mm3_int32, _route_keys, routed_segment_groupby)

    # 1. the python murmur3 IS Spark's F.hash on int32
    vals = list(range(-5, 200)) + [2**31 - 1, -2**31, 123456789]
    df = spark.createDataFrame([(v,) for v in vals], "x int")
    got = {r["x"]: r["h"] for r in
           df.select("x", SF.hash("x").alias("h")).collect()}
    for v in vals:
        assert _mm3_int32(v) == got[v], v

    # 2. bijection: n route keys cover n partitions exactly once
    for n in (4, 16, 128):
        routes = _route_keys(n)
        assert len(set(routes)) == n
        assert sorted(_mm3_int32(r) % n for r in routes) == list(range(n))

    # 3. physical: repartition(n, "_route") places the n route keys in n
    #    DISTINCT partitions (pins that Spark's partitioner is pmod(F.hash))
    n = 16
    routes = _route_keys(n)
    rdf = spark.createDataFrame(
        [(int(r),) for r in routes], "_route int").repartition(n, "_route")
    placed = rdf.select(
        "_route", SF.spark_partition_id().alias("p")).collect()
    assert sorted(r["p"] for r in placed) == list(range(n))
    for r in placed:
        assert r["p"] == _mm3_int32(r["_route"]) % n

    # 4. end-to-end: the routed grouped exchange yields every segment, one
    #    group per segment
    n_seg = 8
    src = documents.select(
        SF.col("doc_id").cast("long").alias("doc_id"), "text").select(
        (SF.col("doc_id") % n_seg).cast("int").alias("seg_id"), "*")

    def seg_of(key, pdf):
        import pandas as pd
        return pd.DataFrame({"seg_id": [int(pdf["seg_id"].iloc[0])],
                             "uniq": [int(pdf["seg_id"].nunique())]})

    rows = routed_segment_groupby(src, list(range(n_seg))).applyInPandas(
        seg_of, "seg_id int, uniq int").collect()
    assert sorted(r["seg_id"] for r in rows) == list(range(n_seg))
    assert all(r["uniq"] == 1 for r in rows)


def test_routed_segment_groupby_random_live_sets(spark):
    """Property test over random sparse live-sets (round-6 verdict #6):
    routed_segment_groupby (the LSM merge exchange) must invoke the kernel
    exactly once per live segment with a SINGLE-segment pdf for every
    live-set shape the LSM can produce (sparse, non-contiguous seg_ids
    after compaction), with fewer and with more segments than cores."""
    import random

    import pandas as pd
    from pyspark.sql import functions as SF

    from ee_outliers_spark.index.build import routed_segment_groupby

    rng = random.Random(7)

    def seg_of(key, pdf):
        return pd.DataFrame({
            "seg_id": [int(pdf["seg_id"].iloc[0])],
            "uniq": [int(pdf["seg_id"].nunique())],
            "rows": [len(pdf)],
        })

    for size in (1, 2, 3, 5, 17, 64, 131, 256):
        live = sorted(rng.sample(range(1024), size))
        rows = [(s, i) for s in live for i in range(3)]
        df = spark.createDataFrame(rows, "seg_id int, x int")
        got = routed_segment_groupby(df, live).applyInPandas(
            seg_of, "seg_id int, uniq int, rows int").collect()
        assert sorted(r["seg_id"] for r in got) == live, size
        assert all(r["uniq"] == 1 for r in got), size
        assert all(r["rows"] == 3 for r in got), size
        # a seg_id OUTSIDE the live mapping must not alias into another
        # segment's group (negative-route fallback)
        extra = spark.createDataFrame(
            rows + [(1025, 0)], "seg_id int, x int")
        got2 = routed_segment_groupby(extra, live).applyInPandas(
            seg_of, "seg_id int, uniq int, rows int").collect()
        assert sorted(r["seg_id"] for r in got2) == sorted(live + [1025])
        assert all(r["uniq"] == 1 for r in got2)


def test_segment_map_random_live_sets(spark, documents, tmp_path_factory):
    """segment_map runs the kernel exactly once per live segment — for
    fewer, as many and more live segments than cores, on random sparse
    live sets — over min(n_live, cores) tasks, hands it only the requested
    rows (terms, pattern matches, the doclen sidecar; a column a file
    lacks reads as None), and never reads a directory outside the
    commit point's live list: dead directories here hold garbage that
    would fail any read."""
    import json
    import os
    import random
    import shutil

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ee_outliers_spark.index.build import (
        IndexPaths, SegmentRows, segment_map,
    )

    cores = spark.sparkContext.defaultParallelism
    rng = random.Random(11)
    table = pa.table({
        "term": pa.array([None, "a", "b1", "bz", "x:b1", "x:"], pa.string()),
        "doc_blob": pa.array([b"\x01"] * 6, pa.binary()),
    })

    def kernel(seg, pdf):
        return pd.DataFrame({
            "seg_id": [seg],
            "terms": [",".join(sorted(
                "NULL" if t is None else t for t in pdf["term"]))],
            "bpe_none": [bool(pdf["block_pos_ends"].isna().all())],
        })

    root = str(tmp_path_factory.mktemp("segmap"))
    for size in sorted({1, max(1, cores - 1), cores, cores + 1,
                        2 * cores + 3, 64, 131}):
        ids = rng.sample(range(1024), size + 3)
        live, dead = sorted(ids[:size]), ids[size:]
        paths = IndexPaths(os.path.join(root, f"n{size}"))
        for s_ in live:
            os.makedirs(os.path.join(paths.segments, f"seg_id={s_}"))
            pq.write_table(table, os.path.join(
                paths.segments, f"seg_id={s_}", "part-0.parquet"))
        for s_ in dead:
            os.makedirs(os.path.join(paths.segments, f"seg_id={s_}"))
            with open(os.path.join(paths.segments, f"seg_id={s_}",
                                   "part-0.parquet"), "wb") as fh:
                fh.write(b"not parquet")
        with open(paths.stats, "w") as fh:
            json.dump({"live_segments": live}, fh)
        rows = SegmentRows(columns=("doc_blob", "block_pos_ends"),
                           terms=("a",), patterns=(("re", "b[0-9]"),))
        out = segment_map(spark, paths, rows, kernel,
                          "seg_id int, terms string, bpe_none boolean")
        assert out.rdd.getNumPartitions() == min(size, cores), size
        got = out.collect()
        assert sorted(r["seg_id"] for r in got) == live, size
        # pattern atoms never expand into the `field:` namespace
        assert {r["terms"] for r in got} == {"a,b1"}, size
        assert all(r["bpe_none"] for r in got), size
    every = segment_map(
        spark, paths, SegmentRows(columns=("block_pos_ends",),
                                  terms=("bz", "x:"), doclen=True),
        kernel, "seg_id int, terms string, bpe_none boolean").collect()
    assert {r["terms"] for r in every} == {"NULL,bz,x:"}
    # a live segment without a directory (it received no docs) still gets
    # its one kernel call, with no rows
    with open(paths.stats, "w") as fh:
        json.dump({"live_segments": live + [2000]}, fh)
    empty = [r for r in segment_map(
        spark, paths, SegmentRows(columns=("block_pos_ends",), doclen=True),
        kernel, "seg_id int, terms string, bpe_none boolean").collect()
        if r["seg_id"] == 2000]
    assert [r["terms"] for r in empty] == [""]

    # a real LSM history: build, append, tier-merge; the merged inputs'
    # directories come back as garbage (a crash before GC) and must never
    # be read
    from ee_outliers_spark.index.build import build_segments, load_stats
    from ee_outliers_spark.index.merge import merge_tier
    from ee_outliers_spark.streaming.daemon import append_segments
    from pyspark.sql import functions as SF

    out = str(tmp_path_factory.mktemp("segmap_lsm"))
    p = build_segments(spark, documents.where(SF.col("doc_id") % 2 == 0),
                       "doc_id", "text", out, num_segments=4)
    append_segments(spark, documents.where(SF.col("doc_id") % 2 == 1),
                    p, num_segments=2)
    before = set(load_stats(p)["live_segments"])
    merge_tier(spark, p, fanin=3)
    live = sorted(load_stats(p)["live_segments"])
    dead = sorted(before - set(live))
    assert dead
    for s_ in dead:
        d = os.path.join(p.segments, f"seg_id={s_}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "wb") as fh:
            fh.write(b"not parquet")
    docs_seen = segment_map(
        spark, p, SegmentRows(columns=("doc_blob", "n_docs"), doclen=True),
        lambda seg, pdf: pd.DataFrame({"seg_id": [seg],
                                       "n": [int(pdf["n_docs"].sum())]}),
        "seg_id int, n long").collect()
    assert sorted(r["seg_id"] for r in docs_seen) == live
    assert sum(r["n"] for r in docs_seen) == documents.count()


def test_phrase_seg_match_repeated_sloppy_randomized():
    """Seeded randomized differential for the vectorized repeated-term
    sloppy greedy (round-4 verdict #2): dense synthetic position lists are
    far more adversarial than real text for distinct-position assignment
    (many overlapping windows competing for the same positions)."""
    import random

    import numpy as np

    from ee_outliers_spark.index.query import _phrase_seg_match
    from reference_scorers import sloppy_tf

    rng = random.Random(20260817)
    vocab = ["a", "b", "c"]
    for trial in range(40):
        n_docs = rng.randint(1, 6)
        toks = {d: [rng.choice(vocab) for _ in range(rng.randint(3, 30))]
                for d in range(n_docs)}
        plists = {}
        for term in vocab:
            ds, flats, bounds = [], [], []
            cum = 0
            for d in sorted(toks):
                pos = [i for i, tk in enumerate(toks[d]) if tk == term]
                if pos:
                    ds.append(d)
                    flats.extend(pos)
                    cum += len(pos)
                    bounds.append(cum)
            plists[term] = (np.array(ds, np.int64),
                            np.array(flats, np.int64),
                            np.array(bounds, np.int64))
        m = rng.randint(2, 4)
        phrase = [rng.choice(vocab) for _ in range(m)]
        if len(set(phrase)) == m:
            phrase[-1] = phrase[0]  # force a repeat
        slop = rng.randint(1, 5)
        distinct = list(dict.fromkeys(phrase))
        if any(plists[t][0].size == 0 for t in distinct):
            continue
        got_d, got_t = _phrase_seg_match(plists, distinct, phrase, slop)
        got = dict(zip(got_d.tolist(), got_t.tolist()))
        inter = plists[distinct[0]][0]
        for p in distinct[1:]:
            inter = np.intersect1d(inter, plists[p][0], assume_unique=True)
        want = {}
        for d in inter:
            tf = sloppy_tf(plists, phrase, int(d), slop)
            if tf:
                want[int(d)] = tf
        assert got == want, (trial, phrase, slop, toks)


def test_auto_num_segments_budget(spark):
    """Derived segment count follows the SPIMI memory budget: ~16k docs
    per segment (ceil of the need) past one wave — the round-7 two-armed
    wave-align probe measured need-based counts ~10% faster to build than
    wave-down-rounded ones, and a query stage runs min(segments, cores)
    tasks regardless of segment count (segment_map) — capped (beyond the cap a corpus shards
    into multiple indexes). BELOW one wave the count is need-scaled
    (~4k docs per segment, capped at cores), not floored at the core
    count: interleaved fresh-JVM A/Bs (bench_evidence/segfloor_r7/)
    measured 5k-doc builds ~1 s faster at 2-5 segments than at 32, and
    50k-doc builds ~1 s faster at 13 — spinning one Python worker per
    core for a corpus whose whole kernel fits one task is pure cold-start
    contention."""
    import math

    from ee_outliers_spark.index.build import auto_num_segments

    cores = spark.sparkContext.defaultParallelism
    # Tiny corpora: one segment per ~4k docs, never more than cores.
    assert auto_num_segments(spark, 100) == 1
    assert auto_num_segments(spark, 5_000) == min(cores, 2)
    # 50k docs need 4 budget segments: below 4 cores that need (more than
    # one wave) wins over the small-corpus floor
    expect = 4 if cores < 4 else min(cores, 13)
    assert auto_num_segments(spark, 50_000) == expect
    # The small-corpus floor never drops below the SPIMI need and joins
    # the need path continuously at one wave (need == cores).
    n_midsize = 131_072  # need 8; small-floor ceil(n/4096) = 32
    expect = 8 if cores < 8 else min(cores, 32)
    assert auto_num_segments(spark, n_midsize) == expect
    assert auto_num_segments(spark, 16_384 * cores) == cores
    # 1M docs -> need ceil(1M/16384) = 62 segments (exact memory budget)
    assert auto_num_segments(spark, 1_000_000) == max(cores, 62)
    # 2.4M -> need 147: the budget, not a wave-rounded substitute
    assert auto_num_segments(spark, 2_400_000) == max(cores, 147)
    assert auto_num_segments(spark, 10**9) == 4096
    assert math.ceil(10**9 / 16_384) / 4096 > 1  # cap binds, documented


def test_or_segment_lazy_decode_skips_blocks():
    """_or_segment decompresses ONLY blocks of chunks visited before the
    θ-break: a head term spanning hundreds of blocks, disjoined with a rare
    high-impact term clustered at the front, must leave the head list's far
    blocks undecoded (round 3 eagerly decoded every query term's whole list
    — VERDICT watch item #3). Differential vs the DAAT reference loop."""
    import numpy as np

    from ee_outliers_spark.index.build import BLOCK, block_upper_bound
    from ee_outliers_spark.index.codec import encode_postings
    from ee_outliers_spark.index.query import _TermCursor, _idf, _or_segment
    from reference_scorers import wand_segment

    avgdl, n_docs = 50.0, 200_000
    dl_docs = np.arange(n_docs, dtype=np.int64)
    dl_vals = np.full(n_docs, 50, dtype=np.int64)

    def mk(doc_ids, tfs):
        doc_ids = np.asarray(doc_ids, np.int64)
        tfs = np.asarray(tfs, np.int64)
        dblob, tblob = encode_postings(doc_ids, tfs)
        nblk = (len(doc_ids) + BLOCK - 1) // BLOCK
        blast = [int(doc_ids[min((i + 1) * BLOCK, len(doc_ids)) - 1])
                 for i in range(nblk)]
        bmaxtf = [int(tfs[i * BLOCK:(i + 1) * BLOCK].max())
                  for i in range(nblk)]
        idf = _idf(n_docs, len(doc_ids))
        bmax = block_upper_bound(bmaxtf, [50] * nblk, avgdl) * idf
        return _TermCursor(dblob, tblob, dl_docs, dl_vals, idf, blast, bmax)

    head_docs = np.arange(0, n_docs, 2)          # ~780 blocks, tf=1
    rare_docs = np.arange(0, 64)                 # one block, huge impact
    args = [(head_docs, np.ones(len(head_docs))),
            (rare_docs, np.full(64, 8))]

    decoded: set[tuple[int, int]] = set()
    orig = _TermCursor._load

    def counting(self, b):
        decoded.add((id(self), b))
        return orig(self, b)

    _TermCursor._load = counting
    try:
        got = _or_segment([mk(*a) for a in args], 10, avgdl)
    finally:
        _TermCursor._load = orig
    want = wand_segment([mk(*a) for a in args], 10, avgdl, "or")
    assert [g[0] for g in got] == [w[0] for w in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9
    total_blocks = sum(
        (len(a[0]) + BLOCK - 1) // BLOCK for a in args)
    assert len(decoded) < total_blocks * 0.25, (
        f"decoded {len(decoded)}/{total_blocks} blocks — lazy decode broken")


def test_indexed_filter_multiterm_atoms(spark, documents, pos_paths):
    """Wildcard / fuzzy / sloppy-phrase atoms resolve index-backed (term
    dictionary scan + position windows) and agree with the regex/HOF
    compilation of the same AST over raw text."""
    from ee_outliers_spark.index.filter import indexed_filter
    from ee_outliers_spark.queryparser import (
        parse_query_string, to_spark_predicate,
    )

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    for qs in ["cust*", "wind?w OR batch", "custoner~1 AND lang:en",
               '"order key"~2', 'cust* AND "key order"~1',
               "zzzq* OR customer", "qqqzzz*",
               'fast~1 AND source:src1*']:
        node = parse_query_string(qs)
        want = sorted(r["doc_id"] for r in documents.where(
            to_spark_predicate(node, "text", cols)).select("doc_id").collect())
        out = indexed_filter(spark, pos_paths, documents, "doc_id", "text",
                             node, cols)
        got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
        assert got == want, qs


def test_sloppy_phrase_three_terms_positional(spark, documents, pos_paths):
    """m>2 sloppy phrases (beyond the regex backends) match the brute-force
    range formulation computed in Python over the raw corpus, including a
    repeated-term phrase where one doc position must not serve two phrase
    offsets."""
    import itertools

    from ee_outliers_spark.index.query import phrase_matches_df
    from ee_outliers_spark.tokenizer import tokenize_py

    def brute(doc_toks, phrase, slop):
        pos = {t: [i for i, x in enumerate(doc_toks) if x == t]
               for t in set(phrase)}
        if any(not pos[t] for t in phrase):
            return False
        for combo in itertools.product(*[pos[t] for t in phrase]):
            if len(set(combo)) < len(combo):
                continue
            adj = [p - o for o, p in enumerate(combo)]
            if max(adj) - min(adj) <= slop:
                return True
        return False

    rows = {int(r["doc_id"]): tokenize_py(r["text"])
            for r in documents.select("doc_id", "text").collect()}
    for phrase, slop in [("key order update", 3), ("the key order", 2),
                         ("batch batch stream", 2), ("key the key", 3)]:
        got = sorted(int(r["doc_id"]) for r in phrase_matches_df(
            spark, pos_paths, phrase, slop).collect())
        want = sorted(d for d, toks in rows.items()
                      if brute(toks, tokenize_py(phrase), slop))
        assert got == want, (phrase, slop)


def test_search_topk_composed(spark, documents, pos_paths):
    """search_topk = eligibility from the whole boolean + score from the
    positive text atoms; docs eligible through a field-only branch score
    0.0 and rank by doc_id at the bottom (ES filter-context semantics)."""
    from ee_outliers_spark.index.query import querystring_topk, search_topk

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    # field-only query: every eligible doc scores 0, ordered by doc_id
    out = search_topk(spark, pos_paths, documents, "doc_id", "text",
                      "lang:en", 5, cols).collect()
    want = sorted(r["doc_id"] for r in documents.where(
        "lang = 'en'").select("doc_id").collect())[:5]
    assert [int(r["doc_id"]) for r in out] == [int(x) for x in want]
    assert all(float(r["score"]) == 0.0 for r in out)

    # text+filter query: scores equal the unfiltered scorer's on the
    # eligible subset (df/idf stay corpus-global, not filtered)
    full = {int(r["doc_id"]): float(r["score"]) for r in querystring_topk(
        spark, pos_paths, "customer window", 10_000).collect()}
    got = search_topk(spark, pos_paths, documents, "doc_id", "text",
                      "(customer OR window) AND lang:de", 10, cols).collect()
    en_ids = {int(r["doc_id"]) for r in documents.where(
        "lang = 'de'").select("doc_id").collect()}
    assert got, "expected matches"
    for r in got:
        d = int(r["doc_id"])
        assert d in en_ids
        assert abs(float(r["score"]) - full[d]) < 1e-9


def test_search_topk_respects_docs_subset(spark, documents, pos_paths):
    """Round-4 ADVICE: the text-only fast path used matching_ids against
    the INDEXED universe and ignored the docs argument — a filtered docs
    subset silently got hits outside it, and NOT resolved against the
    index rather than the subset. Now semi-joined: every hit must come
    from the passed subset, for plain, negated, and match-all queries."""
    from ee_outliers_spark.index.query import search_topk

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    subset = documents.where("doc_id % 3 = 0")
    sub_ids = {int(r["doc_id"])
               for r in subset.select("doc_id").collect()}
    for qs in ["customer OR window", "NOT customer", "*"]:
        out = search_topk(spark, pos_paths, subset, "doc_id", "text",
                          qs, 50, cols).collect()
        assert out, qs
        assert all(int(r["doc_id"]) in sub_ids for r in out), qs
    # full-corpus call unchanged: identical to matching_ids-ranked result
    full = search_topk(spark, pos_paths, documents, "doc_id", "text",
                       "customer OR window", 50, cols).collect()
    sub = search_topk(spark, pos_paths, subset, "doc_id", "text",
                      "customer OR window", 50, cols).collect()
    sub_from_full = [r for r in full if int(r["doc_id"]) in sub_ids]
    got = {int(r["doc_id"]): float(r["score"]) for r in sub}
    for r in sub_from_full[: len(got)]:
        assert abs(got[int(r["doc_id"])] - float(r["score"])) < 1e-9


def test_matching_ids_refuses_phrase_without_positions(spark, seg_paths):
    """Round-4 ADVICE: on a non-positional index a multi-token phrase used
    to evaluate as 'matches nothing' (and NOT "a b" as the whole
    universe) — silent wrong answers. matching_ids now raises instead."""
    from ee_outliers_spark.index.filter import matching_ids
    from ee_outliers_spark.queryparser import parse_query_string

    for qs in ['"key order"', 'NOT "key order"', 'customer AND "key order"']:
        with pytest.raises(ValueError, match="positional"):
            matching_ids(spark, seg_paths, parse_query_string(qs))
    # single-token atoms stay fine on the non-positional index
    assert matching_ids(
        spark, seg_paths, parse_query_string("customer")).count() > 0


def test_indexed_filter_phrases_off_positional_index(spark, documents, pos_paths):
    """On a positional index the filter context resolves quoted phrases by
    position-list intersection: the compiled plan contains NO regex at all
    (round 2 kept rlike for phrases), and rows equal the regex compilation.
    The required-term semi-join prunes the docs scan to candidate postings."""
    from ee_outliers_spark.index.filter import indexed_filter
    from ee_outliers_spark.queryparser import parse_query_string, to_spark_predicate

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    for qs in ['window AND NOT "batch batch"',
               '"key order" AND _exists_:lang',
               'customer "key order"']:
        node = parse_query_string(qs)
        want = sorted(r["doc_id"] for r in documents.where(
            to_spark_predicate(node, "text", cols)).select("doc_id").collect())
        out = indexed_filter(spark, pos_paths, documents, "doc_id", "text",
                             node, cols)
        got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
        assert got == want, qs
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "rlike" not in plan.lower(), qs


def test_querystring_topk_mixed_matches_manual_sum(spark, documents, pos_paths):
    """Mixed term+phrase scoring = sum of the term-path and phrase-path
    contributions, rank checked against a direct per-doc computation."""
    import math

    from ee_outliers_spark.index.query import querystring_topk
    from ee_outliers_spark.tokenizer import tokenize_py

    got = [(int(r["doc_id"]), float(r["score"])) for r in
           querystring_topk(spark, pos_paths, 'customer "key order"', 15)
           .collect()]
    # manual oracle
    docs = {int(r["doc_id"]): tokenize_py(r["text"])
            for r in documents.select("doc_id", "text").collect()}
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    def idf(df_): return math.log(1 + (n - df_ + 0.5) / (df_ + 0.5))
    def part(tf, dl, i):
        return i * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    term_df = sum(1 for t in docs.values() if "customer" in t)
    ph = ["key", "order"]
    def phrase_tf(toks):
        return sum(1 for i in range(len(toks) - 1) if toks[i:i+2] == ph)
    ph_df = sum(1 for t in docs.values() if phrase_tf(t) > 0)
    scores = {}
    for d, toks in docs.items():
        s = 0.0
        tf = toks.count("customer")
        if tf:
            s += part(tf, len(toks), idf(term_df))
        ptf = phrase_tf(toks)
        if ptf:
            s += part(ptf, len(toks), idf(ph_df))
        if s:
            scores[d] = s
    want = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:15]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9), (gd, gs, ws)


def test_querystring_topk_pruning_keeps_phrase_bound(spark, tmp_path_factory):
    """The per-segment cut of querystring_topk against a phrase whose true
    df (2) is far below its terms' min df (every doc): inside a segment the
    phrase idf is only bounded, so a phrase doc ranks last by its lower
    bound yet first by its true score. The k-th score is a tie shared by
    docs of every segment (the `c` docs), so each segment must ship its
    whole tie. A segment that cut at exactly k, or by the lower bound
    alone, would drop docs 7 and 130."""
    from ee_outliers_spark.index.query import querystring_topk
    from ee_outliers_spark.tokenizer import tokenize_py

    rows = []
    for d in range(240):
        if d in (7, 130):
            text = "a b " + " ".join(f"f{d}x{i}" for i in range(20))
        elif d % 3 == 0:
            text = "b a c"
        else:
            text = "b a"
        rows.append((d, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    p = build_segments(spark, docs, "doc_id", "text",
                       str(tmp_path_factory.mktemp("index_qs_prune")),
                       num_segments=4, positions=True)
    toks = {d: tokenize_py(t) for d, t in rows}
    n = len(rows)
    avgdl = sum(map(len, toks.values())) / n

    def part(tf, dl, idf):
        return idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    def idf(df_):
        return math.log(1.0 + (n - df_ + 0.5) / (df_ + 0.5))

    c_docs = [d for d, t in toks.items() if "c" in t]
    scores = {d: part(1, 3, idf(len(c_docs))) for d in c_docs}
    for d in (7, 130):
        scores[d] = part(1, 22, idf(2))
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [d for d, _ in want[:3]] == [7, 130, 0]
    for k in (1, 2, 3, 5, 10, 300):
        got = [(int(r["doc_id"]), float(r["score"])) for r in
               querystring_topk(spark, p, 'c "a b"', k).collect()]
        assert [d for d, _ in got] == [d for d, _ in want[:k]], k
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), k


def test_driver_expansion_matches_segment_expansion(pos_paths):
    """The driver expands wildcard / regexp / fuzzy atoms over termstats
    (``_termstats_lookup``) to exactly the terms that the per-segment
    reads accept with the same ``term_matcher`` specs, term by term, and
    each term's df is the sum of its per-segment df_local."""
    from ee_outliers_spark.index.build import (
        index_fs, live_seg_ids, load_stats, read_dictionary,
    )
    from ee_outliers_spark.index.filter import regexp_spec, wildcard_spec
    from ee_outliers_spark.index.query import _termstats_lookup

    fs, base = index_fs(pos_paths.segments)
    live = live_seg_ids(load_stats(pos_paths))
    for spec in [wildcard_spec("s*"), wildcard_spec("w?nd*"),
                 regexp_spec("[a-c].*"), regexp_spec("s[a-z]{3}"),
                 ("lev", "sorr", 1), ("lev", "wndow", 2),
                 wildcard_spec("zz*")]:
        driver = _termstats_lookup(pos_paths, [], [spec])
        seg: dict[str, int] = {}
        for s in live:
            pdf = read_dictionary(fs, f"{base}/seg_id={s}",
                                  ("term", "df_local"), patterns=[spec])
            for t, d in zip(pdf["term"], pdf["df_local"]):
                seg[t] = seg.get(t, 0) + int(d)
        assert driver == seg, spec
    assert _termstats_lookup(pos_paths, [], [wildcard_spec("s*")])


def test_termstats_lookup_through_file_uri(pos_paths, tmp_path):
    """termstats reads go through the filesystem a path or URI names
    (pyarrow.fs), not a local glob: a file:// URI gives the same dfs, and
    `_SUCCESS`, dot and underscore files beside the parquet parts are
    ignored."""
    import shutil

    from ee_outliers_spark.index.build import IndexPaths
    from ee_outliers_spark.index.filter import wildcard_spec
    from ee_outliers_spark.index.query import _termstats_lookup

    shutil.copytree(pos_paths.termstats, tmp_path / "termstats.parquet")
    for junk in ("_SUCCESS", ".part-0.parquet.crc", "_tmp.parquet",
                 ".hidden.parquet"):
        (tmp_path / "termstats.parquet" / junk).write_bytes(b"not parquet")
    uri = IndexPaths("file://" + str(tmp_path))
    terms = ["customer", "window", "nosuchterm", "key"]
    want = _termstats_lookup(pos_paths, terms)
    assert want and "nosuchterm" not in want
    assert _termstats_lookup(uri, terms) == want
    spec = [wildcard_spec("s*")]
    assert (_termstats_lookup(uri, [], spec)
            == _termstats_lookup(pos_paths, [], spec))


def _job_count(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs, read from its status-tracker job
    group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_query_job_counts(spark, documents, pos_paths):
    """query_string and phrase top-k run ONE Spark job per call (segment
    stage + driver merge into a local relation), search_topk with a phrase
    atom at most five, and a result known empty on the driver none."""
    from ee_outliers_spark.index.query import (
        phrase_topk_wand, querystring_topk, search_topk,
    )

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    assert _job_count(spark, lambda: querystring_topk(
        spark, pos_paths, '"key order"~2 s* window^2', 10).collect()) == 1
    assert _job_count(spark, lambda: phrase_topk_wand(
        spark, pos_paths, "key order", 10).collect()) == 1
    assert _job_count(spark, lambda: search_topk(
        spark, pos_paths, documents, "doc_id", "text",
        '(window OR "key order"~1) AND lang:en', 10, cols).collect()) <= 5
    assert _job_count(spark, lambda: querystring_topk(
        spark, pos_paths, 'nosuchterm "no such"', 10).collect()) == 0
    assert _job_count(spark, lambda: phrase_topk_wand(
        spark, pos_paths, "no such", 10).collect()) == 0
