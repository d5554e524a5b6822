"""Index-backed filter context: positive/negated single-token text predicates
resolve against the SPIMI posting lists instead of regex-scanning the corpus.

The reference's filter context is an ES bool query — every ``term`` clause is
a posting-list lookup in Lucene (ref F1/F2, /root/reference/app/helpers/
es.py:238-250, :664-710). Round 1 compiled those clauses to ``rlike`` over
the full text column: a per-row Java regex over 100 TB. Here every index
read is ONE narrow Spark stage (``build.segment_map``): each task reads its
live segments' matching dictionary rows straight from the segment
directories with pyarrow — exact terms as a parquet predicate, wildcard /
regexp / fuzzy atoms through the Python ``term_matcher`` specs of
``_pattern_specs`` — and runs a per-segment kernel. Two plans use it:

- **text-only booleans** (``matching_ids``): the boolean distributes over
  doc-disjoint segments, so each segment evaluates it as sorted doc-id set
  algebra (the doclen sidecar is the universe for NOT / match-all) and the
  docs table is touched only by one left-semi join. A top-level AND sends
  its text-only conjuncts down this path too;
- **the non-separable remainder** (field clauses mixed with text atoms
  under OR/NOT): per-posting marker rows → groupBy doc_id → left join docs
  on doc_id → predicate = array_contains(markers, atom key) per text atom.

Multi-token (incl. sloppy) phrases resolve by positional-window
intersection on a positional index (attach_matched_phrases); only a
non-positional index falls back to regex for phrases. Every other atom
(field equality, ranges, exists) stays a plain column predicate that
Catalyst pushes to the docs scan — the compiled plan never regex-scans
the corpus text.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queryparser import (
    And, FieldText, Fuzzy, Not, Or, Phrase, Regexp, Term, Wildcard,
    fuzzy_key, phrase_key, qualify_tokens, regexp_key, resolve_analyzed,
    to_spark_predicate, wildcard_key,
)
from ..tokenizer import tokenize_py
from .build import IndexPaths, SegmentRows, segment_map, term_matcher
from .codec import varbyte_decode

MATCH_COL = "_matched_terms"


def _atom_tokens(n) -> list[str]:
    """Dictionary terms of a Term / Phrase / FieldText atom — FieldText
    yields the field-prefixed (`field:token`) per-field dictionary terms."""
    if isinstance(n, FieldText):
        return qualify_tokens(n.field, n.text)
    return tokenize_py(n.text)


def single_token_terms(node) -> list[str]:
    """Distinct single-token Term/FieldText atoms anywhere in the AST (any
    polarity — the marker is the truth value 'doc contains token'; negation
    applies to the marker itself)."""
    out: list[str] = []

    def walk(n):
        if isinstance(n, (Term, Phrase, FieldText)):
            toks = _atom_tokens(n)
            if len(toks) == 1:
                out.append(toks[0])
        elif isinstance(n, (And, Or)):
            for p in n.parts:
                walk(p)
        elif isinstance(n, Not):
            walk(n.part)

    walk(node)
    return list(dict.fromkeys(out))


def multi_token_phrases(node) -> list[tuple[str, list[str], int]]:
    """Distinct (phrase_key, tokens, slop) multi-token text atoms — quoted
    Phrases (incl. sloppy `"a b"~2`), multi-token bare Terms, and analyzed
    FieldText phrases (field-prefixed tokens) all compile to the same
    positional phrase match, so all resolve via the positional index."""
    out: dict[str, tuple[str, list[str], int]] = {}

    def walk(n):
        if isinstance(n, (Term, Phrase, FieldText)):
            toks = _atom_tokens(n)
            slop = n.slop if isinstance(n, (Phrase, FieldText)) else 0
            if len(toks) > 1:
                k = phrase_key(toks, slop)
                out.setdefault(k, (k, toks, slop))
        elif isinstance(n, (And, Or)):
            for p in n.parts:
                walk(p)
        elif isinstance(n, Not):
            walk(n.part)

    walk(node)
    return list(out.values())


def wildcard_spec(pattern: str) -> tuple | None:
    """``term_matcher`` spec of a wildcard atom (None: never matches)."""
    from ..queryparser import wildcard_token_body

    body = wildcard_token_body(pattern)
    return None if body is None else ("re", f"({body})")


def regexp_spec(pattern: str) -> tuple:
    """``term_matcher`` spec of a `/regexp/` atom."""
    from ..queryparser import regexp_token_body

    return ("re", f"(?:{regexp_token_body(pattern)})")


def posting_docs(spark: SparkSession, paths: IndexPaths,
                 terms: list[str] | None = None,
                 patterns: list[tuple] = ()) -> DataFrame:
    """(term, doc_id) for the requested terms plus every dictionary term a
    pattern-atom spec accepts (``term_matcher`` — Lucene MultiTermQuery
    expansion per segment), decoded from the compressed segments; only
    matching dictionary rows are read, regardless of corpus size."""
    rows = SegmentRows(terms=tuple(terms or ()), patterns=tuple(patterns))

    def decode(seg: int, pdf: pd.DataFrame) -> pd.DataFrame:
        ts, ds = [], []
        for term, blob in zip(pdf["term"], pdf["doc_blob"]):
            docs = np.cumsum(varbyte_decode(bytes(blob))).astype(np.int64)
            ts.append(np.full(len(docs), term, dtype=object))
            ds.append(docs)
        if not ts:
            return pdf.iloc[0:0]
        return pd.DataFrame({"term": np.concatenate(ts),
                             "doc_id": np.concatenate(ds)})

    return segment_map(spark, paths, rows, decode,
                       "term string, doc_id long")


PHRASE_COL = "_matched_phrases"
PATTERN_COL = "_matched_patterns"


def _phrase_markers(
    spark: SparkSession,
    paths: IndexPaths,
    phrases: list[tuple[str, list[str], int]],
) -> DataFrame | None:
    """(doc_id, PHRASE_COL) for every doc containing ≥1 of the phrases,
    resolved by position-list intersection in the positional index. None when
    no phrase can match anything (empty list, or all phrases contain a
    zero-df token)."""
    from .query import _phrase_hits

    parts = []
    for key, toks, slop in phrases:
        hits = _phrase_hits(spark, paths, toks, slop)
        if hits is not None:
            parts.append(hits.select(
                "doc_id", F.lit(key).alias("__phrase")))
    if not parts:
        return None
    allhits = parts[0]
    for x in parts[1:]:
        allhits = allhits.unionByName(x)
    return (
        allhits.groupBy("doc_id")
        .agg(F.collect_set("__phrase").alias(PHRASE_COL))
    )


def attach_matched_phrases(
    spark: SparkSession,
    paths: IndexPaths,
    docs: DataFrame,
    doc_col: str,
    phrases: list[tuple[str, list[str], int]],
) -> DataFrame:
    """docs + an array column of which phrase keys each doc contains,
    resolved by position-list intersection in the positional index (never a
    regex over the text column); sloppy phrases (`"a b"~2`) intersect under
    the slop window. Phrases with a zero-df token simply never appear in
    the array (match nothing)."""
    matched = _phrase_markers(spark, paths, phrases)
    if matched is None:
        return docs.withColumn(PHRASE_COL, F.array().cast("array<string>"))
    matched = matched.withColumnRenamed("doc_id", "__ph_doc_id")
    joined = docs.join(
        matched, docs[doc_col] == F.col("__ph_doc_id"), "left"
    ).drop("__ph_doc_id")
    return joined.withColumn(
        PHRASE_COL,
        F.coalesce(F.col(PHRASE_COL), F.array().cast("array<string>")),
    )


def _atom_markers(
    spark: SparkSession,
    paths: IndexPaths,
    terms: list[str],
    specs: dict[str, tuple | None],
) -> DataFrame | None:
    """(doc_id, MATCH_COL, PATTERN_COL) for every doc matching ≥1 term or
    pattern atom (``specs``: marker key → ``term_matcher`` spec) — ONE
    segment stage: each decoded posting row carries its term (when it is a
    query term) and the keys of the pattern atoms its term matches (the
    expansion never materializes on the driver), and a single groupBy
    aggregates both marker arrays. None when there are no resolvable
    atoms."""
    matchers = [(k, term_matcher(sp)) for k, sp in specs.items()
                if sp is not None]
    if not terms and not matchers:
        return None
    term_set = set(terms)
    rows = SegmentRows(terms=tuple(terms), patterns=tuple(
        sp for sp in specs.values() if sp is not None))

    def run(seg: int, pdf: pd.DataFrame) -> pd.DataFrame:
        parts = []
        for term, blob in zip(pdf["term"], pdf["doc_blob"]):
            docs = np.cumsum(varbyte_decode(bytes(blob))).astype(np.int64)
            keys = [k for k, match in matchers if match(term)]
            parts.append(pd.DataFrame({
                "doc_id": docs,
                "__tm": term if term in term_set else None,
                "__keys": [keys] * len(docs)}))
        return pd.concat(parts, ignore_index=True) if parts else pdf.iloc[0:0]

    decoded = segment_map(spark, paths, rows, run,
                          "doc_id long, __tm string, __keys array<string>")
    return (
        decoded.groupBy("doc_id")
        .agg(F.collect_set("__tm").alias(MATCH_COL),  # collect_set skips null
             F.array_distinct(F.flatten(F.collect_list("__keys")))
             .alias(PATTERN_COL))
    )


def attach_matched_atoms(
    spark: SparkSession,
    paths: IndexPaths,
    docs: DataFrame,
    doc_col: str,
    terms: list[str],
    specs: dict[str, tuple | None],
) -> DataFrame:
    """docs + MATCH_COL (which query tokens each doc contains) + PATTERN_COL
    (which wildcard/fuzzy/regexp atom keys it matches) — one segment stage
    + ONE doc-keyed join (empty arrays when none — never null, so NOT
    composes)."""
    empty = F.array().cast("array<string>")
    matched = _atom_markers(spark, paths, terms, specs)
    if matched is None:
        return (docs.withColumn(MATCH_COL, empty)
                    .withColumn(PATTERN_COL, empty))
    matched = matched.withColumnRenamed("doc_id", "__pd_doc_id")
    joined = docs.join(
        matched, docs[doc_col] == F.col("__pd_doc_id"), "left"
    ).drop("__pd_doc_id")
    return (joined
            .withColumn(MATCH_COL, F.coalesce(F.col(MATCH_COL), empty))
            .withColumn(PATTERN_COL, F.coalesce(F.col(PATTERN_COL), empty)))


def indexed_predicate(node, text_col: str, columns: list[str],
                      with_phrases: bool = False) -> Column:
    """Same boolean as ``to_spark_predicate`` but single-token text atoms
    test membership in MATCH_COL, wildcard/fuzzy atoms in PATTERN_COL —
    and, when the index is positional, multi-token (incl. sloppy) phrases
    in PHRASE_COL — instead of regex-scanning the text."""
    markers = {
        t: F.array_contains(F.col(MATCH_COL), t)
        for t in single_token_terms(node)
    }
    pat_markers = {
        key: F.array_contains(F.col(PATTERN_COL), key)
        for key in _pattern_specs(node)
    } or None
    ph_markers = None
    if with_phrases:
        ph_markers = {
            key: F.array_contains(F.col(PHRASE_COL), key)
            for key, _, _ in multi_token_phrases(node)
        }
    return to_spark_predicate(node, text_col, columns, term_markers=markers,
                              phrase_markers=ph_markers,
                              pattern_markers=pat_markers)


def required_atoms_union(node) -> list[tuple[str, str]] | None:
    """A set of positive text atoms — ("term", token) or ("pat", marker
    key) — such that EVERY matching doc must match at least one of them, or
    None when no such guarantee exists (pure negations, field-only
    predicates). Used to pre-prune the docs table with a posting semi-join
    before the marker join: at corpus scale this turns 'shuffle the whole
    docs table to evaluate a filter' into 'touch only docs in the candidate
    posting lists', the way ES drives filter context off the inverted index
    rather than a table scan."""
    if isinstance(node, (Term, Phrase, FieldText)):
        # a doc matching a phrase necessarily contains each of its tokens —
        # any one of them is a valid pruning guarantee (pick the first);
        # FieldText prunes on its field-prefixed dictionary term
        toks = _atom_tokens(node)
        return [("term", toks[0])] if toks else None
    if isinstance(node, Wildcard):
        return [("pat", wildcard_key(node.text))]
    if isinstance(node, Fuzzy):
        return [("pat", fuzzy_key(node.text, node.max_edits))]
    if isinstance(node, Regexp):
        return [("pat", regexp_key(node.pattern))]
    if isinstance(node, And):
        # any single conjunct's guarantee covers the conjunction; prefer the
        # smallest guarantee set (most selective pre-filter)
        best = None
        for p in node.parts:
            u = required_atoms_union(p)
            if u is not None and (best is None or len(u) < len(best)):
                best = u
        return best
    if isinstance(node, Or):
        out: list[tuple[str, str]] = []
        for p in node.parts:
            u = required_atoms_union(p)
            if u is None:
                return None  # one alternative matches without any term
            out.extend(u)
        return list(dict.fromkeys(out))
    return None


def text_only(node, positional: bool) -> bool:
    """True when the boolean is decidable purely from the index — every leaf
    is a text atom (term / phrase / wildcard / fuzzy) or MatchAll, with
    multi-token phrases requiring a positional index. Field / range / exists
    atoms reference doc columns, so they need the docs table."""
    from ..queryparser import MatchAll

    def walk(n) -> bool:
        if isinstance(n, (Term, Phrase, FieldText)):
            # a FieldText node only exists after resolve_analyzed consulted
            # the index's analyzed_fields, so its prefixed terms ARE indexed
            toks = _atom_tokens(n)
            return len(toks) <= 1 or positional
        if isinstance(n, (Wildcard, Fuzzy, Regexp, MatchAll)):
            return True
        if isinstance(n, (And, Or)):
            return all(walk(p) for p in n.parts)
        if isinstance(n, Not):
            return walk(n.part)
        return False

    return walk(node)


def _pattern_specs(node) -> dict[str, tuple | None]:
    """marker key → ``term_matcher`` spec over dictionary term strings:
    ("re", regex_source) for wildcards and regexps, ("lev", token,
    max_edits) for fuzzies, None when the atom can never match a token."""
    out: dict[str, tuple | None] = {}

    def walk(n):
        if isinstance(n, Wildcard):
            if wildcard_key(n.text) not in out:
                out[wildcard_key(n.text)] = wildcard_spec(n.text)
        elif isinstance(n, Regexp):
            if regexp_key(n.pattern) not in out:
                out[regexp_key(n.pattern)] = regexp_spec(n.pattern)
        elif isinstance(n, Fuzzy):
            toks = tokenize_py(n.text)
            k = fuzzy_key(n.text, n.max_edits)
            out.setdefault(
                k, ("lev", toks[0], n.max_edits) if len(toks) == 1 else None)
        elif isinstance(n, (And, Or)):
            for p in n.parts:
                walk(p)
        elif isinstance(n, Not):
            walk(n.part)

    walk(node)
    return out


def matching_ids(spark: SparkSession, paths: IndexPaths, node,
                 count_only: bool = False) -> DataFrame:
    """doc_ids matching a text-only boolean, evaluated ENTIRELY over posting
    lists with ZERO doc-keyed shuffle — the ES filter-context / _count fast
    path (ref S2 /root/reference/app/helpers/es.py:143-158: a count query
    never fetches documents; Lucene evaluates the bool as per-segment bitset
    algebra). Segments partition the doc space, so the boolean DISTRIBUTES
    over segments: inside one ``segment_map`` kernel call the atoms become
    sorted numpy doc-id arrays (posting lists; pattern atoms union their
    matching dictionary rows; phrases intersect position lists; the doclen
    sidecar is the segment's universe for NOT/match-all — read only when
    the evaluator needs it) and And/Or/Not are intersect/union/setdiff.
    The plan is ONE narrow segment stage → union of per-segment id arrays;
    no exchange, no join, no docs-table access.

    Caller contract: ``node`` must satisfy ``text_only``; the ids are those
    of the indexed corpus (compose with a semi-join for subset inputs)."""
    from ..queryparser import MatchAll
    from .build import load_stats
    from .query import _lazy_plists, _phrase_seg_match

    stats = load_stats(paths)
    node = resolve_analyzed(node, stats.get("analyzed_fields"))
    positional = bool(stats.get("positions"))
    if not positional:
        # a multi-token phrase needs position lists; silently evaluating it
        # as "matches nothing" (and NOT "a b" as the whole universe) would
        # be a wrong answer, not a degraded one — refuse instead (callers
        # route through text_only(), which already gates on positions)
        def _has_phrase(n) -> bool:
            if isinstance(n, (Term, Phrase, FieldText)):
                return len(_atom_tokens(n)) > 1
            if isinstance(n, (And, Or)):
                return any(_has_phrase(p) for p in n.parts)
            if isinstance(n, Not):
                return _has_phrase(n.part)
            return False
        if _has_phrase(node):
            raise ValueError(
                "matching_ids: multi-token phrase requires a positional "
                "index (build with positions=True, or route through "
                "indexed_filter)")
    terms = single_token_terms(node)
    specs = _pattern_specs(node)
    phrases = multi_token_phrases(node) if positional else []
    ph_tokens = sorted({t for _k, toks, _s in phrases for t in toks})
    need_terms = sorted(set(terms) | set(ph_tokens))

    def _is_multi_phrase(n) -> bool:
        return (isinstance(n, (Term, Phrase, FieldText))
                and len(_atom_tokens(n)) > 1)

    def _needs_universe(n, has_cand: bool) -> bool:
        """Mirror of the evaluator below: the doclen sidecar (doc universe)
        is needed only when a NOT / match-all is evaluated WITHOUT a
        candidate set. `X AND NOT Y` — the dominant negative shape — is
        evaluated as subtraction from the positive conjunction, so it never
        touches the universe (Lucene's ReqExcl scorer, not a complement
        bitset)."""
        if isinstance(n, MatchAll):
            return not has_cand
        if isinstance(n, Not):
            return (not has_cand) or _needs_universe(n.part, True)
        if isinstance(n, And):
            pos = [p for p in n.parts if not isinstance(p, Not)]
            neg = [p for p in n.parts if isinstance(p, Not)]
            if not pos:
                return ((not has_cand)
                        or any(_needs_universe(q.part, True) for q in neg))
            order = ([p for p in pos if not _is_multi_phrase(p)]
                     + [p for p in pos if _is_multi_phrase(p)])
            return (_needs_universe(order[0], has_cand)
                    or any(_needs_universe(p, True) for p in order[1:])
                    or any(_needs_universe(q.part, True) for q in neg))
        if isinstance(n, Or):
            return any(_needs_universe(p, has_cand) for p in n.parts)
        return False

    needs_universe = _needs_universe(node, False)
    valid_specs = tuple(sp for sp in specs.values() if sp is not None)
    out_schema = "cnt long" if count_only else "doc_id long"
    if not (needs_universe or need_terms or valid_specs):
        # no atoms at all and no universe need: nothing can match
        return spark.createDataFrame([], out_schema)
    cols = ("doc_blob",)
    if phrases:
        cols += ("tf_blob", "pos_blob", "block_pos_ends")
    rows = SegmentRows(columns=cols, terms=tuple(need_terms),
                       doclen=needs_universe, patterns=valid_specs)

    ph_defs = [(k, toks, slop) for k, toks, slop in phrases]
    ph_token_set = set(ph_tokens)
    matchers = {k: term_matcher(spec) for k, spec in specs.items()}

    def run(seg: int, pdf: pd.DataFrame) -> pd.DataFrame:
        empty_pdf = pd.DataFrame(
            {("cnt" if count_only else "doc_id"):
             pd.Series(dtype="int64")})
        universe = np.empty(0, dtype=np.int64)
        if needs_universe:
            dl_rows = pdf[pdf["term"].isna()]
            if dl_rows.empty:
                return empty_pdf
            universe = np.cumsum(
                varbyte_decode(bytes(dl_rows["doc_blob"].iloc[0]))
            ).astype(np.int64)
        term_rows = pdf[pdf["term"].notna()]
        docsets: dict[str, np.ndarray] = {}
        for term, dblob in zip(term_rows["term"], term_rows["doc_blob"]):
            docsets[term] = np.cumsum(
                varbyte_decode(bytes(dblob))).astype(np.int64)
        nothing = np.empty(0, dtype=np.int64)

        pat_sets: dict[str, np.ndarray] = {}
        for k, match in matchers.items():
            parts = [d for t, d in docsets.items() if match(t)]
            pat_sets[k] = (np.unique(np.concatenate(parts))
                           if parts else nothing)

        # phrases: positions decode LAZILY per evaluation, restricted to the
        # current candidate set — under `A AND "x y"` only candidate blocks
        # of the position stream are touched (gather_candidate_positions),
        # so phrase cost tracks the conjunction's selectivity, not corpus
        # size. Unrestricted evaluations (phrase as the only positive, or
        # under a bare OR) memoize on the phrase key.
        raw_pos: dict[str, tuple] = {}
        if ph_defs:
            for term, tblob, pblob, bpe in zip(
                    term_rows["term"], term_rows["tf_blob"],
                    term_rows["pos_blob"], term_rows["block_pos_ends"]):
                if term in ph_token_set and pblob is not None:
                    tfs = varbyte_decode(bytes(tblob)).astype(np.int64)
                    raw_pos[term] = (
                        docsets[term], tfs, bytes(pblob),
                        None if bpe is None else np.asarray(bpe, np.int64))

        ph_memo: dict[str, np.ndarray] = {}

        def ph_eval(toks, slop, cand) -> np.ndarray:
            k = phrase_key(toks, slop)
            if cand is None and k in ph_memo:
                return ph_memo[k]
            distinct = list(dict.fromkeys(toks))
            if not all(t in raw_pos for t in distinct):
                return nothing
            _, plists = _lazy_plists(
                {t: raw_pos[t] for t in distinct}, distinct, cand)
            if plists is None:
                d = nothing
            else:
                d, _ = _phrase_seg_match(plists, distinct, toks, slop)
            if cand is None:
                ph_memo[k] = d
            return d

        def ev(n, cand=None) -> np.ndarray:
            """Contract: matches(n) ∩ cand ⊆ result ⊆ matches(n) (with
            cand=None: result == matches(n)). Intersections/subtractions
            against a running candidate set therefore stay exact while
            letting every subtree skip work outside the candidates."""
            if isinstance(n, (Term, Phrase, FieldText)):
                toks = _atom_tokens(n)
                if not toks:
                    return nothing
                if len(toks) == 1:
                    return docsets.get(toks[0], nothing)
                slop = n.slop if isinstance(n, (Phrase, FieldText)) else 0
                return ph_eval(toks, slop, cand)
            if isinstance(n, Wildcard):
                return pat_sets[wildcard_key(n.text)]
            if isinstance(n, Regexp):
                return pat_sets[regexp_key(n.pattern)]
            if isinstance(n, Fuzzy):
                return pat_sets[fuzzy_key(n.text, n.max_edits)]
            if isinstance(n, MatchAll):
                return universe if cand is None else cand
            if isinstance(n, And):
                pos = [p for p in n.parts if not isinstance(p, Not)]
                neg = [p for p in n.parts if isinstance(p, Not)]
                if pos:
                    # cheap atoms first, multi-token phrases last so their
                    # position decode sees the narrowest candidate set
                    order = ([p for p in pos if not _is_multi_phrase(p)]
                             + [p for p in pos if _is_multi_phrase(p)])
                    r = ev(order[0], cand)
                    if cand is not None:
                        r = np.intersect1d(r, cand, assume_unique=True)
                    for p in order[1:]:
                        if r.size == 0:
                            return r
                        r = np.intersect1d(r, ev(p, r), assume_unique=True)
                else:
                    # pure-negative: complement of the union, over the
                    # candidates when given, else the segment universe
                    r = universe if cand is None else cand
                for q in neg:
                    if r.size == 0:
                        return r
                    r = np.setdiff1d(r, ev(q.part, r), assume_unique=True)
                return r
            if isinstance(n, Or):
                rs = [ev(p, cand) for p in n.parts]
                rs = [r for r in rs if r.size]
                return (np.unique(np.concatenate(rs)) if rs else nothing)
            if isinstance(n, Not):
                base = universe if cand is None else cand
                return np.setdiff1d(base, ev(n.part, base),
                                    assume_unique=True)
            raise ValueError(f"non-text atom in matching_ids: {n!r}")

        ids = ev(node)
        if count_only:
            # the _count fast path ships ONE row per segment instead of the
            # matched ids — output size O(segments), not O(matches) (ES
            # _count returns a number; so do we)
            return pd.DataFrame({"cnt": [int(ids.size)]})
        return pd.DataFrame({"doc_id": ids})

    return segment_map(spark, paths, rows, run, out_schema)


def indexed_filter(
    spark: SparkSession,
    paths: IndexPaths,
    docs: DataFrame,
    doc_col: str,
    text_col: str,
    node,
    columns: list[str],
) -> DataFrame:
    """Filter docs by a parsed query AST with index-backed term atoms;
    returns the original docs columns. When the boolean guarantees a
    positive indexed atom (see ``required_atoms_union``), the docs table is
    first pruned to the union of those posting lists (left-semi join), so
    the marker join runs over candidates, never the whole corpus. On a
    positional index, multi-token phrases (incl. sloppy `"a b"~2`) resolve
    via position-list intersection, and wildcard/fuzzy atoms via a
    dictionary-predicate segment scan — the compiled plan contains NO regex
    over the corpus text at all.

    When the boolean is decidable purely from the index (``text_only``), the
    whole filter collapses to ``matching_ids`` + a left-semi join: the docs
    table contributes only its key column (Catalyst prunes the rest), the
    way ES filter context never leaves the inverted index. A top-level AND
    sends its text-only conjuncts down the same path (one ``matching_ids``
    + one left-semi join) and compiles only the non-separable remainder
    (e.g. ``doc_id:[..]``) through the marker join."""
    from .build import load_stats

    stats = load_stats(paths)
    # mapping consultation (ES-style): field atoms on analyzed fields
    # become index-backed FieldText atoms before any compilation
    node = resolve_analyzed(node, stats.get("analyzed_fields"))
    positional = bool(stats.get("positions"))
    parts = node.parts if isinstance(node, And) else [node]
    indexed = [p for p in parts if text_only(p, positional)]
    if indexed:
        ids = matching_ids(
            spark, paths, indexed[0] if len(indexed) == 1 else And(indexed)
        ).withColumnRenamed("doc_id", "__mi_doc_id")
        docs = docs.join(ids, docs[doc_col] == F.col("__mi_doc_id"),
                         "left_semi")
        rest = [p for p in parts if not text_only(p, positional)]
        if not rest:
            return docs
        node = rest[0] if len(rest) == 1 else And(rest)

    terms = single_token_terms(node)
    specs = _pattern_specs(node)
    req = required_atoms_union(node)
    if req is not None and set(req) == {("term", t) for t in terms} | {
            ("pat", k) for k in specs}:
        # the guarantee IS the full positive atom set: the pruning
        # semi-join would read the same posting lists the marker join
        # reads and pass docs the predicate filters anyway — one pass
        # over the docs table beats two. (A pruning semi-join pays off
        # when the guarantee is a selective SUBSET, e.g. one rare
        # conjunct of an AND.)
        req = None
    if req:
        req_terms = [v for kind, v in req if kind == "term"]
        req_specs = [specs[v] for kind, v in req
                     if kind == "pat" and specs.get(v) is not None]
        if req_terms or req_specs:
            cand = posting_docs(spark, paths, req_terms, req_specs).select(
                F.col("doc_id").alias("__req_doc_id")).distinct()
            docs = docs.join(
                cand, docs[doc_col] == F.col("__req_doc_id"), "left_semi")
        else:
            # every guaranteed atom matches nothing → no doc can match
            docs = docs.where(F.lit(False))
    marked = attach_matched_atoms(spark, paths, docs, doc_col, terms, specs)
    if positional:
        marked = attach_matched_phrases(
            spark, paths, marked, doc_col, multi_token_phrases(node))
    out = marked.where(
        indexed_predicate(node, text_col, columns, with_phrases=positional)
    ).drop(MATCH_COL, PATTERN_COL)
    return out.drop(PHRASE_COL) if positional else out
