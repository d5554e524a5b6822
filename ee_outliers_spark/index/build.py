"""Index build: single-pass SPIMI per-partition segments + a naive
exploded-postings path.

Replaces the indexing work the reference delegates to Elasticsearch/Lucene
(every query in /root/reference/app/helpers/es.py:664-710 walks an ES
inverted index; here we build that index with Spark jobs).

Two representations:

1. **Naive postings** (``build_postings``): (term, doc_id, tf) rows via
   explode + groupBy. Pure DataFrame, used as the differential oracle for the
   compressed path and for the DataFrame BM25 scorer.

2. **SPIMI segments** (``build_segments``): docs are assigned to segments by
   ``doc_id % num_segments`` (deterministic → resumable), each segment built
   *inside one task* with zero token shuffle (the SPIMI trick: partition-local
   inversion). The kernel emits, per segment:
   - one row per term: delta-gap + varbyte compressed docIDs, varbyte tfs,
     and per-128-posting block metadata (last docID, max tf, min dl — the
     avgdl-INDEPENDENT extremes from which ``block_upper_bound`` derives a
     safe block-max WAND bound at query time, so incremental appends that
     shift avgdl never invalidate old segments);
   - one sidecar row (term = NULL) carrying the segment's compressed
     doclen map (docIDs + lengths) and its (n_docs, sum_dl) for global stats.
   ONE shuffle (doc→segment repartition), ONE pandas pass, ONE write.

Scale design (10^12 docs):
- token inversion never shuffles: the only data shuffle is the doc→segment
  repartition, column-pruned to (doc_id, text);
- head-term skew ("the", stopwords) cannot blow up a reducer because postings
  for a term are built per-segment — a term's global posting list is never
  materialized on one node; segments bound memory (the SPIMI memory budget =
  corpus_size / num_segments);
- resumability: segments land in ``segments.parquet/seg_id=K/`` directories;
  a manifest records lineage + postings/sec per segment; re-running skips
  completed seg_ids (north_rule: "resumable from checkpoint with
  per-partition lineage + metrics").
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import time
from collections import Counter
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import spread_input
from ..tokenizer import tokenize_py, tokens_col
from .codec import varbyte_encode, varbyte_encode_with_lengths

BLOCK = 128
K1 = 1.2
B = 0.75

#: one table holds both row kinds: term rows (postings) and the per-segment
#: doclen sidecar row (term IS NULL) — co-located by construction, so the
#: query side needs no cogroup/join to find a segment's doc lengths.
SEGMENT_SCHEMA = (
    "seg_id int, term string, df_local long, n_postings long, "
    "doc_blob binary, tf_blob binary, pos_blob binary, "
    "block_last_doc array<long>, block_max_tf array<long>, "
    "block_min_dl array<long>, block_pos_ends array<long>, "
    "n_docs long, sum_dl long, build_secs double"
)

_SEG_COLS = [
    "seg_id", "term", "df_local", "n_postings", "doc_blob", "tf_blob",
    "pos_blob",
    "block_last_doc", "block_max_tf", "block_min_dl", "block_pos_ends",
    "n_docs", "sum_dl", "build_secs",
]


# --------------------------------------------------------------------------
# naive path (differential oracle + DataFrame BM25 input)
# --------------------------------------------------------------------------

def build_postings(df: DataFrame, doc_col: str, text_col: str) -> DataFrame:
    """(term, doc_id, tf) — map-side partial agg keeps the shuffle small."""
    toks = df.select(
        F.col(doc_col).alias("doc_id"),
        F.explode(tokens_col(text_col)).alias("term"),
    )
    return toks.groupBy("term", "doc_id").agg(F.count("*").cast("long").alias("tf"))


def build_doc_lengths(df: DataFrame, doc_col: str, text_col: str) -> DataFrame:
    """(doc_id, dl) — narrow map, no shuffle."""
    return df.select(
        F.col(doc_col).alias("doc_id"),
        F.size(tokens_col(text_col)).cast("long").alias("dl"),
    )


def corpus_stats(doclen: DataFrame) -> tuple[int, float]:
    row = doclen.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    return int(row["n"]), float(row["avgdl"] or 0.0)


def term_stats(postings: DataFrame) -> DataFrame:
    """(term, df) global document frequency — small (vocabulary-sized)."""
    return postings.groupBy("term").agg(F.count("*").cast("long").alias("df"))


# --------------------------------------------------------------------------
# BM25 impact math shared by build / merge / query
# --------------------------------------------------------------------------

def _impact(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """Per-posting BM25 impact (idf excluded — applied at query time):
    tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)). Monotone increasing in tf,
    decreasing in dl, exact float64."""
    tf = tf.astype(np.float64)
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl.astype(np.float64) / avgdl))


def block_upper_bound(max_tf, min_dl, avgdl: float):
    """Safe block score upper bound (idf excluded), computed at QUERY time
    from avgdl-independent block metadata (max tf, min dl). Impact is
    monotone ↑tf ↓dl, so impact(max_tf, min_dl) ≥ any posting in the block —
    and stays valid when incremental appends shift the corpus avgdl (stored
    impacts would go stale; stored (tf, dl) extremes cannot)."""
    mt = np.asarray(max_tf, dtype=np.float64)
    md = np.asarray(min_dl, dtype=np.float64)
    return mt * (K1 + 1.0) / (mt + K1 * (1.0 - B + B * md / avgdl))


# --------------------------------------------------------------------------
# SPIMI kernel
# --------------------------------------------------------------------------

def segment_frame(seg_id: int, doc_ids_sorted: np.ndarray, dls_sorted: np.ndarray,
                  tf: pd.DataFrame, elapsed: float,
                  field_sidecars: dict | None = None) -> pd.DataFrame:
    """Assemble one segment's output rows from docID-sorted doc lengths and a
    (term, doc_id, tf) frame sorted by (term, doc_id). Shared by the build
    kernel and the LSM merge.

    ``field_sidecars`` maps a per-field sidecar term (``"title:"`` — the
    empty-token form no real dictionary entry can take, tokens being
    [a-z0-9]+) to that field's docID-sorted ``(doc_ids, field_dls)`` for
    docs where the field has ≥1 token. Each entry becomes one extra sidecar
    row per segment (Lucene per-field norms: .nvd/.nvm are per field), and
    the block_min_dl metadata of ``field:token`` term rows is computed from
    the FIELD's lengths so WAND upper bounds stay safe under per-field
    scoring.

    When ``tf`` carries a ``poss`` column (per-posting ascending token
    positions; len(poss) == tf), each term row additionally gets a
    ``pos_blob``: delta-gapped, varbyte-compressed positions in docID order
    (Lucene .prx layout) — phrase queries then resolve entirely off the
    index instead of re-tokenizing the corpus (ref F2 quoted phrases,
    /root/reference/app/helpers/es.py:238-250)."""
    terms = tf["term"].to_numpy() if len(tf) else np.empty(0, object)
    doc_np = (tf["doc_id"].to_numpy().astype(np.int64)
              if len(tf) else np.empty(0, np.int64))
    tf_np = (tf["tf"].to_numpy().astype(np.int64)
             if len(tf) else np.empty(0, np.int64))
    flat_pos = None
    if "poss" in tf.columns:
        poss_np = tf["poss"].to_numpy()
        # one global flatten (np.concatenate accepts the object array of
        # per-row position arrays directly — no per-row wrapping)
        flat_pos = (np.concatenate(poss_np).astype(np.int64)
                    if len(tf) else np.empty(0, np.int64))
    return _assemble_segment(seg_id, doc_ids_sorted, dls_sorted, terms,
                             doc_np, tf_np, flat_pos, elapsed,
                             field_sidecars=field_sidecars)


def _assemble_segment(seg_id: int, doc_ids_sorted: np.ndarray,
                      dls_sorted: np.ndarray, terms: np.ndarray,
                      doc_np: np.ndarray, tf_np: np.ndarray,
                      flat_pos: np.ndarray | None,
                      elapsed: float,
                      field_sidecars: dict | None = None) -> pd.DataFrame:
    """Encode one segment from flat row arrays sorted by (term, doc_id) —
    ``flat_pos`` is the concatenated position stream in row order (None for
    non-positional).

    The whole segment encodes in ONE vectorized varbyte pass per stream
    (docs, tfs, positions) — LEB128 is per-value independent, so each
    term's blob is a byte-slice of the global stream at cumsum(lengths)
    offsets, byte-identical to per-term encodes. Block metadata batches
    the same way with ufunc.reduceat over global block boundaries. The
    per-term Python work is reduced to the final row-assembly loop
    (vocabulary-sized): 1.97 s → 0.58 s (positional) / 0.60 s → 0.06 s on
    a 16k-doc segment vs the round-4 per-term encode loop (BENCH.md)."""
    out_rows = []
    n = len(terms)
    if n:
        dl_lookup = dls_sorted[np.searchsorted(doc_ids_sorted, doc_np)]
        if field_sidecars:
            # rows are term-sorted, so every `field:token` row sits in the
            # contiguous range ["field:", "field;") — swap in the FIELD's
            # doc lengths there so block_min_dl bounds per-field impacts
            for fterm, (fdocs, fdls) in field_sidecars.items():
                lo = int(np.searchsorted(terms, fterm, side="left"))
                hi = int(np.searchsorted(terms, fterm[:-1] + ";",
                                         side="left"))
                if lo < hi and len(fdocs):
                    dl_lookup[lo:hi] = fdls[
                        np.searchsorted(fdocs, doc_np[lo:hi])]
        change = np.flatnonzero(terms[1:] != terms[:-1]) + 1
        t_starts = np.concatenate(([0], change))
        t_ends = np.concatenate((change, [n]))
        # docIDs: delta-gapped within each term, absolute at term starts
        # (uint64 wraparound on the cross-term diffs is overwritten — every
        # term boundary IS a t_start)
        gaps = doc_np.astype(np.uint64)
        gaps[1:] = gaps[1:] - doc_np[:-1].astype(np.uint64)
        gaps[t_starts] = doc_np[t_starts]
        doc_bytes, doc_lens = varbyte_encode_with_lengths(gaps)
        tf_bytes, tf_lens = varbyte_encode_with_lengths(tf_np)
        doc_off = np.concatenate(([0], np.cumsum(doc_lens)))
        tf_off = np.concatenate(([0], np.cumsum(tf_lens)))
        pos_all = row_byte = row_bounds = None
        if flat_pos is not None:
            row_bounds = np.concatenate(([0], np.cumsum(tf_np)))
            pgaps = flat_pos.copy()
            if flat_pos.size:
                pgaps[1:] -= flat_pos[:-1]
                rs = row_bounds[:-1]
                pgaps[rs] = flat_pos[rs]  # posting boundaries: absolute
            pos_all, pos_lens = varbyte_encode_with_lengths(pgaps)
            row_byte = np.concatenate(([0], np.cumsum(pos_lens)))
        # block metadata: global block boundaries tile [0, n) exactly
        # (a term's last block ends where the next term's first begins)
        lens = t_ends - t_starts
        nblks = (lens + BLOCK - 1) // BLOCK
        total_blk = int(nblks.sum())
        bo = np.concatenate(([0], np.cumsum(nblks)))
        intra = np.arange(total_blk) - np.repeat(bo[:-1], nblks)
        b_starts = np.repeat(t_starts, nblks) + intra * BLOCK
        b_ends = np.minimum(b_starts + BLOCK, np.repeat(t_ends, nblks))
        blast_all = doc_np[b_ends - 1]
        bmaxtf_all = np.maximum.reduceat(tf_np, b_starts)
        bmindl_all = np.minimum.reduceat(dl_lookup, b_starts)
        bposend_all = None
        if pos_all is not None:
            # byte offset (within the TERM's pos_blob) of each block's end:
            # positions restart absolute at every posting boundary, so any
            # block-aligned byte slice decodes independently — queries
            # decode only the blocks that hold candidate docs (the .prx
            # analogue of block-max skip data; task: sublinear phrases)
            bposend_all = (row_byte[row_bounds[b_ends]]
                           - np.repeat(row_byte[row_bounds[t_starts]], nblks))
        for i in range(len(t_starts)):
            s, e = int(t_starts[i]), int(t_ends[i])
            pos_blob = bpe = None
            if pos_all is not None:
                pos_blob = pos_all[int(row_byte[row_bounds[s]]):
                                   int(row_byte[row_bounds[e]])]
                bpe = bposend_all[int(bo[i]):int(bo[i + 1])].tolist()
            out_rows.append((
                seg_id, terms[s], e - s, e - s,
                doc_bytes[int(doc_off[s]):int(doc_off[e])],
                tf_bytes[int(tf_off[s]):int(tf_off[e])],
                pos_blob,
                blast_all[int(bo[i]):int(bo[i + 1])].tolist(),
                bmaxtf_all[int(bo[i]):int(bo[i + 1])].tolist(),
                bmindl_all[int(bo[i]):int(bo[i + 1])].tolist(),
                bpe,
                None, None, elapsed,
            ))
    # per-field doclen sidecar rows (term = "field:") — the field's own
    # (docID, length) map + its (n_docs, sum_dl) totals, so FieldText atoms
    # score with the field's norm (Lucene per-field .nvd) and stats carry a
    # per-field docCount/avgdl without decoding anything at refresh time
    n_terms = int(len(out_rows))
    n_postings = int(sum(r[3] for r in out_rows))
    if field_sidecars:
        for fterm in sorted(field_sidecars):
            fdocs, fdls = field_sidecars[fterm]
            if not len(fdocs):
                continue
            out_rows.append((
                seg_id, fterm, int(len(fdocs)), int(len(fdocs)),
                varbyte_encode(np.diff(fdocs.astype(np.uint64),
                                       prepend=np.uint64(0))),
                varbyte_encode(fdls.astype(np.uint64)),
                None, None, None, None, None,
                int(len(fdocs)), int(fdls.sum()), elapsed,
            ))
    # doclen sidecar row (term NULL). df_local/n_postings are repurposed to
    # carry the SEGMENT totals (n_terms, n_postings) so manifest + stats are
    # a 1-row-per-segment collect instead of a full segment-table aggregation
    # — that post-build agg was a measurable non-scaling tail.
    out_rows.append((
        seg_id, None, n_terms, n_postings,
        varbyte_encode(np.diff(doc_ids_sorted.astype(np.uint64),
                               prepend=np.uint64(0))),
        varbyte_encode(dls_sorted.astype(np.uint64)),
        None,
        None, None, None, None,
        int(len(doc_ids_sorted)), int(dls_sorted.sum()), elapsed,
    ))
    return pd.DataFrame(out_rows, columns=_SEG_COLS)


def _pairs_segment_frame(key, pdf: pd.DataFrame) -> pd.DataFrame:
    """Encoding kernel (applyInPandas, grouped by the segment ROUTE key —
    seg_id rides as a column): input is the COMPACT pair stream —
    (seg_id, term, doc_id, cnt) where term rows carry tf and term-NULL rows
    mark doc membership (one zero row per doc, so empty docs still exist).
    Tokenization and counting already happened JVM-side (whole-stage codegen
    explode + hash agg with map-side combine), so the Python bridge moves
    index-sized data — never the corpus text. Doc lengths are Σtf per doc
    (the same tokenizer counted both, so the sums ARE the token counts —
    byte-identical segments, pinned by the kernel differential test), which
    lets the pair stream skip a second corpus-wide tokenize pass for
    lengths. At 10^12 docs this is the difference between shipping ~PBs vs
    ~TBs into Python workers — and tokenizing the corpus once, not twice."""
    t0 = time.monotonic()
    dl_rows = pdf[pdf["term"].isna()]
    seg_id = int(dl_rows["seg_id"].iloc[0]) if len(dl_rows) else int(
        pdf["seg_id"].iloc[0])
    term_rows = pdf[pdf["term"].notna()]
    docs_sorted = np.sort(dl_rows["doc_id"].to_numpy(dtype=np.int64))
    fmask = term_rows["term"].str.contains(":", regex=False)  # "f:tok" rows
    field_sidecars = {}
    if fmask.any():
        frows = term_rows[fmask]
        fkey = frows["term"].str.split(":", n=1).str[0] + ":"
        for fterm, grp in frows.groupby(fkey, sort=True):
            s = grp.groupby("doc_id")["cnt"].sum().sort_index()
            field_sidecars[str(fterm)] = (
                s.index.to_numpy(dtype=np.int64),
                s.to_numpy(dtype=np.int64))
        main_rows = term_rows[~fmask]
    else:
        main_rows = term_rows
    dls_sorted = (
        main_rows.groupby("doc_id")["cnt"].sum()
        .reindex(docs_sorted, fill_value=0)
        .to_numpy(dtype=np.int64))
    cols = ["term", "doc_id", "cnt"] + (["poss"] if "poss" in pdf.columns else [])
    tf = (
        term_rows[cols]
        .rename(columns={"cnt": "tf"})
        .sort_values(["term", "doc_id"], kind="stable")
    )
    return segment_frame(seg_id, docs_sorted, dls_sorted, tf,
                         time.monotonic() - t0,
                         field_sidecars=field_sidecars or None)


def _pair_stream(base: DataFrame, num_segments: int,
                 positions: bool = False,
                 analyzed_fields: tuple[str, ...] = ()) -> DataFrame:
    """(seg_id, term, doc_id, cnt[, poss]): per-(term,doc) tf rows + one
    term-NULL membership row per doc — all JVM-side (tokenize via codegen
    split/filter; one shuffle with partial aggregation collapsing duplicate
    tokens map-side). Doc LENGTHS are not computed here: the encoding kernel
    derives dl = Σtf per doc from the tf rows it already holds (same
    tokenizer ⇒ same counts), so the corpus text is tokenized exactly ONCE —
    the membership rows only exist so zero-token docs still enter the doc
    table (3 ints/doc, negligible next to the pair stream).

    With ``positions=True`` the explode keeps each token's array index
    (posexplode) and the agg carries ``sort_array(collect_list(pos))`` — the
    shuffle grows from O(distinct (term,doc) pairs) to O(total tokens), which
    is inherent to a positional index (positions ARE O(tokens) of payload;
    Lucene pays the same in .prx). Non-positional indexes keep the compact
    shuffle, so builds that never serve phrase queries pay nothing.

    ``analyzed_fields`` adds Lucene-style PER-FIELD terms: each extra text
    column is analyzed with the same tokenizer and its terms land in the
    same dictionary as ``field:token`` entries (the ':' cannot collide with
    main-text terms, which are [a-z0-9]+). Positions are the field's own
    token offsets, so per-field phrases intersect exactly like main-text
    phrases. Per-field terms do NOT contribute to the MAIN doclen — each
    field gets its own norm sidecar (dl = Σ field-tf in the kernel), Lucene's
    per-field .nvd length normalization."""
    # a single-row-group source otherwise tokenizes + partial-aggregates the
    # whole corpus on ONE task before the first exchange (guide §2/§6);
    # no-op whenever the scan already has ≥cores splits
    base = spread_input(base)
    seg = (F.col("doc_id") % num_segments).cast("int").alias("seg_id")
    dl = base.select(
        seg, F.lit(None).cast("string").alias("term"), F.col("doc_id"),
        F.lit(0).cast("long").alias("cnt"),
    )

    def tf_of(col: str, prefix: str) -> DataFrame:
        if positions:
            toks = base.select(
                seg, F.col("doc_id"),
                F.posexplode(tokens_col(col)).alias("pos", "tok"),
            )
            grouped = toks.groupBy("seg_id", "tok", "doc_id").agg(
                F.count("*").cast("long").alias("cnt"),
                F.sort_array(
                    F.collect_list(F.col("pos").cast("int"))).alias("poss"),
            )
        else:
            toks = base.select(seg, F.col("doc_id"),
                               F.explode(tokens_col(col)).alias("tok"))
            grouped = toks.groupBy("seg_id", "tok", "doc_id").agg(
                F.count("*").cast("long").alias("cnt"))
        term = (F.concat(F.lit(prefix), F.col("tok")) if prefix
                else F.col("tok")).alias("term")
        cols = ["seg_id", term, "doc_id", "cnt"] + (
            ["poss"] if positions else [])
        return grouped.select(*cols)

    tf = tf_of("text", "")
    for f in analyzed_fields:
        # per-field doclens (Lucene's .nvd norms) also come from Σtf in the
        # kernel: a doc has a field-norm row iff it has ≥1 "f:tok" tf row —
        # exactly the old `.where(cnt > 0)` stream, without re-tokenizing
        tf = tf.unionByName(tf_of(f.lower(), f.lower() + ":"))
    if positions:
        dl = dl.withColumn("poss", F.lit(None).cast("array<int>"))
        return tf.unionByName(dl)
    return tf.unionByName(dl)


def _text_segment_kernel(analyzed_fields: tuple[str, ...] = (),
                         positions: bool = True):
    """applyInPandas kernel (grouped by seg_id) over raw (seg_id, doc_id,
    text[, fields...]) rows: tokenize, invert (with positions when
    ``positions``), and encode entirely inside the worker — the production
    build path for both index shapes.

    Scale rationale (measured round 5, BENCH.md): a positional index's
    payload is O(total tokens). Shipping that through a shuffle as
    (term, doc, positions) rows costs ~4× the corpus bytes (term strings
    re-shipped per posting + sort spill), while shipping the TEXT once in
    the doc→segment repartition costs ~1× corpus bytes — the Lucene shape
    (documents route to a shard; the shard's writer tokenizes and builds
    its own .prx). Non-positional builds keep the opposite trade
    (_pair_stream: compact JVM-aggregated pairs ≪ text — perf lesson from
    round 1). Inside the kernel everything is C-path: vectorized findall,
    one np.unique for the dictionary, one stable lexsort by (term, doc)
    that inherits ascending positions, then the one-pass batch encoder
    (_assemble_segment) — byte-identical segments to the pair-stream path
    (pinned by a differential test)."""

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import pyarrow as pa
        import pyarrow.compute as pc

        t0 = time.monotonic()
        seg_id = int(pdf["seg_id"].iloc[0])  # grouped by the route key
        pdf = pdf.sort_values("doc_id")
        docs_sorted = pdf["doc_id"].to_numpy(np.int64)

        def tok_stream(texts: pd.Series):
            """(codes int64, counts-per-doc int64, vocab object) without
            materializing one Python object per token: lowercase stays in
            Python (the exact tokenize_py case mapping), the split runs as
            an RE2 kernel on the SAME complement class as tokens_col
            (maximal [a-z0-9] runs = split on [^a-z0-9]+ minus empties),
            and the dictionary comes from Arrow dictionary_encode —
            Python strings exist only at VOCABULARY size. The previous
            pandas str.findall + factorize built ~10^6 list/str objects
            per segment and was the single largest kernel phase (0.93 s of
            a 1.73 s 16k-doc positional kernel; this path: 0.25 s)."""
            low = texts.fillna("").str.lower()
            split = pc.split_pattern_regex(
                pa.array(low, type=pa.string()), "[^a-z0-9]+")
            flat = pc.list_flatten(split)
            keep = pc.not_equal(pc.binary_length(flat), 0)
            flat = flat.filter(keep)
            raw_counts = np.diff(np.asarray(split.offsets, dtype=np.int64))
            if len(flat) == int(raw_counts.sum()):
                counts = raw_counts  # no empty pieces — common fast path
            else:
                parent = np.repeat(
                    np.arange(len(raw_counts), dtype=np.int64), raw_counts)
                counts = np.bincount(
                    parent[np.asarray(keep, dtype=bool)],
                    minlength=len(raw_counts)).astype(np.int64)
            enc = pc.dictionary_encode(flat)
            codes = enc.indices.to_numpy().astype(np.int64, copy=False)
            uniq = np.asarray(enc.dictionary.to_pylist(), dtype=object)
            return codes, counts, uniq

        # Dictionary via Arrow dictionary-encode, then a vocabulary-sized
        # argsort + rank remap. A materialized unicode token array
        # (<U maxlen × 4 B/char) hits ~250 MB/segment on web text and
        # np.unique sorts all of it: measured 5.1 s/segment vs 0.37 s for
        # the hash-encode+rank shape — and the big allocations compound
        # into page-fault storms on this host (BENCH.md round 5).
        code_parts, doc_parts, pos_parts, vocab_parts = [], [], [], []
        code_base = 0
        dls_sorted = None

        def add_stream(texts: pd.Series, prefix: str):
            nonlocal code_base
            codes, counts, uniq = tok_stream(texts)
            total = int(counts.sum())
            if total == 0:
                return counts
            if prefix:
                # prefix at VOCABULARY size, never per token
                uniq = np.array([prefix + t for t in uniq], dtype=object)
            if positions:
                starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
                pos_parts.append(np.arange(total, dtype=np.int64)
                                 - np.repeat(starts, counts))
            doc_parts.append(np.repeat(docs_sorted, counts))
            code_parts.append(codes + code_base if code_base else codes)
            vocab_parts.append(uniq)
            code_base += len(uniq)
            return counts

        dls_sorted = add_stream(pdf["text"], "")
        field_sidecars = {}
        for f in analyzed_fields:
            flens = add_stream(pdf[f], f + ":")
            m = flens > 0
            if m.any():
                # docs_sorted is ascending, so the masked slice stays sorted
                field_sidecars[f + ":"] = (docs_sorted[m], flens[m])

        if not code_parts:
            return _assemble_segment(
                seg_id, docs_sorted, dls_sorted, np.empty(0, object),
                np.empty(0, np.int64), np.empty(0, np.int64),
                np.empty(0, np.int64), time.monotonic() - t0,
                field_sidecars=field_sidecars or None)
        codes_all = (np.concatenate(code_parts) if len(code_parts) > 1
                     else code_parts[0])
        docs_all = (np.concatenate(doc_parts) if len(doc_parts) > 1
                    else doc_parts[0])
        pos_all = (None if not positions
                   else np.concatenate(pos_parts) if len(pos_parts) > 1
                   else pos_parts[0])
        vocab = (np.concatenate(vocab_parts) if len(vocab_parts) > 1
                 else vocab_parts[0])
        # streams are namespace-disjoint (field prefix) and per-stream
        # uniques are unique → the combined vocabulary has no duplicates
        order_v = np.argsort(vocab)
        rank = np.empty(len(vocab), np.int64)
        rank[order_v] = np.arange(len(vocab), dtype=np.int64)
        codes_r = rank[codes_all]
        # single-key STABLE sort: docs_all is ascending within every code
        # value already (each code belongs to exactly one stream, and each
        # stream's docs are repeat(docs_sorted, counts)), so stability
        # yields exactly lexsort((docs, codes)) at about half the cost —
        # and token positions stay ascending within (term, doc) ties
        order = np.argsort(codes_r, kind="stable")
        codes_s = codes_r[order]                 # ascending within (t, doc)
        docs_s = docs_all[order]
        change = np.flatnonzero(
            (codes_s[1:] != codes_s[:-1]) | (docs_s[1:] != docs_s[:-1])) + 1
        row_starts = np.concatenate(([0], change))
        row_ends = np.concatenate((change, [len(codes_s)]))
        sorted_vocab = vocab[order_v]
        return _assemble_segment(
            seg_id, docs_sorted, dls_sorted,
            sorted_vocab[codes_s[row_starts]],
            np.asarray(docs_s[row_starts], dtype=np.int64),
            np.asarray(row_ends - row_starts, dtype=np.int64),
            np.asarray(pos_all[order], dtype=np.int64) if positions else None,
            time.monotonic() - t0,
            field_sidecars=field_sidecars or None)

    return run


#: positional-build kernel choice. "text" (default since round 6):
#: repartition the RAW TEXT to segments and tokenize/invert in-worker —
#: ~1× corpus bytes moved instead of ~4× (term strings re-shipped per
#: posting + sort spill); the Lucene shape (docs route to a shard, the
#: shard's writer builds its own .prx), and the right default on a real
#: cluster where network shuffle dominates. Round-6 interleaved same-JVM
#: A/B at 600k/32 cores: text 10.4 s vs pairs 12.9 s median (BENCH.md) —
#: the round-5 "indistinguishable" call was host noise. "pairs": JVM
#: tokenize + O(tokens) (term,doc,positions) shuffle + collect_list.
#: NON-positional builds always default to the compact aggregated pair
#: shuffle (pairs ≪ text — round-1 lesson, re-confirmed round 6: text
#: 74.7 s vs pairs 47.6 s at 1.2M/16 cores). Both kernels build
#: byte-identical segments for both shapes (differential test).
POSITIONAL_KERNEL = os.environ.get("SPARK_GRAFT_POS_KERNEL", "text")


_M32 = (1 << 32) - 1


def _mm3_int32(x: int, seed: int = 42) -> int:
    """Murmur3_x86_32 of one int32 — Spark's ``Murmur3Hash`` (= ``F.hash``)
    for IntegerType, which is also what hash partitioning
    (``repartition(n, col)``) runs. Pinned against ``F.hash`` by
    tests/test_index_bm25.py::test_segment_routing_is_one_task_per_segment."""
    k1 = (x & _M32) * 0xCC9E2D51 & _M32
    k1 = ((k1 << 15 | k1 >> 17) & _M32) * 0x1B873593 & _M32
    h1 = seed ^ k1
    h1 = ((h1 << 13 | h1 >> 19) & _M32) * 5 + 0xE6546B64 & _M32
    h1 ^= 4  # total byte length
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & _M32
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _route_keys(n: int) -> list[int]:
    """n int32 values whose Spark hash-partition assignment
    (``pmod(murmur3(x), n)``) is a BIJECTION onto 0..n-1: routes[p] lands in
    partition p. Grouping segments by these keys puts EXACTLY one segment in
    each reduce task. Plain ``groupBy(seg_id)`` hashes the segment keys into
    ``spark.sql.shuffle.partitions`` buckets binomially — measured on
    128 segments: the busiest of 16 reducers packs 12 segments (1.5× the
    mean) vs 41/32 (1.28×) on 4 reducers, a deterministic straggler tail
    that alone costs ~15 points of 4→16 scaling efficiency on the pack
    stage. Coupon-collector scan, ~n·ln n probes, microseconds for n≤4096."""
    routes: list[int | None] = [None] * n
    found = 0
    x = 0
    while found < n:
        p = _mm3_int32(x) % n  # python % of signed == Java pmod
        if routes[p] is None:
            routes[p] = x
            found += 1
        x += 1
    return routes  # type: ignore[return-value]


def _with_route(df: DataFrame, num_segments: int,
                seg_offset: int = 0) -> DataFrame:
    """Attach the one-partition-per-segment ``_route`` key (see
    ``_route_keys``). Out-of-contract seg_ids route to a distinct negative
    key (their own group) instead of silently aliasing another segment's
    route via element_at's negative/end-relative indexing — a contract
    violation then surfaces as an extra group, never as silent index
    corruption."""
    routes = _route_keys(num_segments)
    route_arr = F.array(*[F.lit(int(r)) for r in routes])
    idx = (F.col("seg_id") - int(seg_offset) + 1).cast("int")
    return df.withColumn(
        "_route",
        F.when((idx >= 1) & (idx <= int(num_segments)),
               F.element_at(route_arr, idx))
        .otherwise((-F.col("seg_id") - 1).cast("int")))


def _routed_by_segment(df: DataFrame, num_segments: int,
                       seg_offset: int = 0):
    """Exchange ``df`` so each segment occupies its own partition (1 task =
    1 segment), then group by the routing key. No reducer ever packs 2+
    segments while another sits idle — on a 1000-executor cluster this is
    segment→reducer placement, the thing HashPartitioning alone cannot
    guarantee. A segment count that is not a multiple of the core count
    leaves a partial last wave (auto_num_segments sizes by need, not by
    waves)."""
    return (_with_route(df, num_segments, seg_offset)
            .repartition(num_segments, "_route").groupBy("_route"))


def live_seg_ids(stats: dict) -> list[int] | None:
    """The commit point's live segment ids (for routing), or None when the
    stats predate live tracking."""
    live = stats.get("live_segments")
    if live is not None:
        return [int(s) for s in live]
    n = stats.get("num_segments")
    return list(range(int(n))) if n else None


def routed_segment_groupby(df: DataFrame, seg_ids: list[int] | None,
                           col: str = "seg_id"):
    """``df.groupBy(col)`` with guaranteed one-segment-per-reduce-partition
    placement (see ``_route_keys``) for the heavy per-segment kernels (LSM
    merge: one segment IS the task's memory budget). On 128 segments over
    32 shuffle partitions a plain hash groupBy packs ~2× the mean into the
    busiest reducer and gates the whole stage. Kernels must read the
    segment id from the pdf, not from the group key. Falls back to the
    plain groupBy when the live list is unknown (pre-routing index dirs).
    Query kernels do not shuffle at all — see ``segment_map``."""
    if not seg_ids:
        return df.groupBy(col)
    ids = sorted({int(s) for s in seg_ids})
    routes = _route_keys(len(ids))
    mapping = F.create_map(*[F.lit(int(v)) for s, r in zip(ids, routes)
                             for v in (s, r)])
    routed = df.withColumn(
        "_route",
        F.coalesce(mapping[F.col(col)],
                   (-F.col(col) - 1).cast("int")))
    return routed.repartition(len(ids), "_route").groupBy("_route")


@dataclass(frozen=True)
class SegmentRows:
    """Which rows and columns of each live segment a query kernel reads
    (``segment_map``): dictionary rows whose term is in ``terms`` (a
    ``field:`` norm sidecar is just such a term) or matches one of
    ``patterns`` (``term_matcher`` specs), plus the doclen sidecar row
    (term NULL — the segment's doc universe and lengths) when ``doclen``.
    ``columns`` are read besides ``term``; a column that a segment file
    lacks (e.g. ``block_pos_ends`` before it existed) reads as None."""
    columns: tuple[str, ...] = ("doc_blob",)
    terms: tuple[str, ...] = ()
    doclen: bool = False
    patterns: tuple = ()


def term_matcher(spec):
    """Predicate over dictionary term strings for one pattern-atom spec
    (``filter._pattern_specs``): ("re", source) fullmatches, ("lev", token,
    max_edits) is a classic Levenshtein bound, None never matches. Neither
    ever matches a ``field:`` entry — tokens contain no ':', so a main-text
    pattern must not expand into the per-field namespace."""
    if spec is None:
        return lambda t: False
    if spec[0] == "re":
        rx = re.compile(spec[1])
        return lambda t: ":" not in t and rx.fullmatch(t) is not None
    from ..queryparser import levenshtein_py

    _, tok, m = spec
    return lambda t: (":" not in t and abs(len(t) - len(tok)) <= m
                      and levenshtein_py(t, tok) <= m)


def _read_segment(fs, seg_dir: str, rows: SegmentRows) -> pd.DataFrame:
    """One segment's ``rows`` as a pandas frame, read with pyarrow straight
    from its partition directory: the term filter is a parquet dataset
    predicate; pattern atoms first read the segment's term column and add
    the dictionary terms their matchers accept."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    import pyarrow.fs as pafs

    cols = ["term", *rows.columns]
    files = [f.path for f in fs.get_file_info(
                 pafs.FileSelector(seg_dir, allow_not_found=True))
             if f.type == pafs.FileType.File
             and f.base_name.endswith(".parquet")
             and not f.base_name.startswith((".", "_"))]
    if not files:
        return pd.DataFrame({c: pd.Series(dtype=object) for c in cols})
    data = pads.dataset(files, format="parquet", filesystem=fs)
    terms = set(rows.terms)
    if rows.patterns:
        matchers = [term_matcher(s) for s in rows.patterns]
        names = data.to_table(columns=["term"]).column("term").unique()
        terms.update(t for t in names.to_pylist()
                     if t is not None and any(m(t) for m in matchers))
    pred = pc.field("term").isin(pa.array(sorted(terms), pa.string()))
    if rows.doclen:
        pred = pred | pc.field("term").is_null()
    have = set(data.schema.names)
    pdf = data.to_table(columns=[c for c in cols if c in have],
                        filter=pred).to_pandas()
    for c in cols:
        if c not in have:
            pdf[c] = None
    return pdf


def segment_map(spark: SparkSession, paths: IndexPaths, rows: SegmentRows,
                kernel, schema: str) -> DataFrame:
    """Run ``kernel(seg_id, pdf)`` once per live segment in ONE narrow
    stage, ``pdf`` being that segment's ``rows`` — the query phase of a
    shard, with the global merge left to the caller. A ``spark.range`` over
    the live list is split into ``min(n_live, defaultParallelism)`` tasks
    and each task reads its segments straight from ``seg_id=N/`` with
    pyarrow: no parquet schema/listing job, no JVM scan stage, no routing
    exchange. Only the commit point's live ids are read: dead directories
    that a merge has not yet collected are never listed, and an index
    with no committed stats has no visible segments."""
    import pyarrow.fs as pafs

    live = live_seg_ids(load_stats(paths))
    if not live:
        return spark.createDataFrame([], schema)
    # a filesystem URI, or an absolute local path: executors resolve it
    # regardless of their cwd
    root = paths.segments
    if "://" not in root:
        root = os.path.abspath(root)

    # named for the plan: "MapInPandas segment_stage(id)" marks an index read
    def segment_stage(batches: Iterator[pd.DataFrame]
                      ) -> Iterator[pd.DataFrame]:
        fs, base = pafs.FileSystem.from_uri(root)
        for batch in batches:
            for i in batch["id"]:
                seg = live[int(i)]
                out = kernel(seg, _read_segment(
                    fs, f"{base}/seg_id={seg}", rows))
                if len(out):
                    yield out

    n_tasks = min(len(live), spark.sparkContext.defaultParallelism)
    return spark.range(len(live), numPartitions=n_tasks).mapInPandas(
        segment_stage, schema=schema)


#: Non-positional pair-stream shape. "agg" (two exchanges): explode →
#: groupBy(seg,term,doc) with map-side combine → route repartition →
#: kernel. Selects the stream used WHEN a pairs-shaped path is chosen
#: (NONPOS_KERNEL below defaults non-positional builds to the text kernel
#: instead; this stream remains the JVM-tokenize alternative).
#: "textroute" (ONE exchange): route the
#: RAW TEXT by segment first (1× corpus bytes — the Lucene doc→shard
#: shape), then tokenize + explode + aggregate POST-shuffle: the grouping
#: keys include the route key, so Catalyst elides the aggregation
#: exchange and partial+final hash aggregation runs inside the route
#: partitions, feeding FlatMapGroupsInPandas without any further
#: exchange. Tokenization and counting both stay JVM codegen either way;
#: kernel input rows are value-identical, so segments stay byte-identical
#: (differential test). Interleaved same-JVM A/B at 6M docs / 32 cores
#: (bench_evidence/pair_stream_r7/): textroute 53.1/54.8/57.1 s vs agg
#: 76.2/76.9/114.4 s — textroute won every round in both orders (0.71×).
#: A third shape — raw exploded tokens through one exchange ("fused") —
#: measured WORSE than agg (95.6 vs 68.1 s medians, same evidence dir):
#: token rows outweigh the text they came from once map-side combine is
#: lost; routing the text keeps the exchange at 1× corpus bytes.
PAIR_STREAM = os.environ.get("SPARK_GRAFT_PAIR_STREAM", "textroute")

#: NON-positional build kernel. "text" (default since the round-7
#: continuation): route the raw text and tokenize+invert+encode in-worker —
#: the same shape as the positional default, now that the Arrow-native
#: kernel tokenizer (RE2 split + dictionary_encode, no per-token Python
#: objects) removed the Python-tokenize penalty that made round 1 prefer
#: JVM pair streams. Interleaved same-JVM A/Bs, non-positional builds:
#: 6M docs text 25.2/27.4/27.6 s vs textroute 37.8/40.9/45.1 s (0.67×);
#: 600k text 4.82 vs 6.93 s; sf-level warm 1.1 vs 1.2-1.5 s — the JVM
#: tokenize+explode+aggregate stage (33 s of the 6M textroute build's
#: 44 s) costs more than shipping text once and tokenizing in the C-path
#: kernel. "textroute"/"agg" keep the JVM pair streams (PAIR_STREAM).
NONPOS_KERNEL = os.environ.get("SPARK_GRAFT_NONPOS_KERNEL", "text")


def _textroute_pair_groupby(base: DataFrame, num_segments: int,
                            analyzed_fields: tuple[str, ...] = (),
                            seg_offset: int = 0,
                            todo: list[int] | None = None):
    """Single-exchange NON-positional pair stream (see PAIR_STREAM note).
    The per-doc membership row (term NULL — zero-token docs must still
    enter the doc table) comes from a NULL sentinel appended to each doc's
    token array, so the whole stream is ONE explode+aggregate branch — a
    Union here would erase the route partitioning and reintroduce the
    exchange. The kernel ignores the membership row's cnt, so its value
    (1 here, 0 in the "agg" stream) cannot affect segment bytes.

    A POSITIONAL variant (post-shuffle ``sort_array(collect_list(pos))``
    of (term,pos)-struct explodes) was built and measured 2.5× SLOWER than
    the text kernel at 6M docs (244 s vs 96 s, bench_evidence/
    pair_stream_r7/posab_round0.jsonl): collect_list aggregation over
    ~10^6 groups per partition abandons hash aggregation for the
    sort-based ObjectHashAggregate fallback — the same pathology that
    makes the two-exchange positional "pairs" stream 344 s. Positional
    builds stay on the text kernel (Python in-worker inversion)."""
    seg = ((F.col("doc_id") % num_segments).cast("int")
           + F.lit(int(seg_offset))).cast("int").alias("seg_id")
    src = base.select(seg, "*")
    if todo is not None:
        src = src.where(F.col("seg_id").isin(
            [int(s) + int(seg_offset) for s in todo]))
    routed = _with_route(src, num_segments, seg_offset).repartition(
        num_segments, "_route")
    toks = tokens_col("text")
    for f in analyzed_fields:
        pf = f.lower() + ":"
        toks = F.concat(toks, F.transform(
            tokens_col(f.lower()), lambda x: F.concat(F.lit(pf), x)))
    toks = F.concat(toks, F.array(F.lit(None).cast("string")))
    pairs = (routed.select("_route", "seg_id", F.col("doc_id"),
                           F.explode(toks).alias("term"))
             .groupBy("_route", "seg_id", "term", "doc_id")
             .agg(F.count("*").cast("long").alias("cnt")))
    return pairs.groupBy("_route")


def segment_frames_df(base: DataFrame, num_segments: int, positions: bool,
                      analyzed_fields: tuple[str, ...] = (),
                      seg_offset: int = 0,
                      todo: list[int] | None = None,
                      via_text: bool | None = None) -> DataFrame:
    """SEGMENT_SCHEMA DataFrame for ``base`` (doc_id, text[, fields]).
    Non-positional builds default to compact JVM-aggregated (term, doc,
    tf) pairs (_pair_stream — pairs ≪ text); positional builds default to
    text-shipping in-worker inversion (_text_segment_kernel — text ≪
    positional pairs). See the POSITIONAL_KERNEL note for the measured
    trade-off; ``via_text`` overrides either way. ``todo`` prunes to
    unfinished seg_ids (resume)."""
    if via_text is None:
        via_text = (positions and POSITIONAL_KERNEL == "text") or (
            not positions and NONPOS_KERNEL == "text")
    if not via_text and not positions and PAIR_STREAM == "textroute":
        return _textroute_pair_groupby(
            base, num_segments, tuple(analyzed_fields), seg_offset, todo,
        ).applyInPandas(_pairs_segment_frame, schema=SEGMENT_SCHEMA)
    if via_text:
        seg = ((F.col("doc_id") % num_segments).cast("int")
               + F.lit(int(seg_offset))).cast("int").alias("seg_id")
        src = base.select(seg, "*")
        if todo is not None:
            src = src.where(F.col("seg_id").isin(
                [int(s) + int(seg_offset) for s in todo]))
        return _routed_by_segment(src, num_segments, seg_offset).applyInPandas(
            _text_segment_kernel(tuple(analyzed_fields), positions=positions),
            schema=SEGMENT_SCHEMA)
    pairs = _pair_stream(base, num_segments, positions=positions,
                         analyzed_fields=tuple(analyzed_fields))
    if seg_offset:
        pairs = pairs.withColumn(
            "seg_id", (F.col("seg_id") + int(seg_offset)).cast("int"))
    if todo is not None:
        pairs = pairs.where(F.col("seg_id").isin(
            [int(s) + int(seg_offset) for s in todo]))
    return _routed_by_segment(pairs, num_segments, seg_offset).applyInPandas(
        _pairs_segment_frame, schema=SEGMENT_SCHEMA)


def _segment_rows(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Pure-Python SPIMI kernel (tokenizes in the worker): kept as the
    differential implementation for kernel-level tests; the production build
    path is _pair_stream + _pairs_segment_frame (JVM tokenization).
    A partition may carry multiple seg_ids (hash partitioning gives no 1:1
    guarantee), so the kernel groups by seg_id — correctness never depends
    on the physical partitioning."""
    frames = [p for p in pdfs if len(p)]
    if not frames:
        return
    part = pd.concat(frames, ignore_index=True)
    for seg_id_val, seg_part in part.groupby("seg_id", sort=True):
        t0 = time.monotonic()
        seg_id = int(seg_id_val)
        # sort docs once: positional index then equals docID rank, so the
        # np.unique pass below yields (term asc, docID asc) postings directly
        seg_part = seg_part.sort_values("doc_id")
        docs_sorted = seg_part["doc_id"].to_numpy(dtype=np.int64)
        # vectorized tokenize (same regex/lowering as tokenize_py — the
        # per-url token identity the oracle tests pin): C-path pandas ops,
        # no per-doc Python loop
        tok_lists = seg_part["text"].fillna("").str.lower().str.findall("[a-z0-9]+")
        dls_sorted = tok_lists.str.len().to_numpy(dtype=np.int64)
        n_seg_docs = len(docs_sorted)
        total = int(dls_sorted.sum())
        if total == 0:
            yield segment_frame(
                seg_id, docs_sorted, dls_sorted,
                pd.DataFrame({"term": [], "doc_id": [], "tf": []}),
                time.monotonic() - t0,
            )
            continue
        # count per doc with Counter (C fast path); Python touches only the
        # DISTINCT (term, doc) pairs — ≪ total tokens on real text
        terms_out: list[str] = []
        pos_out: list[int] = []
        tf_out: list[int] = []
        for pos, lst in enumerate(tok_lists):
            c = Counter(lst)
            terms_out.extend(c.keys())
            pos_out.extend([pos] * len(c))
            tf_out.extend(c.values())
        tf = pd.DataFrame({
            "term": pd.Series(terms_out, dtype="object"),
            "doc_id": docs_sorted[np.asarray(pos_out, dtype=np.int64)],
            "tf": np.asarray(tf_out, dtype=np.int64),
        }).sort_values(["term", "doc_id"], kind="stable")
        yield segment_frame(seg_id, docs_sorted, dls_sorted, tf,
                            time.monotonic() - t0)


@dataclass
class IndexPaths:
    root: str

    @property
    def segments(self) -> str: return os.path.join(self.root, "segments.parquet")
    @property
    def termstats(self) -> str: return os.path.join(self.root, "termstats.parquet")
    @property
    def stats(self) -> str: return os.path.join(self.root, "stats.json")
    @property
    def manifest(self) -> str: return os.path.join(self.root, "manifest.jsonl")


def load_stats(paths: IndexPaths) -> dict:
    if not os.path.exists(paths.stats):
        return {}
    with open(paths.stats) as fh:
        return json.load(fh)


def commit_stats(paths: IndexPaths, stats: dict) -> None:
    """Atomically replace stats.json — the index's commit point (≈ Lucene's
    segments_N file). Readers that loaded the previous commit keep a
    consistent view; a crash mid-write never exposes a torn file."""
    tmp = paths.stats + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(stats, fh)
    os.replace(tmp, paths.stats)


def read_live_segments(spark: SparkSession, paths: IndexPaths) -> DataFrame:
    """The segment table restricted to the current commit point's live
    seg_ids. ``live_segments`` is how LSM merges retire inputs without a
    delete-then-rename window: the new segment is written, the commit point
    flips atomically, and the dead directories are garbage afterwards —
    readers never observe duplicates or a half-deleted index. ``seg_id`` is
    the parquet partition column, so the IN filter is partition pruning
    (dead directories are never even listed into the scan)."""
    segs = spark.read.parquet(paths.segments)
    live = load_stats(paths).get("live_segments")
    if live is not None:
        segs = segs.where(F.col("seg_id").isin([int(s) for s in live]))
    return segs


def refresh_stats_and_termstats(spark: SparkSession, paths: IndexPaths,
                                num_segments: int | None = None,
                                segs: DataFrame | None = None,
                                live: list[int] | None = None,
                                positions: bool | None = None,
                                analyzed_fields: list[str] | None = None,
                                sidecar_rows: list | None = None,
                                ) -> None:
    """Recompute stats.json (from doclen sidecar rows) + termstats.parquet
    (vocabulary-sized agg over term rows) from the live segment table.
    ``live``/``positions``/``analyzed_fields`` default to the previous
    commit's values. ``sidecar_rows`` (collect_sidecar_rows of the SAME
    live set) replaces the two stats scan-jobs with driver-side sums."""
    prev = load_stats(paths)
    if live is None:
        live = prev.get("live_segments")
    if positions is None:
        positions = prev.get("positions", False)
    if analyzed_fields is None:
        analyzed_fields = prev.get("analyzed_fields")
    if segs is None:
        segs = spark.read.parquet(paths.segments)
        if live is not None:
            segs = segs.where(F.col("seg_id").isin([int(s) for s in live]))
    if sidecar_rows is not None:
        n_docs = sum(int(r["n_docs"]) for r in sidecar_rows
                     if r["term"] is None)
        sum_dl = sum(int(r["sum_dl"]) for r in sidecar_rows
                     if r["term"] is None)
    else:
        srow = segs.where(F.col("term").isNull()).agg(
            F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s")
        ).collect()[0]
        n_docs = int(srow["n"] or 0)
        sum_dl = int(srow["s"] or 0)
    avgdl = (float(sum_dl) / n_docs) if n_docs else 0.0
    # sum_dl is the exact integer total behind avgdl — stored so appends can
    # update the commit point incrementally (old + new-batch totals) without
    # an O(index) rescan; readers only ever use n_docs/avgdl
    stats = {"n_docs": n_docs, "avgdl": avgdl, "sum_dl": sum_dl,
             "k1": K1, "b": B, "block": BLOCK,
             "positions": bool(positions)}
    if analyzed_fields:
        stats["analyzed_fields"] = [f.lower() for f in analyzed_fields]
        # per-field docCount/avgdl from the "field:" sidecar rows' totals
        # (Lucene per-field norms: idf uses the field's docCount, the length
        # norm the field's own avgdl) — a len(fields)×n_segments-row agg
        if sidecar_rows is not None:
            acc: dict[str, list[int]] = {}
            for r in sidecar_rows:
                if r["term"] is not None:
                    a = acc.setdefault(r["term"], [0, 0])
                    a[0] += int(r["n_docs"])
                    a[1] += int(r["sum_dl"])
            frows = [{"term": t, "n": n, "s": s} for t, (n, s) in acc.items()]
        else:
            frows = (
                segs.where(F.col("term").isNotNull()
                           & F.col("term").endswith(":"))
                .groupBy("term")
                .agg(F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s"))
                .collect()
            )
        stats["field_stats"] = {
            r["term"][:-1]: {
                "n_docs": int(r["n"] or 0),
                "avgdl": (float(r["s"]) / int(r["n"])) if r["n"] else 0.0,
                "sum_dl": int(r["s"] or 0),
            }
            for r in frows
        }
    if live is not None:
        stats["live_segments"] = sorted(int(s) for s in live)
    if num_segments is not None:
        stats["num_segments"] = num_segments
    elif "num_segments" in prev:
        stats["num_segments"] = prev["num_segments"]
    # "field:" sidecar rows are norms, not dictionary entries — keep them
    # out of termstats so pattern expansion / df lookups never see them
    ts = (segs.where(F.col("term").isNotNull()
                     & ~F.col("term").endswith(":"))
          .groupBy("term").agg(F.sum("df_local").cast("long").alias("df")))
    ts.write.mode("overwrite").parquet(paths.termstats)
    commit_stats(paths, stats)


def collect_sidecar_rows(segs: DataFrame) -> list:
    """ONE job collecting every per-segment bookkeeping row (the doclen
    sidecar: term NULL; the per-field norm sidecars: term "field:"). The
    manifest, stats.json totals and per-field stats are all derived from
    these num_segments × (1 + n_fields) rows driver-side, instead of one
    scan-job each over the (cached, blob-carrying) segment frame — 3 small
    post-kernel jobs → 1 on the build critical path (guide §5: the driver
    should schedule almost nothing per build beyond the kernel itself)."""
    return (
        segs.where(F.col("term").isNull() | F.col("term").endswith(":"))
        .select("seg_id", "term", "n_docs", "sum_dl", "n_postings",
                "df_local", "build_secs")
        .collect()
    )


def write_manifest(spark: SparkSession, paths: IndexPaths, seg_ids: list[int],
                   lineage: dict, wall: float,
                   segs: DataFrame | None = None,
                   sidecar_rows: list | None = None) -> None:
    if sidecar_rows is not None:
        ids = {int(s) for s in seg_ids}
        seg_stats = [
            {"seg_id": r["seg_id"], "postings": r["n_postings"],
             "terms": r["df_local"], "build_secs": r["build_secs"]}
            for r in sidecar_rows
            if r["term"] is None and int(r["seg_id"]) in ids
        ]
    else:
        if segs is None:
            segs = spark.read.parquet(paths.segments)
        # sidecar rows carry the per-segment totals (emitted by the kernel):
        # 1 row per segment, columnar-pruned scan — no full-table aggregation
        seg_stats = (
            segs
            .where(F.col("seg_id").isin(seg_ids) & F.col("term").isNull())
            .select(
                "seg_id",
                F.col("n_postings").alias("postings"),
                F.col("df_local").alias("terms"),
                "build_secs",
            )
            .collect()
        )
    with open(paths.manifest, "a") as fh:
        for r in seg_stats:
            fh.write(json.dumps({
                "seg_id": int(r["seg_id"]),
                "postings": int(r["postings"]),
                "terms": int(r["terms"]),
                "build_secs": float(r["build_secs"]),
                "postings_per_sec": float(r["postings"]) / max(r["build_secs"], 1e-9),
                "lineage": lineage,
                "wall_secs_batch": wall,
            }) + "\n")


#: Append-batch termstats merges fold driver-side (pyarrow read-merge-
#: write, zero distributed jobs) when the batch dictionary and the old
#: termstats are provably this small; bigger either way → distributed
#: union-aggregate. ~200k rows ≈ a few MB of (term, df) pairs.
DRIVER_MERGE_MAX_TERMS = 200_000
DRIVER_MERGE_MAX_BYTES = 32 * 1024 * 1024


def incremental_append_refresh(spark: SparkSession, paths: IndexPaths,
                               new_ids: list[int],
                               sidecar_rows: list | None = None) -> bool:
    """Append-only commit-point refresh: fold ONE new batch's segment
    totals and term dfs into the previous stats.json / termstats.parquet
    instead of re-aggregating every live segment — O(batch + vocabulary)
    per append, not O(index). The previous full refresh re-scanned ALL live
    segments' term rows per append batch (the round-7 "Not yet optimized"
    item); with the exact integer totals now stored in stats.json
    ("sum_dl", per-field too), the fold is value-identical to the full
    recompute (integer sums are associative; per-term df sums over
    old-termstats ∪ new-batch rows equal the all-segments sums). The new
    termstats is written to a sibling tmp dir and swapped in with two
    renames, so a crash never leaves a truncated table — stats.json (the
    commit point) flips atomically afterwards, as always.

    Returns False (no writes) when the previous commit predates the stored
    totals or termstats is missing — callers fall back to the full
    refresh."""
    prev = load_stats(paths)
    if "sum_dl" not in prev or not os.path.isdir(paths.termstats):
        return False
    fs_prev = prev.get("field_stats") or {}
    if any("sum_dl" not in v for v in fs_prev.values()):
        return False
    new_segs = spark.read.parquet(paths.segments).where(
        F.col("seg_id").isin([int(s) for s in new_ids]))
    if sidecar_rows is None:
        sidecar_rows = collect_sidecar_rows(new_segs)
    n_new = sum(int(r["n_docs"]) for r in sidecar_rows if r["term"] is None)
    s_new = sum(int(r["sum_dl"]) for r in sidecar_rows if r["term"] is None)
    stats = dict(prev)
    stats["n_docs"] = int(prev["n_docs"]) + n_new
    stats["sum_dl"] = int(prev["sum_dl"]) + s_new
    stats["avgdl"] = (float(stats["sum_dl"]) / stats["n_docs"]
                      if stats["n_docs"] else 0.0)
    acc: dict[str, list[int]] = {}
    for r in sidecar_rows:
        if r["term"] is not None:
            a = acc.setdefault(r["term"][:-1], [0, 0])
            a[0] += int(r["n_docs"])
            a[1] += int(r["sum_dl"])
    if fs_prev or acc:
        fs: dict[str, dict] = {}
        for f in set(fs_prev) | set(acc):
            v = fs_prev.get(f) or {"n_docs": 0, "sum_dl": 0}
            n = int(v["n_docs"]) + acc.get(f, (0, 0))[0]
            s = int(v["sum_dl"]) + acc.get(f, (0, 0))[1]
            fs[f] = {"n_docs": n, "avgdl": (float(s) / n) if n else 0.0,
                     "sum_dl": s}
        stats["field_stats"] = fs
    live = prev.get("live_segments")
    if live is not None:
        stats["live_segments"] = sorted(
            {int(s) for s in live} | {int(s) for s in new_ids})
    # termstats merge. The batch's dictionary row count is known from the
    # already-collected sidecars (Σ df_local over the new segments' doclen
    # rows), so a SMALL batch against a SMALL dictionary folds entirely
    # driver-side: one pruned collect of the new (term, df) rows + a
    # pyarrow read-merge-write — no distributed aggregation job, no
    # Spark parquet-write job, the right cost for streaming many tiny
    # batches (a Lucene-style in-process small-segment merge). A big batch
    # or a big dictionary keeps the distributed union-aggregate.
    n_term_rows = sum(int(r["df_local"]) for r in sidecar_rows
                     if r["term"] is None)
    ts_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(paths.termstats) for f in fs)
    new_ts = (
        new_segs.where(F.col("term").isNotNull()
                       & ~F.col("term").endswith(":"))
        .select("term", F.col("df_local").cast("long").alias("df")))
    tmp = paths.termstats + ".tmp"
    old = paths.termstats + ".old"
    shutil.rmtree(tmp, ignore_errors=True)
    if (n_term_rows <= DRIVER_MERGE_MAX_TERMS
            and ts_bytes <= DRIVER_MERGE_MAX_BYTES):
        import pyarrow as pa
        import pyarrow.parquet as pq

        adds: dict[str, int] = {}
        for r in new_ts.collect():
            adds[r["term"]] = adds.get(r["term"], 0) + int(r["df"])
        files = sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(paths.termstats)
            for f in fs if f.endswith(".parquet"))
        olddf = (pd.concat([pq.read_table(f).to_pandas() for f in files],
                           ignore_index=True)
                 if files else pd.DataFrame({"term": [], "df": []}))
        dfs = dict(zip(olddf["term"], olddf["df"].astype("int64")))
        for t, d in adds.items():
            dfs[t] = int(dfs.get(t, 0)) + d
        out = pd.DataFrame({"term": list(dfs), "df": list(dfs.values())})
        out["df"] = out["df"].astype("int64")
        os.makedirs(tmp)
        pq.write_table(
            pa.Table.from_pandas(out, preserve_index=False,
                                 schema=pa.schema([("term", pa.string()),
                                                   ("df", pa.int64())])),
            os.path.join(tmp, "part-00000.parquet"))
    else:
        merged = (spark.read.parquet(paths.termstats).unionByName(new_ts)
                  .groupBy("term").agg(F.sum("df").cast("long").alias("df")))
        merged.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(paths.termstats, old)
    os.rename(tmp, paths.termstats)
    shutil.rmtree(old, ignore_errors=True)
    commit_stats(paths, stats)
    return True


def auto_num_segments(spark: SparkSession, n_docs: int,
                      docs_per_segment: int = 16_384,
                      cap: int = 4096) -> int:
    """SPIMI memory-budget segment count.

    One segment is one applyInPandas task that materializes its full
    (term, doc, tf[, poss]) frame: web-scale docs average a few hundred
    distinct (term, doc) pairs at ~40 B each, so ``docs_per_segment``=16k
    keeps a task's frame in the low hundreds of MB — comfortably inside an
    executor core's share even with the pandas/Arrow copy. A corpus below
    one wave's budget gets a NEED-SCALED count, not one segment per core
    (round-7 revision of the round-6 cores-floor): segments of ~4k docs
    (budget/4) keep per-task kernel work well above per-task overhead
    while spinning only as many Python workers as the data justifies —
    interleaved fresh-JVM A/Bs (bench_evidence/segfloor_r7/) measured the
    5k-doc build 4.4-5.1 s at 2-5 segments vs 5.2-6.0 s at the 32-segment
    cores floor, and the 50k-doc build 4.4-4.5 s at 13 segments vs
    5.3-5.5 s at 32, with every query shape 10-30% faster on the smaller
    index (fewer per-segment files; a query stage runs min(segments, cores)
    tasks either way — segment_map — so the old many-segments query
    argument is gone).
    The floor stays ≥ the SPIMI need (smaller-than-budget segments only —
    the safe direction) and ≤ cores, so corpora past one wave are
    untouched. The cap bounds the partition-directory count for one
    index — a corpus that would exceed it (≫10^8 docs) should shard into
    multiple indexes (by day/tenant), which the day-partitioned layout
    already does.
    """
    cores = spark.sparkContext.defaultParallelism
    need = math.ceil(max(1, n_docs) / docs_per_segment)
    if need <= cores:
        return min(cores, max(need, math.ceil(
            max(1, n_docs) / max(1, docs_per_segment // 4))))
    # Need-based count, NOT rounded down to whole waves (round-7 revision
    # of the round-6 wave alignment): the two-armed interleaved probe at
    # 2.4M docs (bench_evidence/wave_align_r7/) measured ceil-need 147
    # segments ~10% FASTER to build than wave-aligned 128 in every round —
    # smaller segments' per-task cost is sub-linear enough that a ragged
    # extra wave of cheaper tasks beats exact waves of pricier ones. The
    # round-6 query-side argument for alignment (per-query cost linear in
    # segment count) is gone: a query stage runs min(segments, cores)
    # tasks regardless of segment count (segment_map).
    return min(cap, need)


def build_segments(
    spark: SparkSession,
    df: DataFrame,
    doc_col: str,
    text_col: str,
    out_dir: str,
    num_segments: int | None = 32,
    resume: bool = True,
    positions: bool = False,
    analyzed_fields: list[str] | None = None,
    via_text: bool | None = None,
) -> IndexPaths:
    """Single-pass SPIMI index build with checkpointed, resumable segments.

    Lineage + postings/sec per segment land in ``manifest.jsonl``
    (north_rule: per-partition checkpoints, lineage, metrics).
    ``positions=True`` stores per-posting token positions (pos_blob) so
    phrase queries run off the index — see ``_pair_stream`` for the cost.
    ``analyzed_fields`` indexes extra text columns as ``field:token``
    per-field dictionary terms (ES analyzes every text field; `field:value`
    then resolves index-backed — see queryparser.FieldText).
    ``num_segments=None`` derives the count from the corpus size and core
    count (``auto_num_segments`` — the SPIMI memory budget)."""
    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    if analyzed_fields is None:
        # warm slot / resume: inherit the commit point's field list so a
        # resumed build never silently drops per-field terms
        analyzed_fields = load_stats(paths).get("analyzed_fields") or []
    analyzed_fields = [f.lower() for f in analyzed_fields]

    base = df.select(
        F.col(doc_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
        *[F.col(f).cast("string").alias(f.lower()) for f in analyzed_fields],
    )
    if num_segments is None:
        num_segments = auto_num_segments(spark, base.count())

    done: set[int] = set()
    if resume and os.path.exists(paths.manifest):
        with open(paths.manifest) as fh:
            done = {json.loads(line)["seg_id"] for line in fh if line.strip()}

    todo = [s for s in range(num_segments) if s not in done]
    live = sorted(set(range(num_segments)) | done)
    if todo:
        t0 = time.monotonic()
        seg_df = segment_frames_df(
            base, num_segments, positions,
            analyzed_fields=tuple(analyzed_fields), todo=todo,
            via_text=via_text)
        mode = "append" if done else "overwrite"
        # persist the segment frame so manifest + stats + termstats reuse the
        # already-computed blobs in memory instead of re-listing and
        # re-reading the (num_segments-dir) parquet table — the read-back was
        # a measurable non-scaling tail on the build critical path
        seg_df = seg_df.persist()
        seg_df.write.mode(mode).partitionBy("seg_id").parquet(paths.segments)
        wall = time.monotonic() - t0
        # one bookkeeping job feeds manifest + stats totals + field stats
        # (fresh build: seg_df IS the live set; on resume the totals must
        # also cover previously-completed segments, so only the manifest
        # can use it there)
        sidecar = collect_sidecar_rows(seg_df)
        write_manifest(
            spark, paths, todo,
            {"source": df.schema.simpleString(), "doc_col": doc_col,
             "text_col": text_col, "num_segments": num_segments,
             "positions": positions, "analyzed_fields": analyzed_fields},
            wall, segs=seg_df, sidecar_rows=sidecar,
        )
        if done:
            # resume: stats must also cover previously-completed segments
            refresh_stats_and_termstats(spark, paths, num_segments,
                                        live=live, positions=positions,
                                        analyzed_fields=analyzed_fields)
        else:
            refresh_stats_and_termstats(spark, paths, num_segments,
                                        segs=seg_df, live=live,
                                        positions=positions,
                                        analyzed_fields=analyzed_fields,
                                        sidecar_rows=sidecar)
        seg_df.unpersist()
    elif not (os.path.exists(paths.stats)
              and os.path.isdir(paths.termstats)):
        # nothing to build AND the derived stats are missing (e.g. a crash
        # landed between segment write and refresh) — recompute them; on a
        # fully-built index this is a no-op instead of a full re-read +
        # termstats rewrite per call
        refresh_stats_and_termstats(spark, paths, num_segments,
                                    live=live, positions=positions,
                                    analyzed_fields=analyzed_fields)
    return paths
