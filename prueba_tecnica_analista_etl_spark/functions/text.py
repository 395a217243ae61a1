"""Text-analysis builders for training-data pipelines (north-star
extensions; SURVEY.md §2 D6/U4 + BASELINE.json): tokenization, token
stats, stopword scoring, language-ID heuristic, shingling, rolling-hash
fingerprints. All native higher-order-function expressions — no Python
in the row path, so the whole stage stays in whole-stage codegen and
scales linearly with executors.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Tiny built-in stopword lists for heuristic scoring. On natural text
# these discriminate well; the harness corpus shares one vocabulary
# across langs, so there the operator is proven by oracle-parity rather
# than by classification accuracy.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "les", "et", "des", "une"),
    "de": ("der", "die", "und", "das", "ein"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (U4: explode(split()) — no UDTF).

    Deliberately splits on a SINGLE literal space, not ``\\s+``: every
    DuckDB oracle tokenizes with ``string_split(text, ' ')`` and the
    two sides must agree token-for-token for the value hashes to
    match. On text with runs of whitespace both engines would emit the
    same empty-string tokens (consistent, if inflated — the harness
    corpus is single-spaced); switching to a regex split is a
    BOTH-SIDES change to every oracle, not a one-line fix here.
    """
    return F.split(F.lower(text), " ")


def n_tokens(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def stopword_hits(toks: Column, words: Sequence[str]) -> Column:
    """Occurrence count of any of ``words`` (list_filter keeps
    duplicates — occurrence, not membership, semantics)."""
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")


def lang_scores(toks: Column) -> dict[str, Column]:
    return {lang: stopword_hits(toks, ws) for lang, ws in STOPWORDS.items()}


def predict_lang(toks: Column) -> Column:
    """Greatest-hits language prediction with deterministic tie-break
    (alphabetical language order, 'unknown' when all scores zero)."""
    scores = lang_scores(toks)
    best = F.greatest(*scores.values())
    out = F.lit("unknown")
    for lang in sorted(STOPWORDS, reverse=True):
        out = F.when(
            (scores[lang] == best) & (best > 0), F.lit(lang)
        ).otherwise(out)
    return out


def shingles(toks: Column, k: int) -> Column:
    """All k-token shingles as strings; short docs yield one shingle of
    the whole text (sequence/transform/slice — pure codegen)."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k))
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: min-md5 over 5-token shingles — the
    winnowing/rolling-hash family's single-fingerprint special case.
    md5 hex is engine-portable (oracle-checkable), unlike xxhash64."""
    sh = shingles(tokens(text), 5)
    return F.array_min(F.transform(sh, F.md5))


def winnow_fingerprints(text: Column) -> Column:
    """Winnowing fingerprint set (Schleimer/Wilkerson/Aiken's MOSS
    algorithm): md5 each ordered k=3-token shingle, take the minimum of
    every w=4-wide sliding window of hashes, distinct the minima.
    Guarantees a shared fingerprint for any shared run of k+w-1 tokens
    — the standard plagiarism/near-dup fingerprinting scheme.

    Division of labor (same policy as simhash64): shingling + md5 stay
    JVM-side codegen; the O(n_shingles × w) sliding-min walk runs as
    an Arrow-batched numpy pass — hex md5 strings compare bytewise
    ('S32' dtype) exactly like their lexicographic string order, so
    ``sliding_window_view(...).min(axis=1)`` reproduces the SQL
    semantics bit-for-bit (oracle-checked). The all-expression
    alternative (per-window ``slice``+``array_min`` lambdas) allocates
    a subarray per window and pays interpreted-lambda cost per element
    — measured 19 s vs ~1 s at sf0.1. Zero shuffles either way: the
    walk never leaves its row.
    """
    hs = F.transform(shingles(tokens(text), 3), F.md5)
    # int64 view of the first 15 hex chars (60 bits), computed JVM-side:
    # hex-string lexicographic order == numeric order of the prefix, so
    # the numpy argmin below picks the same window minimum as SQL's
    # min(<md5 string>) except when two hashes share all 60 prefix bits
    # (P ≈ 2⁻⁶⁰ per window pair — ignored, and only the tie-pick could
    # differ, both being true window minima by prefix).
    hp = F.transform(
        hs, lambda h: F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    )
    win = 4

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _winnow(strs: pd.Series, prefs: pd.Series) -> pd.Series:
        from numpy.lib.stride_tricks import sliding_window_view

        out = []
        for arr, parr in zip(strs, prefs):
            if arr is None or parr is None:
                # NULL text → null shingle/prefix arrays: propagate
                # null instead of crashing the task in np.asarray
                out.append(None)
                continue
            a = np.asarray(arr, dtype=object)
            p = np.asarray(parr, dtype=np.int64)
            if len(p) <= win:
                idx = np.asarray([p.argmin()])
            else:
                rel = sliding_window_view(p, win).argmin(axis=1)
                idx = np.unique(rel + np.arange(len(rel)))
            out.append(sorted(set(a[idx])))
        return pd.Series(out)

    return _winnow(hs, hp)


def md5_60(s: Column) -> Column:
    """ENGINE-NEUTRAL 60-bit integer hash: the first 15 hex chars of
    md5 read as an int64 (the ``winnow_fingerprints`` prefix trick
    promoted to the shared primitive). Bit-identical to DuckDB's
    ``('0x' || substr(md5(s),1,15))::BIGINT`` — which is what lifts
    every consumer (minhash/simhash/ngram near-dup, capped-bucket
    chunk order) from rows-only to oracle-checkable. Always
    non-negative (< 2^60), so signed and unsigned shifts agree in
    both engines. md5 costs ~5× xxhash64 per call, but the hashing
    stage is a fraction of these queries' shuffle-dominated walls and
    stays JVM-side codegen."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def sql_md5_60(expr: str) -> str:
    """The DuckDB spelling of :func:`md5_60` for generated oracles."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def shingle_hashes(toks: Column, k: int) -> Column:
    """Sorted distinct :func:`md5_60` values of k-shingles — the
    minhash signature source. md5_60 rather than xxhash64 (engine-
    specific, forced rows-only checks on the whole minhash family) to
    the portable 60-bit md5 prefix, making the banded-LSH candidate
    sets and Jaccard re-ranks reproducible in ANSI SQL."""
    return F.array_sort(
        F.transform(F.array_distinct(shingles(toks, k)), md5_60)
    )


def simhash64(feature_hashes: Column) -> Column:
    """64-bit SimHash from an ``array<long>`` of feature hashes: per-bit
    majority vote across features, majority bits packed into a long.

    Split of labor: the feature hashing (:func:`md5_60` per shingle —
    engine-neutral, so the signature is SQL-reproducible) stays
    JVM-side where it's a native codegen'd expression; the 64-way bit
    census runs as an Arrow-batched Pandas UDF (one numpy pass per
    batch). The all-expression alternative (64 sum(when(bit)) aggs over
    an exploded feature table) costs a shuffle plus interpreted
    evaluation of 64 conditionals per feature — measured ~10× slower.
    The census is exact integer arithmetic, so it equals a per-bit
    SQL majority fold bit-for-bit (the q_simhash_dedup oracle).
    """

    def _core(hs: pd.Series) -> np.ndarray:
        # Whole-batch vectorization — no per-row Python loop. All rows'
        # feature arrays are concatenated once; the bit matrix comes
        # from np.unpackbits over the little-endian byte view (bit i of
        # each uint64 lands in column i on x86), and the per-row bit
        # census is one segment-sum (np.add.reduceat at row offsets,
        # accumulated in int64 so uint8 bits can't overflow).
        # Precondition: every feature array is non-empty and non-null
        # (shingles() guarantees >=1 shingle per non-null doc; nulls
        # are masked out by the wrapper below).
        n = len(hs)
        lens = np.fromiter((len(a) for a in hs), count=n, dtype=np.int64)
        if lens.min() <= 0:
            raise ValueError("simhash64 requires non-empty feature arrays")
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in hs]
        )
        bits = np.unpackbits(
            flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        )
        offsets = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        ones = np.add.reduceat(bits, offsets, axis=0, dtype=np.int64)
        maj = (2 * ones > lens[:, None]).astype(np.uint64)
        shifts = np.arange(64, dtype=np.uint64)
        return (maj << shifts).sum(axis=1, dtype=np.uint64).view(np.int64)

    @F.pandas_udf(T.LongType())
    def _sig(hs: pd.Series) -> pd.Series:
        n = len(hs)
        if n == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        mask = np.asarray([a is not None for a in hs])
        if mask.all():
            return pd.Series(_core(hs))
        # NULL feature arrays (NULL text upstream): compute the
        # non-null rows, propagate null for the rest
        out = np.empty(n, dtype=object)
        if mask.any():
            out[mask] = _core(hs[mask].reset_index(drop=True))
        out[~mask] = None
        return pd.Series(out)

    return _sig(feature_hashes)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array columns."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / F.size(F.array_union(a, b)).cast("double")


NON_ASCII_RE = "[^\\x00-\\x7F]"  # same byte-class in Java regex & RE2


def nfc_normalize(text: Column) -> Column:
    """Unicode NFC normalization (Arrow-batched — Spark has no native
    normalizer expression, so this is a justified Python path; the
    canonical-composition tables are frozen by Unicode's normalization
    stability policy, so CPython's unicodedata and DuckDB's
    utf8proc-backed ``nfc_normalize`` agree byte-for-byte — what makes
    q_unicode_normalize oracle-checkable).

    Scale note: do NOT apply this to every row. ASCII is NFC-invariant
    and real corpora are overwhelmingly ASCII, so consumers should
    route only ``rlike(NON_ASCII_RE)`` rows through this column (the
    split-union in q_unicode_normalize) — the Arrow transfer then
    carries the non-ASCII sliver instead of the whole corpus. A
    CASE WHEN around a Python UDF does NOT do that: Spark hoists the
    UDF into an ArrowEvalPython stage that evaluates every input row
    regardless of the branch.
    """
    import unicodedata

    @F.pandas_udf(T.StringType())
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: unicodedata.normalize("NFC", x)
            if x is not None
            else None
        )

    return _nfc(text)
