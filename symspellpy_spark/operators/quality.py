"""Document-quality signals: the Gopher/MassiveText repetition family.

The published filter set (Rae et al. 2021, "Scaling Language Models:
Methods, Analysis & Insights from Training Gopher", Table A1) scores
each document by within-document n-gram repetition along two axes,
both defined over CHARACTER fractions (as in the public DataTrove /
RefinedWeb reimplementations):

- the fraction of characters contained within the single most frequent
  {2,3,4}-gram (templated/boilerplate text repeats one phrase over and
  over): ``count(top gram) * chars(top gram) / doc chars``;
- the fraction of characters contained within duplicate {5..10}-grams
  (degenerate text loops long passages): characters covered by REPEAT
  occurrences of a within-doc-duplicated gram — every occurrence after
  the first, position-union (overlaps counted once) — over doc chars.
  Excluding the first occurrence matches the published calibration
  (DataTrove's greedy ``find_all_duplicate`` counts only repeats; in
  the non-overlapping case the two measures coincide), while the union
  keeps the measure order-free and exactly replayable in SQL.

Character accounting here is whitespace-free on both sides of every
division (token characters only; separators contribute to neither
numerator nor denominator), which keeps each fraction an exact-integer
ratio both engines compute identically — a deterministic variant of the
published raw-text measure. ``gopher_ngram_stats`` emits the character
fractions alongside the gram-count diagnostics (``top_frac`` /
``dup_frac``), in long form — one row per (document, n) — so a filter
applies its per-n thresholds with a single pivot-free ``where``. All
counts are exact integers and each fraction is ONE IEEE division of two
exact integers, so a DuckDB replay is bit-identical (the pattern the
single-n ``gopher_repetition`` contract entry established).

Shape (100 TB story): repetition is strictly PER-DOCUMENT, so the
default execution is a doc-local Arrow kernel (``mapInPandas``) — one
narrow pass over the corpus, zero exchanges, cost linear in
``|ns| * doc_len`` per document and embarrassingly parallel across
documents; a 1000-executor cluster sees no shuffle at all. The
round-4 relational formulation (explode every gram occurrence STRING
across all 9 ``n`` values, hash-aggregate, join coverage back) is
retained because its Catalyst expressions evaluate ANY Java-regex
``token_re``; the kernel tokenizes with Python ``re``, so the operators
run the kernel exactly when ``token_re`` is the default ``[a-z0-9]+``
— a pattern with identical semantics in Java, Python and DuckDB — and
the relational path for any other pattern. Both paths produce
bit-identical rows (``tests/test_quality.py::test_kernel_matches_relational``):
counts are exact integers, each fraction one IEEE division, and the
top-gram tie-break (count, then char length, then codepoint order —
Python str ``<`` equals Spark's UTF8String binary order) is replicated
exactly. On the composed corpus job's exact gopher stage at
``local[32]`` the kernel measured 1.0 s against the relational path's
24.5 s, best-of, with identical survivor counts
(``BENCH_AB_GOPHER_r05.json``).
"""

from __future__ import annotations

import re as _re
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

__all__ = ["gopher_ngram_stats", "gopher_quality_filter", "GOPHER_THRESHOLDS"]

_DEFAULT_TOKEN_RE = "[a-z0-9]+"

# Published MassiveText repetition thresholds (Rae et al. 2021 Table A1):
# a document is dropped when the CHARACTER fraction EXCEEDS the threshold.
GOPHER_THRESHOLDS: dict[str, dict[int, float]] = {
    "top_char_frac": {2: 0.20, 3: 0.18, 4: 0.16},
    "dup_char_frac": {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10},
}


_STATS_FIELDS = [
    ("n", T.IntegerType()),
    ("n_grams", T.LongType()),
    ("n_distinct", T.LongType()),
    ("top_count", T.LongType()),
    ("top_frac", T.DoubleType()),
    ("dup_frac", T.DoubleType()),
    ("doc_chars", T.LongType()),
    ("top_char_frac", T.DoubleType()),
    ("dup_char_frac", T.DoubleType()),
]


def _doc_ngram_rows(tokens: list, ns: Sequence[int]) -> list:
    """Per-document repetition measures: one ``(n, n_grams, n_distinct,
    top_count, top_clen, dup_chars, doc_chars)`` integer tuple per ``n``
    the document can form at least one gram of.

    Grams are keyed by tuples of interned token ids (exact — no hash
    collisions can inflate ``n_distinct``); the top-gram tie-break
    replicates the relational ``max(struct(count, char_len, gram))``
    exactly (Python codepoint ``<`` on the joined gram equals Spark's
    UTF8String binary order); duplicate coverage is the position union
    of repeat occurrences (every occurrence after the first), summed
    over token char lengths.
    """
    n_tok = len(tokens)
    if n_tok == 0:
        return []
    import numpy as np

    lens = np.fromiter((len(t) for t in tokens), np.int64, n_tok)
    doc_chars = int(lens.sum())
    pref = np.zeros(n_tok + 1, np.int64)
    np.cumsum(lens, out=pref[1:])
    # interned token ids via np.unique (sorted rather than insertion
    # order — ids are only ever compared for equality); grams are then
    # compacted incrementally: the k-gram at i is the pair
    # (code of (k-1)-gram at i, token id at i+k-1), encoded injectively
    # as code*(n_tok+1)+tid (both < n_tok+1) and re-compacted with
    # np.unique — exact distinct counting, no hashing, no per-position
    # Python loop (measured 2.6x over the dict-of-tuples formulation)
    _, tid = np.unique(np.array(tokens, dtype=object), return_inverse=True)
    tid = tid.astype(np.int64)
    max_n = max(ns)
    stats: dict = {}
    codes = tid
    ks = [1] if 1 in ns else []
    ks += list(range(2, max_n + 1))
    for k in ks:
        if k == 1:
            inv = tid
            first_idx = np.unique(tid, return_index=True)[1]
            m = n_tok
        else:
            m = n_tok - k + 1
            if m < 1:
                break
            raw = codes[:m] * np.int64(n_tok + 1) + tid[k - 1 :]
            _, first_idx, inv = np.unique(
                raw, return_index=True, return_inverse=True
            )
            codes = inv
        if k in ns:
            counts = np.bincount(inv)
            n_distinct = counts.size
            top_c = int(counts.max())
            # only the maximal char length among top-count grams is ever
            # emitted, so the lexicographic leg of the relational
            # tie-break (which picks WHICH gram, not its length) needs no
            # string comparisons here
            top_first = first_idx[counts == top_c]
            best_clen = int((pref[top_first + k] - pref[top_first]).max())
            dup_chars = 0
            if n_distinct < m:
                # positions covered by repeat occurrences (first
                # occurrence per gram excluded), as a position union via
                # a +1/-1 boundary array
                rep = np.ones(m, dtype=bool)
                rep[first_idx] = False
                rp = np.flatnonzero(rep)
                cov = np.bincount(rp, minlength=n_tok + k) - np.bincount(
                    rp + k, minlength=n_tok + k
                )
                covered = np.cumsum(cov[:n_tok]) > 0
                dup_chars = int(lens[covered].sum())
            stats[k] = (
                k, m, n_distinct, top_c, best_clen, dup_chars, doc_chars
            )
    return [stats[n] for n in ns if n in stats]


def _kernel_frames(pdf: pd.DataFrame, ns: Sequence[int], rx) -> pd.DataFrame:
    """One Arrow batch -> long-form stats rows (columns of _STATS_FIELDS
    plus the leading passthrough id)."""
    out: dict = {"id": []}
    cols = [f for f, _ in _STATS_FIELDS]
    for c in cols:
        out[c] = []
    for did, txt in zip(pdf["__id"], pdf["__text"]):
        tokens = rx.findall(txt) if isinstance(txt, str) else []
        for n, m, nd, tc, tclen, dch, doc_chars in _doc_ngram_rows(
            tokens, ns
        ):
            out["id"].append(did)
            out["n"].append(n)
            out["n_grams"].append(m)
            out["n_distinct"].append(nd)
            out["top_count"].append(tc)
            out["top_frac"].append(tc / m)
            out["dup_frac"].append((m - nd) / m)
            out["doc_chars"].append(doc_chars)
            out["top_char_frac"].append(tc * tclen / doc_chars)
            out["dup_char_frac"].append(dch / doc_chars)
    return pd.DataFrame(out)


def gopher_ngram_stats(
    docs: DataFrame,
    ns: Sequence[int] = (2, 3, 4, 5, 6, 7, 8, 9, 10),
    token_re: str = _DEFAULT_TOKEN_RE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (id, n, n_grams, n_distinct, top_count, top_frac, dup_frac,
    doc_chars, top_char_frac, dup_char_frac): within-document n-gram
    repetition statistics for every ``n``.

    Character signals (the published Gopher measures; whitespace-free):

    - ``top_char_frac = top_count * chars(top gram) / doc_chars`` where
      the top gram is the most frequent by count (ties broken
      deterministically by gram char length then lexicographic order,
      identically in the SQL oracle);
    - ``dup_char_frac = covered_chars / doc_chars`` where
      ``covered_chars`` sums the characters of token positions covered
      by a REPEAT occurrence (any occurrence after the first, by start
      position) of a within-doc-duplicated gram, as a position union —
      overlapping repeats never double-count, so the fraction is always
      in [0, 1], and the first occurrence contributes nothing, matching
      the published implementations' repeat-only accounting.

    Gram-count diagnostics (retained): ``top_frac = top_count /
    n_grams``; ``dup_frac = (n_grams - n_distinct) / n_grams``.

    A (doc, n) row exists only when the document has at least ``n``
    tokens (``n_grams >= 1``), so no fraction ever divides by zero
    (``doc_chars >= 1`` whenever a token exists).
    """
    if not ns or any(n < 1 for n in ns):
        raise ValueError(f"ns must be non-empty positive ints, got {ns!r}")
    if token_re != _DEFAULT_TOKEN_RE:
        return _ngram_stats_relational(docs, ns, token_re, id_col, text_col)
    ns_t = tuple(int(n) for n in ns)
    rx = _re.compile(token_re)
    schema = T.StructType(
        [T.StructField("id", docs.schema[id_col].dataType)]
        + [T.StructField(f, t) for f, t in _STATS_FIELDS]
    )
    narrow = docs.select(
        F.col(id_col).alias("__id"),
        F.lower(F.col(text_col)).alias("__text"),
    )

    def gen(batches):
        for pdf in batches:
            frame = _kernel_frames(pdf, ns_t, rx)
            if len(frame):
                yield frame

    return narrow.mapInPandas(gen, schema)


def _ngram_stats_relational(
    docs: DataFrame,
    ns: Sequence[int],
    token_re: str,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """``gopher_ngram_stats`` as Catalyst expressions: evaluates any
    Java-regex ``token_re``, at the cost of exploding and shuffling one
    row per gram occurrence."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(token_re), 0
        ).alias("ts"),
    ).select(
        "id",
        "ts",
        F.length(F.array_join("ts", "")).cast("long").alias("doc_chars"),
    )
    fan = toks.select(
        "id",
        "ts",
        "doc_chars",
        F.explode(F.array(*[F.lit(int(n)) for n in ns])).alias("n"),
    ).where(F.size("ts") >= F.col("n"))
    # one row per gram OCCURRENCE, with its start position i (posexplode
    # index == i because the transform enumerates starts in order)
    occ = fan.select(
        "id",
        "n",
        "doc_chars",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("ts") - F.col("n")),
                lambda i: F.concat_ws(
                    " ", F.slice("ts", i + 1, F.col("n"))
                ),
            )
        ).alias("i", "g"),
    )
    cnt = occ.groupBy("id", "n", "doc_chars", "g").agg(
        F.count(F.lit(1)).alias("c"),
        F.min("i").alias("first_i"),
    )
    # chars of the gram's tokens = length(g) minus its n-1 separators
    clen = (F.length("g") - (F.col("n") - F.lit(1))).cast("long")
    stats = cnt.groupBy("id", "n", "doc_chars").agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_count"),
        F.max(
            F.struct(
                F.col("c").alias("c"), clen.alias("clen"), F.col("g").alias("g")
            )
        ).alias("top"),
    )
    # duplicate-coverage: positions covered by REPEAT occurrences of
    # duplicated grams (first occurrence excluded), as a position union;
    # the join key includes the doc id, so skew is bounded by doc length
    dup_occ = (
        occ.join(
            cnt.where(F.col("c") >= 2).select("id", "n", "g", "first_i"),
            ["id", "n", "g"],
        )
        .where(F.col("i") != F.col("first_i"))
        .select("id", "n", "i")
    )
    tokpos = toks.select(
        "id", F.posexplode("ts").alias("j", "t")
    ).select("id", "j", F.length("t").cast("long").alias("tl"))
    covered = (
        dup_occ.select(
            "id",
            "n",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + F.col("n") - 1)
            ).alias("j"),
        )
        .distinct()
        .join(tokpos, ["id", "j"])
        .groupBy("id", "n")
        .agg(F.sum("tl").alias("dup_chars"))
    )
    out = stats.join(covered, ["id", "n"], "left")
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return out.select(
        "id",
        F.col("n").cast("int").alias("n"),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.col("top_count").cast("long").alias("top_count"),
        (dbl("top_count") / dbl("n_grams")).alias("top_frac"),
        (
            (F.col("n_grams") - F.col("n_distinct")).cast("double")
            / dbl("n_grams")
        ).alias("dup_frac"),
        F.col("doc_chars"),
        (
            (F.col("top.c") * F.col("top.clen")).cast("double")
            / dbl("doc_chars")
        ).alias("top_char_frac"),
        (
            F.coalesce(F.col("dup_chars"), F.lit(0)).cast("double")
            / dbl("doc_chars")
        ).alias("dup_char_frac"),
    )


def gopher_quality_filter(
    docs: DataFrame,
    thresholds: dict[str, dict[int, float]] | None = None,
    token_re: str = _DEFAULT_TOKEN_RE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """-> (id, keep): the repetition-filter verdict per document.

    A document is kept iff NO configured signal exceeds its threshold:
    ``top_char_frac(n) <= thresholds['top_char_frac'][n]`` for every
    top-n and ``dup_char_frac(n) <= thresholds['dup_char_frac'][n]``
    for every dup-n (defaults: the published MassiveText values,
    strict-greater drop, applied to the character fractions the paper
    defines — see the module docstring for the whitespace-free
    accounting). Documents too short to form any configured n-gram have
    nothing to repeat and are kept. Default (kernel) execution folds
    the verdict into the stats' doc-local Arrow pass — one narrow scan,
    zero exchanges, one output row per document; the relational path
    reduces the long-form stats with one aggregation.

    Note: the published thresholds presume MassiveText's companion
    minimum-length gate (~50 words) runs first — on very short
    documents a SINGLE long {2,3,4}-gram can exceed a top-n character
    bar (ties at count 1 resolve to the longest gram here; DataTrove's
    insertion-order tie is equally arbitrary on such docs). Compose
    with a length filter, as the corpus job's boilerplate stage
    effectively does.
    """
    th = thresholds or GOPHER_THRESHOLDS
    if token_re != _DEFAULT_TOKEN_RE:
        return _quality_filter_relational(docs, th, token_re, id_col, text_col)
    ns, top_map, dup_map = _threshold_maps(th)
    # doc-local verdict: the kernel already sees every (doc, n) row
    # contiguously, so the per-doc reduction folds into the same
    # narrow pass — zero exchanges, one output row per input row,
    # short/empty docs keep=True with no join-back needed
    ns_t = tuple(int(n) for n in ns)
    rx = _re.compile(token_re)
    schema = T.StructType(
        [
            T.StructField("id", docs.schema[id_col].dataType),
            T.StructField("keep", T.BooleanType()),
        ]
    )
    narrow = docs.select(
        F.col(id_col).alias("__id"),
        F.lower(F.col(text_col)).alias("__text"),
    )

    def gen(batches):
        for pdf in batches:
            out_id, out_keep = [], []
            for did, txt in zip(pdf["__id"], pdf["__text"]):
                tokens = rx.findall(txt) if isinstance(txt, str) else []
                keep = True
                for n, m, nd, tc, tclen, dch, doc_chars in (
                    _doc_ngram_rows(tokens, ns_t)
                ):
                    bar = top_map.get(n)
                    if bar is not None and tc * tclen / doc_chars > bar:
                        keep = False
                        break
                    bar = dup_map.get(n)
                    if bar is not None and dch / doc_chars > bar:
                        keep = False
                        break
                out_id.append(did)
                out_keep.append(keep)
            if out_id:
                yield pd.DataFrame({"id": out_id, "keep": out_keep})

    return narrow.mapInPandas(gen, schema)


def _threshold_maps(th: dict[str, dict[int, float]]):
    """-> (every configured n, top-n bars, dup-n bars)."""
    top_map = th.get("top_char_frac", {})
    dup_map = th.get("dup_char_frac", {})
    return sorted({*top_map, *dup_map}), top_map, dup_map


def _quality_filter_relational(
    docs: DataFrame,
    th: dict[str, dict[int, float]],
    token_re: str,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """``gopher_quality_filter`` over the relational stats: one
    aggregation reduces the long-form rows to a verdict per document."""
    ns, top_map, dup_map = _threshold_maps(th)
    stats = _ngram_stats_relational(docs, ns, token_re, id_col, text_col)
    viol = F.lit(False)
    for n, t in sorted(top_map.items()):
        viol = viol | ((F.col("n") == n) & (F.col("top_char_frac") > t))
    for n, t in sorted(dup_map.items()):
        viol = viol | ((F.col("n") == n) & (F.col("dup_char_frac") > t))
    verdict = stats.groupBy("id").agg(
        (~F.max(viol.cast("int")).cast("boolean")).alias("keep")
    )
    return docs.select(F.col(id_col).alias("id")).join(
        verdict, "id", "left"
    ).select("id", F.coalesce("keep", F.lit(True)).alias("keep"))
