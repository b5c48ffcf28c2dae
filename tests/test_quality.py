"""Gopher/MassiveText repetition-family tests (operators/quality.py)."""

import re
from collections import Counter

import pytest

from symspellpy_spark.operators.quality import (
    _DEFAULT_TOKEN_RE,
    GOPHER_THRESHOLDS,
    _ngram_stats_relational,
    _quality_filter_relational,
    gopher_ngram_stats,
    gopher_quality_filter,
)

pytestmark = pytest.mark.usefixtures("spark")


_DOCS = [
    # heavy bigram repetition ("very very ... very") -> top_char_frac(2)
    (1, "this is " + " ".join(["very"] * 12) + " repetitive"),
    # a looped 6-token passage -> dup_char_frac(5..6) high
    (2, " ".join(["a b c d e f"] * 4)),
    # clean prose, long enough that no single {2,3,4}-gram's characters
    # reach the published top-n bars (the filter presumes Gopher's
    # companion >=50-word minimum-length gate): every signal low
    (
        3,
        "the quick brown fox jumps over the lazy dog while seventeen "
        "careful researchers measure deduplication quality across many "
        "sampled webpages and record every observation precisely then "
        "compare results against held out corpora noting subtle shifts "
        "in lexical diversity syntactic depth topical breadth source "
        "balance temporal drift annotation cost reviewer agreement and "
        "final benchmark deltas before publishing a short reproducible "
        "summary with open data code and careful caveats for future "
        "teams who may extend this audit to other crawl snapshots",
    ),
    # too short for any n >= 2
    (4, "one"),
    (5, ""),
]


def _py_stats(text, ns):
    """Independent brute-force of ALL stats columns, character signals
    included (top gram by (count, char len, gram); duplicate coverage as
    a position union over token chars of REPEAT occurrences only — the
    first occurrence of each duplicated gram contributes nothing,
    matching the published repeat-only calibration)."""
    ts = re.findall("[a-z0-9]+", text.lower())
    doc_chars = sum(len(t) for t in ts)
    out = {}
    for n in ns:
        if len(ts) < n:
            continue
        occs = [" ".join(ts[i : i + n]) for i in range(len(ts) - n + 1)]
        grams = Counter(occs)
        total = sum(grams.values())
        distinct = len(grams)
        top = max(grams.values())
        top_c, top_clen, _ = max(
            (c, len(g) - (n - 1), g) for g, c in grams.items()
        )
        first = {}
        for i, g in enumerate(occs):
            first.setdefault(g, i)
        covered = set()
        for i, g in enumerate(occs):
            if grams[g] >= 2 and i != first[g]:
                covered.update(range(i, i + n))
        dup_chars = sum(len(ts[j]) for j in covered)
        out[n] = (
            total,
            distinct,
            top,
            top / total,
            (total - distinct) / total,
            doc_chars,
            top_c * top_clen / doc_chars,
            dup_chars / doc_chars,
        )
    return out


def test_stats_match_bruteforce(spark):
    ns = (2, 3, 4, 5, 6, 7, 8, 9, 10)
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    got = {
        (r["id"], r["n"]): (
            r["n_grams"],
            r["n_distinct"],
            r["top_count"],
            r["top_frac"],
            r["dup_frac"],
            r["doc_chars"],
            r["top_char_frac"],
            r["dup_char_frac"],
        )
        for r in gopher_ngram_stats(df, ns=ns).collect()
    }
    want = {
        (i, n): v for i, t in _DOCS for n, v in _py_stats(t, ns).items()
    }
    assert got == want


def test_dup_char_frac_bounded(spark):
    """Overlap-heavy degenerate text: position-union coverage keeps the
    duplicate fraction in [0, 1] (occurrence-weighted char mass would
    exceed 1 here), and the excluded first occurrence shows up as the
    29/30 numerator — 30 identical tokens, the only uncovered position
    being the first token of the first 5-gram occurrence."""
    df = spark.createDataFrame(
        [(1, " ".join(["spam"] * 30))], "doc_id long, text string"
    )
    rows = gopher_ngram_stats(df, ns=(5,)).collect()
    assert len(rows) == 1
    assert rows[0]["dup_char_frac"] == 29 / 30


def test_filter_verdicts(spark):
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    keep = {r["id"]: r["keep"] for r in gopher_quality_filter(df).collect()}
    assert set(keep) == {1, 2, 3, 4, 5}
    # docs 1 and 2 violate their families; 3 is clean; 4/5 too short -> kept
    assert keep[1] is False
    assert keep[2] is False
    assert keep[3] is True
    assert keep[4] is True
    assert keep[5] is True
    # sanity: the violating signals really exceed the published bars
    s1 = _py_stats(_DOCS[0][1], (2,))[2]
    assert s1[6] > GOPHER_THRESHOLDS["top_char_frac"][2]
    s2 = _py_stats(_DOCS[1][1], (5,))[5]
    assert s2[7] > GOPHER_THRESHOLDS["dup_char_frac"][5]
    # ... and the clean doc clears every bar
    s3 = _py_stats(_DOCS[2][1], tuple(range(2, 11)))
    for n, t in GOPHER_THRESHOLDS["top_char_frac"].items():
        assert s3[n][6] <= t
    for n, t in GOPHER_THRESHOLDS["dup_char_frac"].items():
        assert s3[n][7] <= t


def _py_keep(text) -> bool:
    """Full brute-force replica of gopher_quality_filter's verdict: keep
    iff no published signal strictly exceeds its threshold."""
    for n, t in GOPHER_THRESHOLDS["top_char_frac"].items():
        s = _py_stats(text, (n,))
        if n in s and s[n][6] > t:
            return False
    for n, t in GOPHER_THRESHOLDS["dup_char_frac"].items():
        s = _py_stats(text, (n,))
        if n in s and s[n][7] > t:
            return False
    return True


def test_planted_corpus_recall(spark):
    """End-to-end keep/drop on a planted corpus (VERDICT_r04 Next #4,
    mirror of the pipeline recall suite's style): 30 clean prose docs +
    5 templated + 5 looped. The published thresholds must drop EXACTLY
    the planted set — nothing else — and every verdict must agree with
    the independent brute-force Python scorer."""
    vocab = [
        f"{w}{i}"
        for i, w in enumerate(
            ("lexic structur veloc apertur symmetr quantiz harmon spectr "
             "gradien topolog manifol crystal entrop lattice circuit "
             "polymer neutrin catalys enzyme isotop vector tensor matrix "
             "kernel photon plasma osmosis synaps cortex neuron axiom "
             "theorem corolla lemmat integer rationa composi sequenc "
             "derivat integra").split()
        )
    ]
    docs = []
    # 30 clean docs: 55 tokens each, all DISTINCT within a doc (stride
    # slicing over the vocab with a varying offset), so no gram repeats
    for d in range(30):
        toks = [vocab[(d * 7 + j * (d % 5 + 1)) % len(vocab)] + str(j)
                for j in range(55)]
        docs.append((d, " ".join(toks)))
    # 5 templated docs: one short phrase repeated -> top_char_frac(2..4)
    for d in range(30, 35):
        docs.append((d, " ".join([f"buy cheap pills now"] * (10 + d))))
    # 5 looped docs: a 12-token passage repeated -> dup_char_frac(5..10)
    for d in range(35, 40):
        passage = " ".join(vocab[d % 20 : d % 20 + 12])
        docs.append((d, " ".join([passage] * 6)))
    planted = set(range(30, 40))

    expect = {i: _py_keep(t) for i, t in docs}
    # the scorer itself must drop exactly the planted set (otherwise
    # the corpus doesn't exercise the thresholds it claims to)
    assert {i for i, k in expect.items() if not k} == planted

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["id"]: r["keep"] for r in gopher_quality_filter(df).collect()}
    assert got == expect


def test_stats_validation():
    with pytest.raises(ValueError):
        gopher_ngram_stats(None, ns=())
    with pytest.raises(ValueError):
        gopher_ngram_stats(None, ns=(0, 2))


def test_stats_plan_shape(spark):
    """Repetition is per-document. Relational path: every join in the
    plan is keyed by the doc id (occurrence-to-hot and coverage joins),
    so nothing can pair rows across documents — no cartesian/nested-loop
    anywhere. Kernel path (the default): ONE doc-local Arrow pass —
    zero exchanges, zero joins."""
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    plan = (
        _ngram_stats_relational(
            df, range(2, 11), _DEFAULT_TOKEN_RE, "doc_id", "text"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for fn in (gopher_ngram_stats, gopher_quality_filter):
        kplan = (
            fn(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "MapInPandas" in kplan, kplan
        assert "Exchange" not in kplan, kplan
        assert "Join" not in kplan, kplan


def _tie_and_edge_docs():
    """Docs engineered at the tie-break and coverage edges: equal-count
    gram ties resolved by char length then codepoint order, overlapping
    repeat runs, null/empty/single-token docs, digits, and a doc whose
    repeated gram spans the text end."""
    return [
        (1, "aa bb aa bb cc dd cc dd"),          # count ties everywhere
        (2, "x y x y zz w zz w"),                # tie broken by char len
        (3, "ab cd ab ce"),                      # tie broken by codepoint
        (4, " ".join(["q"] * 25)),               # maximal overlap run
        (5, None),                               # null text
        (6, ""),                                 # empty text
        (7, "solo"),                             # single token
        (8, "r2 d2 r2 d2 c3 p0 9 9 9"),          # digits + short grams
        (9, "Mixed CASE Mixed case MIXED case"),  # lowercasing parity
        (10, " ".join(f"t{i % 13}" for i in range(160))),  # long cycle
    ]


def test_kernel_matches_relational(spark):
    """The Arrow kernel and the relational formulation are the SAME
    operator: bit-identical long-form rows (every count, every IEEE
    fraction, the (count, char-len, codepoint) top tie-break) on a
    corpus engineered around the tie/coverage/degenerate edges, and
    identical filter verdicts — including a custom thresholds dict."""
    ns = (2, 3, 5, 7)
    df = spark.createDataFrame(
        _tie_and_edge_docs(), "doc_id long, text string"
    )
    key = lambda r: (r["id"], r["n"])  # noqa: E731
    k = {key(r): tuple(r) for r in
         gopher_ngram_stats(df, ns=ns).collect()}
    rel = {key(r): tuple(r) for r in _ngram_stats_relational(
        df, ns, _DEFAULT_TOKEN_RE, "doc_id", "text").collect()}
    assert k == rel
    th = {"top_char_frac": {2: 0.3, 3: 0.5}, "dup_char_frac": {5: 0.2}}
    for thresholds in (GOPHER_THRESHOLDS, th):
        kk = {r["id"]: r["keep"] for r in gopher_quality_filter(
            df, thresholds=thresholds).collect()}
        rk = {r["id"]: r["keep"] for r in _quality_filter_relational(
            df, thresholds, _DEFAULT_TOKEN_RE, "doc_id", "text").collect()}
        assert kk == rk and set(kk) == {d for d, _ in _tie_and_edge_docs()}


def test_auto_strategy_gate(spark):
    """The kernel runs only for the default token_re; any other
    Java-regex pattern takes the relational path (Python re must never
    see a pattern written for the JVM engine)."""
    df = spark.createDataFrame([(1, "a b a b c")], "doc_id long, text string")
    kplan = gopher_ngram_stats(
        df)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in kplan
    rplan = gopher_ngram_stats(
        df, token_re=r"\p{L}+"
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in rplan
