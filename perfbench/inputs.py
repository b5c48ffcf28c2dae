"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed: the same seed gives
byte-identical inputs, a different seed gives different ones. Nothing
reads a file; the SymSpell dictionary is synthetic so the benchmark
needs no downloaded frequency list.

- :func:`synthetic_dictionary` — an EN-shaped unigram frequency list:
  pronounceable pseudo-words with an English-like length mix and
  zipf-distributed counts.
- :func:`noisy_docs` — short documents drawn from a dictionary by
  frequency, with planted typos whose source term is recorded.
- :func:`plant_corpus_defects` — post-processes a ``synthesize_pages``
  frame so every corpus-assembly stage has something real to remove.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

__all__ = [
    "synthetic_dictionary",
    "noisy_docs",
    "plant_corpus_defects",
    "repeat_shares",
]

_VOWELS = list("aeiouy")
_ONSETS = (
    "b c d f g h j k l m n p r s t v w z bl br ch cl cr dr fl fr gl gr "
    "pl pr sc sh sk sl sm sn sp st sw th tr wh"
).split()
_CODAS = "b ck d ft g k l ld lt m n nd ng nk nt p r rd rk rm rn rt s sh ss st t th x".split()

# English-like word-length mix (share of the vocabulary per length,
# lengths 2..18; mode at 7-8 characters like a large EN unigram list)
_LENGTHS = np.arange(2, 19)
_LENGTH_WEIGHTS = np.array(
    [1, 3, 6, 9, 12, 13, 13, 12, 10, 8, 6, 4, 3, 2, 1.5, 1, 0.5]
)
_LENGTH_WEIGHTS = _LENGTH_WEIGHTS / _LENGTH_WEIGHTS.sum()


def _pseudo_word(rng: np.random.Generator, length: int) -> str:
    out = ""
    while len(out) < length:
        out += _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
        if rng.random() < 0.35:
            out += _CODAS[rng.integers(len(_CODAS))]
    return out[:length]


def synthetic_dictionary(seed: int, n_terms: int = 80_000) -> dict[str, int]:
    """-> ``{term: count}`` with ``n_terms`` distinct lowercase terms.

    Counts follow a zipf law (exponent 1.2, top count ~2.3e10 like the
    EN list's "the"); shorter words tend to rank higher, as in English.
    Ties between counts occur, so TOP tie-breaks on the term are
    exercised.
    """
    rng = np.random.default_rng((seed, 0xD1C7))
    lengths = rng.choice(_LENGTHS, size=n_terms * 2, p=_LENGTH_WEIGHTS)
    terms: dict[str, None] = {}
    i = 0
    while len(terms) < n_terms:
        if i == len(lengths):
            lengths = rng.choice(_LENGTHS, size=n_terms, p=_LENGTH_WEIGHTS)
            i = 0
        terms.setdefault(_pseudo_word(rng, int(lengths[i])))
        i += 1
    words = list(terms)
    rank_key = np.array([len(w) for w in words]) + rng.normal(0.0, 2.5, n_terms)
    order = np.argsort(rank_key, kind="stable")
    ranks = np.empty(n_terms, dtype=np.int64)
    ranks[order] = np.arange(1, n_terms + 1)
    counts = np.maximum(1, (2.3e10 / ranks.astype(np.float64) ** 1.2).astype(np.int64))
    return dict(zip(words, counts.tolist()))


def _typo(rng: np.random.Generator, word: str) -> str:
    """One random Damerau edit: delete, insert, substitute or swap."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    op = int(rng.integers(4))
    i = int(rng.integers(len(word)))
    if op == 0 and len(word) > 1:
        return word[:i] + word[i + 1 :]
    if op == 1:
        return word[:i] + letters[rng.integers(26)] + word[i:]
    if op == 2:
        return word[:i] + letters[rng.integers(26)] + word[i + 1 :]
    if len(word) > 1:
        i = min(i, len(word) - 2)
        return word[:i] + word[i + 1] + word[i] + word[i + 2 :]
    return word + letters[rng.integers(26)]


def noisy_docs(
    seed: int,
    words: dict[str, int],
    n_docs: int,
    tokens_per_doc: int = 9,
    typo_rate: float = 0.2,
) -> tuple[pd.DataFrame, dict[str, str]]:
    """-> ``(docs, planted)``.

    ``docs`` has ``doc_id`` and ``text``: ``tokens_per_doc`` space-separated
    tokens drawn by frequency, so tokens repeat across docs the way real
    text does. Exactly ``typo_rate`` of the tokens are misspelled, by one
    edit (three in four) or two; ``planted`` maps each misspelling to the
    term it was made from (first occurrence wins).
    """
    rng = np.random.default_rng((seed, 0xD0C5))
    terms = np.array(list(words), dtype=object)
    # draw by count^0.5: flatter than the raw zipf so a batch touches a
    # broad slice of the vocabulary, not a handful of stop words
    p = np.sqrt(np.array(list(words.values()), dtype=np.float64))
    p /= p.sum()
    toks = rng.choice(terms, size=n_docs * tokens_per_doc, p=p).tolist()
    planted: dict[str, str] = {}
    for i in rng.choice(len(toks), size=int(len(toks) * typo_rate), replace=False):
        w = toks[i]
        t = _typo(rng, w)
        if rng.random() < 0.25:
            t = _typo(rng, t)
        if t and t != w:
            planted.setdefault(t, w)
            toks[i] = t
    texts = [
        " ".join(toks[k : k + tokens_per_doc]) for k in range(0, len(toks), tokens_per_doc)
    ]
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts}), planted


def repeat_shares(texts) -> tuple[float, float]:
    """-> (share of tokens that repeat an earlier token, share of docs
    whose text repeats an earlier doc) — how much work the inputs
    share, which decides how much dedup-by-distinct can save."""
    seen_t: set = set()
    seen_d: set = set()
    rep_t = n_t = rep_d = n_d = 0
    for text in texts:
        n_d += 1
        rep_d += text in seen_d
        seen_d.add(text)
        for tok in text.split():
            n_t += 1
            rep_t += tok in seen_t
            seen_t.add(tok)
    return rep_t / max(n_t, 1), rep_d / max(n_d, 1)


def _short_words(rng: np.random.Generator, n: int) -> list[str]:
    """Two- and three-letter tokens: a run of eight of them stays under
    the 40-character substring-fingerprint gram, so the pages that share
    it are not paired by the near-duplicate stage."""
    return [_pseudo_word(rng, int(rng.integers(2, 4))) for _ in range(n)]


def _long_words(rng: np.random.Generator, n: int) -> list[str]:
    return [_pseudo_word(rng, int(rng.integers(6, 10))) for _ in range(n)]


def plant_corpus_defects(
    pages: pd.DataFrame, seed: int, share: float = 0.03
) -> tuple[pd.DataFrame, pd.DataFrame, dict[str, int]]:
    """-> ``(pages, benchmark_pages, planted)``.

    ``pages`` is a ``synthesize_pages`` frame (url, text, ... columns).
    Each defect replaces the text of (or adds) about ``share`` of the
    pages, chosen among the originals so no two defects stack:

    - ``url_variants``: extra copies of pages under a ``www.`` or
      ``utm_*`` variant of their url (removed by url_dedup);
    - ``boilerplate``: pages whose aligned 8-token segments are mostly
      shared navigation/footer segments (boiler_ratio 4/7);
    - ``templated``: one short template sentence repeated with a
      changing number (fails the Gopher top-2-gram bar);
    - ``contaminated``: a page carrying a 12-token passage of a
      benchmark document (removed by decontamination);
    - ``span_tokens``: an 8-token passage shared by two to four pages;
      every copy after the first is excised by the spans stage, so the
      count is of tokens, not pages.

    ``planted`` gives the number of pages (tokens for spans) each stage
    must remove at least.
    """
    rng = np.random.default_rng((seed, 0xC0DE))
    pages = pages.reset_index(drop=True).copy()
    kind = pages["kind"].to_numpy()
    # only originals without planted near-dups, so a defect never breaks
    # a planted duplicate pair
    has_dups = set(pages["base_id"].to_numpy()[(kind != "original") & (kind != "unrelated")])
    originals = [
        i for i in np.flatnonzero(kind == "original") if pages["doc_id"].iat[i] not in has_dups
    ]
    n_each = max(2, int(len(pages) * share))
    picks = rng.permutation(originals)
    groups = {
        name: picks[i * n_each : (i + 1) * n_each]
        for i, name in enumerate(["boilerplate", "templated", "contaminated", "spans", "url"])
    }
    text = pages["text"].to_numpy(dtype=object)
    planted: dict[str, int] = {}

    # boilerplate: B U B U B U B with B drawn from a small site pool and
    # U unique to the page
    # (each pool segment lands on at least two pages, so it counts)
    pool = [" ".join(_short_words(rng, 8)) for _ in range(min(12, 2 * n_each))]
    for k, i in enumerate(groups["boilerplate"]):
        b = [(4 * k + j) % len(pool) for j in range(4)]
        segs = [pool[b[0]]]
        for j in range(3):
            segs.append(" ".join(_long_words(rng, 8)))
            segs.append(pool[b[j + 1]])
        text[i] = " ".join(segs)
    planted["boilerplate"] = len(groups["boilerplate"])

    # templated spam: a 6-token sentence repeated with a changing number
    for i in groups["templated"]:
        tmpl = _long_words(rng, 5)
        reps = [" ".join(tmpl + [str(int(rng.integers(10, 99)))]) for _ in range(12)]
        text[i] = " ".join(reps)
    planted["templated"] = len(groups["templated"])

    # benchmark documents use their own vocabulary, so only the planted
    # passages can match them
    bench_vocab = [_pseudo_word(rng, int(rng.integers(5, 9))) for _ in range(400)]
    bench_texts = [
        " ".join(rng.choice(bench_vocab, size=60).tolist())
        for _ in range(max(4, n_each))
    ]
    for k, i in enumerate(groups["contaminated"]):
        src = bench_texts[k % len(bench_texts)].split()
        start = int(rng.integers(0, len(src) - 12))
        body = text[i].split()
        cut = int(rng.integers(0, len(body)))
        text[i] = " ".join(body[:cut] + src[start : start + 12] + body[cut:])
    planted["contaminated"] = len(groups["contaminated"])

    # shared spans: each passage goes to 2-4 pages
    span_tokens = 0
    hosts = list(groups["spans"])
    while len(hosts) >= 2:
        take = min(len(hosts), int(rng.integers(2, 5)))
        passage = _short_words(rng, 8)
        for i in hosts[:take]:
            body = text[i].split()
            cut = int(rng.integers(1, len(body)))
            text[i] = " ".join(body[:cut] + passage + body[cut:])
        span_tokens += 8 * (take - 1)
        hosts = hosts[take:]
    planted["span_tokens"] = span_tokens
    pages["text"] = text
    pages["html"] = [f"<html><body>{t}</body></html>".encode() for t in text]

    # url variants: same page fetched again under a tracking/www url
    variants = pages.iloc[groups["url"]].copy()
    variants["url"] = [
        u.replace("https://", "https://www.", 1)
        if k % 2
        else f"{u}?utm_source=feed{k}&utm_medium=rss"
        for k, u in enumerate(variants["url"])
    ]
    variants["kind"] = "url_variant"
    planted["url_variants"] = len(variants)
    pages = pd.concat([pages, variants], ignore_index=True)

    bench = pd.DataFrame(
        {
            "url": [f"https://bench.example.org/{k}" for k in range(len(bench_texts))],
            "text": bench_texts,
        }
    )
    return pages, bench, planted
