"""The three benchmark workloads.

Each workload builds its inputs from the seed in :meth:`setup` (untimed
work counted in ``setup_s``), draws per-repetition inputs in
:meth:`prepare` (untimed), calls the engine's public functions in
:meth:`run` (the timed region), and checks the result in :meth:`check`,
raising :class:`CheckFailed` when an output is wrong. :meth:`traced`
runs the same calls with a span around each layer, and
:meth:`layer_counts` reports what the layers did.

- ``dedup_dense``: the flagship ``DedupPipeline.clusters`` over pages
  of which 75 % are planted near-dups, so candidate generation, Jaccard
  verify and connected components carry the work.
- ``corpus_assembly``: ``run_corpus_stages`` with Gopher and span
  excision over pages of which half are planted near-dups, with a
  planted defect for every stage, so the quality/corpus-prep stages and
  the dedup pipeline (verify and connected components included) carry
  the work.
- ``symspell_correct``: a fresh dictionary build per repetition (write
  path) and batch lookup / compound / segmentation d=0 and d=1 over
  fresh noisy docs (read path); no dedup code runs.
"""

from __future__ import annotations

import contextlib
import os
import sys
from collections import defaultdict

import numpy as np

from perfbench import inputs
from perfbench.oracle import TopOracle

__all__ = ["WORKLOADS", "CheckFailed", "SIZES"]

# per-workload input sizes; "tiny" is for the benchmark's own tests
SIZES = {
    "dedup_dense": {"full": {"docs": 2000}, "tiny": {"docs": 200}},
    "corpus_assembly": {"full": {"docs": 1000}, "tiny": {"docs": 300}},
    "symspell_correct": {
        "full": {"terms": 6000, "docs": 200, "seg_docs": 50, "oracle": 500},
        "tiny": {"terms": 2000, "docs": 60, "seg_docs": 20, "oracle": 50},
    },
}

DUP_KINDS = ("near_dup_edit", "near_dup_shuffle", "exact_substring")
RECALL_FLOOR = 0.99


class CheckFailed(Exception):
    """An output of the engine is wrong."""


@contextlib.contextmanager
def _patched(obj, name, wrapper_factory):
    if not hasattr(obj, name):
        yield
        return
    orig = getattr(obj, name)
    setattr(obj, name, wrapper_factory(orig))
    try:
        yield
    finally:
        setattr(obj, name, orig)


def _spanned(tracer, name, materialize=True, counts=None, count_where=None, keep=None):
    """Wrapper factory: run the call inside span ``name``; a returned
    DataFrame is materialized inside the span (so the layer's jobs carry
    its label), its row count (of rows matching ``count_where``, if
    given) is added to ``counts[name]`` and it is passed to ``keep``."""
    from pyspark.sql import DataFrame

    def factory(orig):
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
                if materialize and isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
                    if counts is not None:
                        counted = out if count_where is None else out.where(count_where)
                        counts[name] += counted.count()
            if keep is not None:
                keep(out)
            return out

        return wrapper

    return factory


class Workload:
    name = ""
    # name of the span around a whole traced repetition
    root_span = "rep"

    def __init__(self, spark, seed: int, tmp: str, size: str):
        self.spark = spark
        self.seed = seed
        self.tmp = tmp
        self.size = SIZES[self.name][size]
        self.docs = 0
        self.quality: dict[str, float] = {}
        self.repeat_shares = (0.0, 0.0)

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self, rep: int) -> None:
        """Per-repetition inputs, drawn outside the timed region."""

    def run(self, rep: int):
        raise NotImplementedError

    def remember(self, out) -> None:
        """Keep what later repetitions of the same input must reproduce."""

    def check(self, rep: int, out) -> None:
        raise NotImplementedError

    def traced(self, rep: int, tracer):
        raise NotImplementedError

    def layer_counts(self, out) -> dict[str, float]:
        """Work counts of the layers in the traced repetition ``out``."""
        return {}


# ---------------------------------------------------------------- dedup


class DedupDense(Workload):
    name = "dedup_dense"
    root_span = "pipeline"

    def setup(self) -> None:
        from symspellpy_spark.sources.pages import synthesize_pages

        n = self.size["docs"]
        path = os.path.join(self.tmp, "pages")
        synthesize_pages(
            self.spark,
            n_docs=n,
            n_base=n // 4,
            seed=self.seed,
            partitions=self.spark.sparkContext.defaultParallelism,
        ).write.mode("overwrite").parquet(path)
        self.pages = self.spark.read.parquet(path)
        truth = self.pages.select("url", "kind", "base_id", "doc_id", "text").toPandas()
        self.docs = len(truth)
        # a doc's planted base: its base_id, except unrelated docs
        self.base = {
            u: (None if k == "unrelated" else int(b))
            for u, k, b in zip(truth["url"], truth["kind"], truth["base_id"])
        }
        base_url = dict(zip(truth["doc_id"], truth["url"]))
        self.truth = [
            (base_url[b], u, k)
            for u, k, b in zip(truth["url"], truth["kind"], truth["base_id"])
            if k in DUP_KINDS
        ]
        self.repeat_shares = inputs.repeat_shares(truth["text"])

    def run(self, rep: int):
        from symspellpy_spark.plans.pipeline import DedupConfig, DedupPipeline

        self.pipe = DedupPipeline(self.spark, DedupConfig())
        return self.pipe.clusters(self.pages).collect()

    def remember(self, out) -> None:
        self._first = sorted((r["url"], r["cluster_id"]) for r in out)

    def check(self, rep: int, out) -> None:
        cluster = {r["url"]: r["cluster_id"] for r in out}
        hit, tot = defaultdict(int), defaultdict(int)
        for a, b, k in self.truth:
            tot[k] += 1
            ca = cluster.get(a)
            hit[k] += ca is not None and ca == cluster.get(b)
        recall = {k: hit[k] / tot[k] for k in tot}
        members = defaultdict(list)
        for u, c in cluster.items():
            members[c].append(u)
        pure = sum(
            len(m)
            for m in members.values()
            if len({self.base[u] for u in m}) == 1 and None not in {self.base[u] for u in m}
        )
        self.quality = {
            "dup_pair_recall": min(recall.values()),
            "cluster_precision": pure / max(len(cluster), 1),
            **{f"recall.{k}": v for k, v in recall.items()},
        }
        low = {k: v for k, v in recall.items() if v < RECALL_FLOOR}
        if low:
            raise CheckFailed(f"dup-pair recall below {RECALL_FLOOR}: {low}")
        if sorted(cluster.items()) != self._first:
            raise CheckFailed("clusters differ between repetitions of one input")

    def traced(self, rep: int, tracer):
        self._trace = DedupTrace(tracer)
        with self._trace.patches():
            return self.run(rep)

    def layer_counts(self, out) -> dict[str, float]:
        # distinct pairs per source, from the pipeline's own tally when it
        # keeps one (metrics on)
        tally = {
            m["metric"][len("source_") : -len("_pairs")]: m["value"]
            for m in self.pipe.metrics
            if m["stage"] == "candidates" and m["metric"].startswith("source_")
        }
        return self._trace.counts(self.pipe.config, tally)


SOURCES = {
    "lsh_candidate_pairs": "minhash_lsh",
    "simhash_candidate_pairs": "simhash",
    "substring_pairs_from_grams": "substring",
    "exact_duplicates_from_hash": "exact",
}


class DedupTrace:
    """Spans around the dedup layers' public calls made by
    ``DedupPipeline``, and the row counts they produced."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.rows: dict[str, int] = defaultdict(int)
        self.sig = None
        self.cc = None

    def _cluster(self, orig):
        def wrapper(edges, *args, **kwargs):
            # the edges arrive lazy (with pipeline metrics off nothing has
            # computed them yet): count them in a span of their own, so
            # the verify-side work they still carry is not charged to
            # ``cluster``
            with self.tracer.span("pipeline.edges"):
                self.rows["cluster.edges_in"] += edges.count()
            with self.tracer.span("cluster"):
                out = orig(edges, *args, **kwargs)
                with self.tracer.span("cluster.output"):
                    out = out.localCheckpoint(eager=True)
            self.cc = out
            return out

        return wrapper

    @contextlib.contextmanager
    def patches(self):
        from pyspark.sql import functions as F

        from symspellpy_spark.operators import dedup as dedup_mod
        from symspellpy_spark.plans import pipeline as pipe_mod

        t = self.tracer
        with contextlib.ExitStack() as stack:
            enter = stack.enter_context
            sig = _spanned(
                t, "dedup.signatures", counts=self.rows, keep=lambda out: setattr(self, "sig", out)
            )
            enter(_patched(dedup_mod, "text_to_signatures", sig))
            for fn, src in SOURCES.items():
                # the exact source also returns each group's own row
                where = (F.col("id") != F.col("group_id")) if src == "exact" else None
                span = f"dedup.candidates.{src}"
                enter(_patched(pipe_mod, fn, _spanned(t, span, counts=self.rows, count_where=where)))
            enter(_patched(pipe_mod, "jaccard_verify", _spanned(t, "dedup.verify", counts=self.rows)))
            enter(_patched(pipe_mod, "connected_components", self._cluster))
            cls = pipe_mod.DedupPipeline
            enter(_patched(cls, "candidate_pairs", _spanned(t, "dedup.candidates", counts=self.rows)))
            enter(_patched(cls, "_metric_count", _spanned(t, "pipeline.metric", materialize=False)))
            yield

    def counts(self, cfg, tally: dict) -> dict[str, float]:
        """Layer counts; ``tally`` holds the pipeline's own distinct
        pairs per source when it keeps them, else each source's rows
        are reported."""
        from pyspark.sql import functions as F

        from symspellpy_spark.operators.dedup import lsh_bucket_stats

        c = self.rows
        dropped = (
            lsh_bucket_stats(self.sig, bands=cfg.bands, num_perm=cfg.num_perm)
            .where(F.col("bucket_size") > cfg.max_bucket_size)
            .count()
        )
        src_rows = sum(c[f"dedup.candidates.{s}"] for s in SOURCES.values())
        distinct = c["dedup.candidates"]
        verify_out = c["dedup.verify"]
        return {
            "dedup.signatures.docs": c["dedup.signatures"],
            **{
                f"dedup.candidates.{s}.pairs": tally.get(s, c[f"dedup.candidates.{s}"])
                for s in SOURCES.values()
            },
            "dedup.candidates.distinct_pairs": distinct,
            "dedup.candidates.dup_ratio": src_rows / max(distinct, 1),
            "dedup.candidates.lsh_dropped_buckets": dropped,
            "dedup.verify.pairs_in": distinct,
            "dedup.verify.edges_out": verify_out,
            "dedup.verify.useful_ratio": verify_out / max(distinct, 1),
            "cluster.edges_in": c["cluster.edges_in"],
            "cluster.components": self.cc.select("cluster_id").distinct().count(),
        }


# ---------------------------------------------------------------- corpus

CORPUS_STAGES = (
    "url_dedup",
    "dedup",
    "boilerplate",
    "gopher",
    "decontamination",
    "dedup_spans",
    "finalize",
)


class _StageClock:
    """Stands in for the ``time`` module inside the corpus job: every
    ``perf_counter()`` call there opens a new segment span, so the jobs
    between two clock reads carry one label. The job reads the clock
    exactly at the start and end of each stage; the odd segments are
    then the stages, in ``stage_sec`` order."""

    def __init__(self, tracer, real):
        self.tracer, self.real = tracer, real
        self.segments: list = []
        self._ctx = None

    def _next(self) -> None:
        if self._ctx is not None:
            self._ctx.__exit__(None, None, None)
        self._ctx = self.tracer.span(f"corpus.segment{len(self.segments)}")
        self.segments.append(self._ctx.__enter__())

    def perf_counter(self) -> float:
        self._next()
        return self.real.perf_counter()

    def close(self) -> None:
        if self._ctx is not None:
            self._ctx.__exit__(None, None, None)
            self._ctx = None

    def __getattr__(self, name):
        return getattr(self.real, name)


class CorpusAssembly(Workload):
    name = "corpus_assembly"

    def setup(self) -> None:
        from symspellpy_spark.sources.pages import synthesize_pages

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(root, "jobs"))
        import corpus_job

        self.job = corpus_job
        n = self.size["docs"]
        raw = synthesize_pages(
            self.spark, n_docs=n, n_base=n // 2, seed=self.seed, partitions=4
        ).toPandas()
        pages, bench, self.planted = inputs.plant_corpus_defects(raw, self.seed)
        kinds = pages["kind"].to_numpy()
        self.planted["dedup"] = int(np.isin(kinds, DUP_KINDS).sum())
        self.docs = len(pages)
        self.repeat_shares = inputs.repeat_shares(pages["text"])
        self.input_text = dict(zip(pages["url"], pages["text"]))
        # written by pandas, one file per core as Spark would write them,
        # without another round trip through the JVM
        pages["warc_ts"] = pages["warc_ts"].dt.tz_localize("UTC")
        path = os.path.join(self.tmp, "pages")
        self.pages = self._parquet(pages, path)
        self.bench = self._parquet(bench, path + "_bench")

    def _parquet(self, frame, path: str):
        os.makedirs(path)
        parts = self.spark.sparkContext.defaultParallelism
        for k, idx in enumerate(np.array_split(np.arange(len(frame)), parts)):
            frame.iloc[idx].to_parquet(
                os.path.join(path, f"part-{k:05d}.parquet"),
                index=False,
                coerce_timestamps="us",
            )
        return self.spark.read.parquet(path)

    def run(self, rep: int):
        return self.job.run_corpus_stages(
            self.spark, self.pages, self.bench, gopher=True, dedup_spans=8
        )

    @staticmethod
    def _counts(m: dict) -> dict:
        return {k: v for k, v in m.items() if k != "stage_sec"}

    def remember(self, out) -> None:
        self._first = self._counts(out[1])

    def check(self, rep: int, out) -> None:
        corpus, m = out
        rows = corpus.select("url", "text").collect()
        counts = self._counts(m)
        if counts != self._first:
            raise CheckFailed(f"survivor counts differ between repetitions: {counts}")
        before = m["docs"]
        removed = {}
        for st in CORPUS_STAGES[:-2]:
            after = m[f"after_{st}"]
            removed[st] = before - after
            before = after
        need = {
            "url_dedup": self.planted["url_variants"],
            "dedup": int(np.ceil(RECALL_FLOOR * self.planted["dedup"])),
            "boilerplate": self.planted["boilerplate"],
            "gopher": self.planted["templated"],
            "decontamination": self.planted["contaminated"],
        }
        short = {k: (removed[k], v) for k, v in need.items() if removed[k] < v}
        if m["span_tokens_removed"] < self.planted["span_tokens"]:
            short["dedup_spans"] = (m["span_tokens_removed"], self.planted["span_tokens"])
        if short:
            raise CheckFailed(f"stages removed fewer than planted (removed, planted): {short}")
        cut_tokens = 0
        for r in rows:
            src = self.input_text[r["url"]]
            if r["text"] == src:
                continue
            out_t, in_t = r["text"].split(" "), src.split(" ")
            it = iter(in_t)
            if len(out_t) >= len(in_t) or not all(t in it for t in out_t):
                raise CheckFailed(f"survivor text changed beyond span excision: {r['url']}")
            cut_tokens += len(in_t) - len(out_t)
        if cut_tokens != m["span_tokens_removed"]:
            raise CheckFailed(
                f"excised tokens {cut_tokens} != reported {m['span_tokens_removed']}"
            )

    def traced(self, rep: int, tracer):
        from symspellpy_spark.plans import pipeline as pipe_mod

        self._trace = DedupTrace(tracer)
        clock = _StageClock(tracer, self.job.time)
        self.job.time = clock
        try:
            with self._trace.patches(), _patched(
                pipe_mod.DedupPipeline, "survivors", _spanned(tracer, "pipeline")
            ):
                out = self.run(rep)
        finally:
            clock.close()
            self.job.time = clock.real
        names = list(out[1]["stage_sec"])
        segs = clock.segments
        if len(segs) == 2 * len(names):
            for k, sp in enumerate(segs):
                sp.name = f"corpus.{names[k // 2]}" if k % 2 == 0 else "corpus.between"
        else:
            print(
                f"# corpus stage attribution unavailable: {len(segs)} clock reads "
                f"for {len(names)} stages",
                flush=True,
            )
        return out

    def layer_counts(self, out) -> dict[str, float]:
        from symspellpy_spark.plans.pipeline import DedupConfig

        m = out[1]
        counts = {f"corpus.{st}.survivors": m.get(f"after_{st}", 0) for st in CORPUS_STAGES}
        counts["corpus.finalize.survivors"] = m["corpus"]
        counts.update({f"corpus.{st}.s": v for st, v in m["stage_sec"].items()})
        # the corpus job runs the pipeline with metrics off: no per-source tally
        counts.update(self._trace.counts(DedupConfig(), {}))
        return counts


# ---------------------------------------------------------------- symspell


class SymspellCorrect(Workload):
    name = "symspell_correct"

    def setup(self) -> None:
        """Nothing to build once: every repetition draws its own inputs."""

    def prepare(self, rep: int) -> None:
        import pandas as pd

        # a fresh dictionary and fresh queries every repetition: the
        # engine's worker-local resolution caches key on the dictionary,
        # so a repeated batch would measure the cache, not the lookup
        s = self.seed * 100_003 + rep + 1
        self.words = inputs.synthetic_dictionary(s, self.size["terms"])
        docs, self.planted = inputs.noisy_docs(s, self.words, self.size["docs"])
        self.docs = len(docs)
        self.repeat_shares = inputs.repeat_shares(docs["text"])
        spark = self.spark
        self.words_df = spark.createDataFrame(
            pd.DataFrame({"term": list(self.words), "count": list(self.words.values())})
        )
        self.docs_df = spark.createDataFrame(docs)
        toks = sorted({t for text in docs["text"] for t in text.split()})
        self.queries = toks
        self.queries_df = spark.createDataFrame(pd.DataFrame({"query": toks}))
        glued = docs.iloc[: self.size["seg_docs"]].assign(
            text=lambda d: d["text"].str.replace(" ", "", regex=False)
        )
        self.glued_df = spark.createDataFrame(glued)

    def _build(self):
        from symspellpy_spark.operators.dictionary import SparkDictionary

        d = SparkDictionary.from_words(self.spark, self.words_df).cache()
        self.delete_rows = d.deletes.count()
        return d

    def _calls(self, d):
        from symspellpy_spark.config import Verbosity
        from symspellpy_spark.operators.compound import lookup_compound_batch
        from symspellpy_spark.operators.lookup import lookup_batch
        from symspellpy_spark.operators.segmentation import word_segmentation_batch

        return [
            ("lookup", lambda: lookup_batch(self.queries_df, d, Verbosity.TOP).collect()),
            ("compound", lambda: lookup_compound_batch(self.docs_df, d).collect()),
            (
                "segmentation.d0",
                lambda: word_segmentation_batch(self.glued_df, d, max_edit_distance=0).collect(),
            ),
            (
                "segmentation.d1",
                lambda: word_segmentation_batch(self.glued_df, d, max_edit_distance=1).collect(),
            ),
        ]

    def run(self, rep: int):
        d = self._build()
        try:
            return {name: fn() for name, fn in self._calls(d)}
        finally:
            d.unpersist()

    def traced(self, rep: int, tracer):
        from symspellpy_spark.operators.neighborhood import fuzzy_index_broadcast

        with tracer.span("dictionary"):
            d = self._build()
        try:
            out = {}
            for name, fn in self._calls(d):
                if name == "compound":
                    with tracer.span("neighborhood"):
                        fuzzy_index_broadcast(
                            self.spark,
                            d,
                            d.config.max_dictionary_edit_distance,
                            d.config.prefix_length,
                        )
                with tracer.span(name):
                    out[name] = fn()
            return out
        finally:
            d.unpersist()

    def check(self, rep: int, out) -> None:
        top = {r["query"]: (r["term"], r["distance"], r["count"]) for r in out["lookup"]}
        planted = [q for q in self.queries if q in self.planted]
        self.quality = {
            "correction_accuracy": sum(
                top.get(q, (None,))[0] == self.planted[q] for q in planted
            )
            / max(len(planted), 1)
        }
        n_docs = self.docs
        for name, want in (
            ("compound", n_docs),
            ("segmentation.d0", self.size["seg_docs"]),
            ("segmentation.d1", self.size["seg_docs"]),
        ):
            if len(out[name]) != want:
                raise CheckFailed(f"{name}: {len(out[name])} rows for {want} docs")
        oracle = TopOracle(self.words, 2)
        rng = np.random.default_rng((self.seed, rep + 1, 0x0AC1E))
        sample = rng.choice(len(self.queries), size=min(self.size["oracle"], len(self.queries)), replace=False)
        bad = []
        for i in sample:
            q = self.queries[int(i)]
            want = oracle.top(q)
            if top.get(q) != want:
                bad.append((q, top.get(q), want))
        if bad:
            raise CheckFailed(f"{len(bad)}/{len(sample)} lookups differ from the oracle: {bad[:3]}")

    def layer_counts(self, out) -> dict[str, float]:
        return {
            "dictionary.delete_rows": self.delete_rows,
            "lookup.distinct_queries": len(self.queries),
            "compound.docs": self.docs,
            "segmentation.d0.docs": self.size["seg_docs"],
            "segmentation.d1.docs": self.size["seg_docs"],
        }


WORKLOADS = {w.name: w for w in (DedupDense, CorpusAssembly, SymspellCorrect)}
