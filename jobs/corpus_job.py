"""spark-submit entry point assembling an LLM training corpus.

The stage chain a web-scale training-data pipeline runs AFTER crawling,
composed entirely from this engine's operators:

    pages --(url_dedup)--> canonical-URL survivors (cheapest pass first)
          --(DedupPipeline)--> near-dup survivors
          --(boilerplate_segments)--> drop boilerplate-heavy docs
          --(gopher_quality_filter, opt-in --gopher)--> drop repetitive docs
          --(ngram_contamination)--> drop benchmark-contaminated docs
          --(hash_stratified_sample)--> per-language mixture
          --(remove_duplicate_spans, opt-in --dedup-spans K)--> span-cut text
          --(pii_scrub, opt-in --scrub-pii)--> redacted text
          --> corpus/ parquet (+ one JSON metrics line on stdout)

Usage (cluster):
    spark-submit --py-files symspellpy_spark.zip jobs/corpus_job.py \
        --input /path/to/pages --benchmark /path/to/benchmark_pages \
        --output /path/to/out [--mix en=60,de=30] [--max-boiler 0.5]

Usage (sandbox smoke, synthesized corpus; a deterministic slice of the
input plays the benchmark):
    python jobs/corpus_job.py --synthesize 3000 --output /tmp/corpus

Every stage is shuffle-minimal by construction: dedup survivors come
from the capped/salted bucket joins, the boilerplate filter is two hash
aggregations, contamination broadcasts the benchmark gram set, and the
mixture sampler is a pure filter; URL dedup is one hash aggregation
and PII scrubbing a narrow projection. Text bytes are carried through
untouched (the per-row invariant) unless ``--scrub-pii`` is passed —
redaction is the one stage whose JOB is to change bytes, so it is
opt-in and its counts land in the metrics line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from symspellpy_spark.operators.corpus_prep import (  # noqa: E402
    pii_scrub,
    remove_duplicate_spans,
    url_dedup,
)
from symspellpy_spark.operators.dedup import (  # noqa: E402
    boilerplate_segments,
    ngram_contamination,
)
from symspellpy_spark.operators.sampling import (  # noqa: E402
    hash_stratified_sample,
)
from symspellpy_spark.plans.pipeline import (  # noqa: E402
    DedupConfig,
    DedupPipeline,
)
from symspellpy_spark.session import get_spark  # noqa: E402


def parse_mix(spec: str) -> dict:
    """'en=60,de=30' -> {'en': 60, 'de': 30}."""
    out = {}
    for part in spec.split(","):
        if not part:
            continue
        k, v = part.split("=")
        out[k.strip()] = int(v)
    return out


def run_corpus_stages(
    spark,
    pages,
    bench,
    *,
    checkpoint: str | None = None,
    mix: dict | None = None,
    max_boiler: float = 0.5,
    contam_grams: int = 8,
    seg_len: int = 8,
    min_docs: int = 2,
    gopher: bool = False,
    dedup_spans: int = 0,
    scrub_pii: bool = False,
):
    """Run the full corpus-assembly stage chain, returning
    ``(corpus_df, metrics)``. ``corpus_df`` is eagerly checkpointed (the
    caller only writes/aggregates it); ``metrics`` carries the survivor
    count after every stage plus ``stage_sec`` — per-stage wall seconds
    measured at each stage's count() boundary, so the composed job's
    cost is a tracked, per-stage number (bench.py's ``corpus_job_full``
    entry reports it; VERDICT_r04 Next #3).

    This is the library surface of the spark-submit job below: main()
    only parses the CLI, synthesizes/reads the inputs, calls this, and
    writes the output.
    """
    metrics: dict = {"docs": pages.count()}
    stage_sec: dict = {}
    para = spark.sparkContext.defaultParallelism
    # every stage's survivor relation is MATERIALIZED (eager
    # localCheckpoint) before the next stage reads it: each stage both
    # consumes the previous relation and semi-joins back against it, so
    # without a checkpoint boundary the lazy lineage re-executes every
    # upstream stage once per downstream consumer (measured: the gopher
    # gram fan-out ran ~3x inside the unmaterialized chain). A rolling
    # unpersist keeps at most one prior stage's blocks alive, so memory
    # stays O(corpus), not O(stages * corpus). On a cluster the same
    # boundary is a disk/Iceberg checkpoint (what `checkpoint` already
    # does for the dedup stage's signature/edge tables).
    _prev: list = [None]

    def _staged(name: str, fn):
        t0 = time.perf_counter()
        out = fn().localCheckpoint(eager=True)
        # AQE sizes post-join partitioning by BYTES, so a heavily
        # filtered survivor checkpoint coalesces to a handful of
        # partitions — and every downstream stage's narrow pre-shuffle
        # work (tokenize, gram explode, the gopher Arrow kernel)
        # inherits that parallelism (measured: stages ran on 4 of 32
        # cores). Re-spread small checkpoints; the guard fires exactly
        # when the relation is small (that is WHY it has few
        # partitions), so the extra shuffle is cheap at any scale and a
        # no-op on corpus-sized relations.
        if out.rdd.getNumPartitions() < para:
            spread = out.repartition(para, "url").localCheckpoint(eager=True)
            out.unpersist(False)
            out = spread
        metrics[f"after_{name}"] = out.count()
        stage_sec[name] = round(time.perf_counter() - t0, 3)
        if _prev[0] is not None:
            _prev[0].unpersist(False)
        _prev[0] = out
        return out

    # every stage DECIDES from (url, text, lang) only — the rest of the
    # page row (html is usually the widest column) is projected out of
    # the whole stage chain and re-attached once at finalize, so the
    # per-stage checkpoints and semi-joins never carry payload bytes no
    # stage reads (guide §2.3: shuffle keys and metadata, not payloads)
    work = pages.select("url", "text", "lang")
    bench = bench.select("url", "text")

    # 0. canonical-URL dedup — the cheapest pass runs first (one hash
    # aggregation; removes re-fetch/tracking variants before any
    # content hashing); survivor = min url per canonical URL
    def _url():
        url_surv = url_dedup(work, url_col="url", id_col="url").select(
            F.col("survivor_id").alias("url")
        )
        return work.join(url_surv, "url", "left_semi")

    surv = _staged("url_dedup", _url)

    # 1. near-duplicate removal (one survivor per dup cluster). This
    # job reports the per-stage survivor counts below; the pipeline's
    # own per-stage tallies ride on these actions and cost no job
    def _dedup():
        pipe = DedupPipeline(spark, DedupConfig(), checkpoint_dir=checkpoint)
        surv_urls = pipe.survivors(surv)
        return surv.join(surv_urls, "url", "left_semi")

    surv = _staged("dedup", _dedup)

    # 2. boilerplate filter (CCNet-style repeated segments)
    def _boiler():
        bp = boilerplate_segments(
            surv, seg_len=seg_len, min_docs=min_docs, id_col="url"
        )
        keep_bp = bp.where(F.col("boiler_ratio") <= max_boiler).select("url")
        return surv.join(keep_bp, "url", "left_semi")

    surv = _staged("boilerplate", _boiler)

    # 2b. Gopher repetition filter (opt-in): degenerate/templated text
    # is dropped on the published per-n thresholds — like boilerplate,
    # a quality gate that runs before decontamination so the benchmark
    # gram set only probes docs that can survive
    if gopher:
        from symspellpy_spark.operators.quality import gopher_quality_filter

        def _gopher():
            keep_g = (
                gopher_quality_filter(surv, id_col="url")
                .where(F.col("keep"))
                .select(F.col("id").alias("url"))
            )
            return surv.join(keep_g, "url", "left_semi")

        surv = _staged("gopher", _gopher)

    # 3. benchmark decontamination (drop any doc sharing an n-gram)
    def _decontam():
        contam = ngram_contamination(
            surv, bench, n=contam_grams, id_col="url"
        )
        clean = contam.where(F.col("n_contaminated") == 0).select("url")
        return surv.join(clean, "url", "left_semi")

    surv = _staged("decontamination", _decontam)

    # 4. language mixture (pure filter, fused into the next stage's scan)
    if mix:
        surv = hash_stratified_sample(
            surv, mix, key_col="url", strata_col="lang", default_rate=100
        )
    # 5. duplicated-span excision (opt-in byte-changing stage: doc-level
    # dedup keeps partial-overlap documents whole; this cuts the shared
    # passages out of them, keep-first occurrence surviving)
    if dedup_spans:

        def _spans():
            # surv is a stage checkpoint plus (at most) the mix filter,
            # so the two consumers below — span detection and the
            # join-back — recompute only that narrow filter over cached
            # blocks, never the upstream stage chain.
            # n_tokens_removed rides along to the _staged checkpoint so
            # the metric below aggregates the CHECKPOINTED relation
            cl = remove_duplicate_spans(
                surv, k=dedup_spans, id_col="url"
            ).select(
                F.col("id").alias("url"),
                "clean_text",
                "n_tokens_removed",
            )
            return (
                surv.join(cl, "url", "left")
                .withColumn("text", F.coalesce("clean_text", "text"))
                .drop("clean_text")
            )

        surv = _staged("dedup_spans", _spans)

    # 6. PII redaction (opt-in: the other stage that changes text bytes)
    if scrub_pii:
        surv = pii_scrub(surv, id_col="url", keep_all=True)

    # finalize re-attaches the full page row (html etc.) to the
    # surviving narrow relation — the one join that touches payload
    # bytes — and executes whatever tail stages stayed lazy (mix when
    # spans are off, pii), so "finalize" prices them together with the
    # output-side materialization
    def _final():
        rest = pages.drop("text", "lang")
        return rest.join(surv, "url")

    corpus = _staged("finalize", _final)
    metrics["corpus"] = metrics.pop("after_finalize")
    if dedup_spans:
        metrics["span_tokens_removed"] = int(
            corpus.agg(F.sum("n_tokens_removed")).first()[0] or 0
        )
        corpus = corpus.drop("n_tokens_removed")
    if scrub_pii:
        red = corpus.agg(
            *[F.sum(c).alias(c) for c in ("n_email", "n_ipv4", "n_phone")]
        ).first()
        metrics["pii_redactions"] = {
            c: int(red[c] or 0) for c in ("n_email", "n_ipv4", "n_phone")
        }
        corpus = corpus.drop("n_email", "n_ipv4", "n_phone")
    metrics["stage_sec"] = stage_sec
    return corpus, metrics


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages parquet path")
    ap.add_argument("--synthesize", type=int, default=0)
    ap.add_argument(
        "--benchmark",
        default=None,
        help="benchmark pages parquet (contamination reference); with "
        "--synthesize, a deterministic 2%% slice of the input is used",
    )
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--mix", default="", help="lang=pct[,lang=pct...]; "
                    "empty keeps every language at 100%%")
    ap.add_argument("--max-boiler", type=float, default=0.5,
                    help="drop docs with boiler_ratio above this")
    ap.add_argument("--contam-grams", type=int, default=8)
    ap.add_argument("--seg-len", type=int, default=8)
    ap.add_argument("--min-docs", type=int, default=2)
    ap.add_argument(
        "--gopher",
        action="store_true",
        help="drop docs failing the published Gopher/MassiveText "
        "repetition thresholds (top-{2,3,4}-gram and dup-{5..10}-gram "
        "fractions)",
    )
    ap.add_argument(
        "--dedup-spans",
        type=int,
        default=0,
        metavar="K",
        help="excise corpus-duplicated K-token spans from surviving "
        "docs (Lee et al.-style exact-substring dedup; keep-first "
        "occurrence survives). Like --scrub-pii this changes text "
        "bytes BY DESIGN, so it is opt-in; removed-token counts land "
        "in the metrics line",
    )
    ap.add_argument(
        "--scrub-pii",
        action="store_true",
        help="redact emails/IPv4s/phones in the output corpus (breaks "
        "the byte-identical text invariant BY DESIGN; counts reported)",
    )
    ap.add_argument("--cores", default=None)
    args = ap.parse_args(argv)

    spark = get_spark("corpus_job", cores=args.cores)
    if args.synthesize:
        from symspellpy_spark.sources.pages import synthesize_pages

        pages = synthesize_pages(spark, n_docs=args.synthesize)
        pages = pages.localCheckpoint(eager=True)
    else:
        pages = spark.read.parquet(args.input)
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
    else:
        # deterministic stand-in: ~2% of pages by url hash
        bench = pages.where(F.pmod(F.xxhash64("url"), F.lit(50)) == 0)

    t0 = time.perf_counter()
    corpus, metrics = run_corpus_stages(
        spark,
        pages,
        bench,
        checkpoint=args.checkpoint,
        mix=parse_mix(args.mix),
        max_boiler=args.max_boiler,
        contam_grams=args.contam_grams,
        seg_len=args.seg_len,
        min_docs=args.min_docs,
        gopher=args.gopher,
        dedup_spans=args.dedup_spans,
        scrub_pii=args.scrub_pii,
    )

    corpus.write.mode("overwrite").parquet(os.path.join(args.output, "corpus"))
    metrics["wall_sec"] = round(time.perf_counter() - t0, 3)
    by_lang = {
        r["lang"]: r["n"]
        for r in corpus.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    metrics["by_lang"] = by_lang
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
