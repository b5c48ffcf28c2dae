"""Supplementary benchmarks for the round-6 optimization work (guide §1.4).

NOT part of the frozen driver surface (bench.py is the measured harness;
this file exists so the round's phase-level numbers are reproducible):

- ``python bench_extra.py phases``  — noop-sink isolation of the flagship
  pipeline's internal phases over the bench-shaped 60k-doc corpus:
  signature kernel alone, each candidate source, the candidate union,
  the two verify phases, connected components, and the
  metrics-on/metrics-off delta. Every figure is stamped with the
  BASELINE.md host-bandwidth probe because this VM's multicore
  throughput swings up to ~10x between phases (see PROBELOG_r05.md) —
  compare readings only within a run.
- ``python bench_extra.py pipeline [reps]`` — bench.py's exact
  run_pipeline stage loop (sig/edges/clusters wall), best-of-reps, for
  quick before/after spot checks.

Env: SPARK_GRAFT_CPUS (default 32), BENCH_EXTRA_DOCS (default 60000).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import host_bw_probe  # noqa: E402
from symspellpy_spark.session import get_spark  # noqa: E402


def _corpus(spark, n_docs: int):
    import shutil

    from symspellpy_spark.sources.pages import synthesize_pages

    scratch = ("/dev/shm" if os.path.isdir("/dev/shm") else "/tmp") + "/spark_graft_bx"
    path = os.path.join(scratch, f"pages_{n_docs}")
    if not os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
        synthesize_pages(
            spark, n_docs=n_docs, n_base=n_docs // 4, seed=42,
            min_tokens=80, max_tokens=400,
        ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _warm(spark):
    from symspellpy_spark.plans.pipeline import DedupConfig, DedupPipeline
    from symspellpy_spark.sources.pages import synthesize_pages

    warm = synthesize_pages(
        spark, n_docs=4000, n_base=1000, seed=7, min_tokens=80, max_tokens=400
    ).localCheckpoint(eager=True)
    DedupPipeline(spark, DedupConfig()).clusters(warm).count()


def cmd_phases() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("BENCH_EXTRA_DOCS", "60000"))
    spark = get_spark("bench_extra", cores=cpus)
    from pyspark.sql import functions as F

    from symspellpy_spark.operators.dedup import (
        exact_duplicates_from_hash,
        jaccard_verify,
        lsh_candidate_pairs,
        simhash_candidate_pairs,
        substring_pairs_from_grams,
    )
    from symspellpy_spark.plans.pipeline import DedupConfig, DedupPipeline

    pages = _corpus(spark, n_docs)
    _warm(spark)
    out: dict = {"probe": host_bw_probe(2.0), "docs": n_docs, "cpus": cpus}

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def timed(name, fn, reps=2):
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        out[name] = round(best, 3)
        print(f"{name}: {best:.3f}s", flush=True)

    pipe = DedupPipeline(spark, DedupConfig(), collect_metrics=False)
    c = pipe.config
    from symspellpy_spark.operators.dedup import text_to_signatures

    spark.sparkContext.setJobDescription("kernel_noop")
    timed(
        "signature_kernel_noop",
        lambda: noop(
            text_to_signatures(
                pipe._pages64(pages), k=c.shingle_k, num_perm=c.num_perm,
                seed=c.minhash_seed, n_bands=c.bands,
                substring_gram_len=c.substring_gram_len,
                substring_sample_mod=c.substring_sample_mod,
                emit_text_hash=True,
            )
        ),
    )
    spark.sparkContext.setJobDescription("signatures_stage")
    sig = pipe.signatures(pages)
    timed("signatures_stage_count", lambda: sig.count(), reps=1)
    narrow = pipe._signatures_narrow(pages)
    narrow.count()
    spark.sparkContext.setJobDescription("sources")
    timed("lsh_pairs_noop", lambda: noop(lsh_candidate_pairs(
        narrow, bands=c.bands, num_perm=c.num_perm,
        max_bucket_size=c.max_bucket_size, bands_col="bands", dedupe=False)))
    timed("simhash_pairs_noop", lambda: noop(simhash_candidate_pairs(
        narrow, max_hamming=c.simhash_max_hamming,
        max_bucket_size=c.max_bucket_size, dedupe=False)))
    timed("substring_pairs_noop", lambda: noop(substring_pairs_from_grams(
        sig, max_bucket_size=c.max_bucket_size, count_shared=False)))
    timed("exact_pairs_noop", lambda: noop(exact_duplicates_from_hash(sig)))
    spark.sparkContext.setJobDescription("union+verify")
    pairs = pipe.candidate_pairs(pages).localCheckpoint(eager=True)
    out["candidate_pairs_rows"] = pairs.count()
    timed("candidate_union_noop", lambda: noop(pipe.candidate_pairs(pages)))
    timed("jaccard_verify_noop", lambda: noop(jaccard_verify(
        pairs, sig, threshold=c.jaccard_threshold, two_phase=True)))
    spark.sparkContext.setJobDescription("edges+clusters")
    pipe2 = DedupPipeline(spark, DedupConfig(), collect_metrics=False)
    pipe2._memo["signatures"] = sig
    pipe2._memo["sig_narrow"] = narrow
    timed("edges_count", lambda: pipe2.edges(pages).count(), reps=1)
    timed("clusters_count", lambda: pipe2.clusters(pages).count(), reps=1)
    spark.sparkContext.setJobDescription("full metrics on/off")
    timed("full_clusters_metrics_off", lambda: DedupPipeline(
        spark, DedupConfig(), collect_metrics=False).clusters(pages).count(),
        reps=1)
    timed("full_clusters_metrics_on", lambda: DedupPipeline(
        spark, DedupConfig()).clusters(pages).count(), reps=1)
    out["probe_end"] = host_bw_probe(2.0)
    import json

    print(json.dumps(out))
    spark.stop()


def cmd_pipeline(reps: int = 2) -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("BENCH_EXTRA_DOCS", "60000"))
    spark = get_spark("bench_extra", cores=cpus)
    from symspellpy_spark.plans.pipeline import DedupConfig, DedupPipeline

    pages = _corpus(spark, n_docs)
    _warm(spark)
    p0 = host_bw_probe(2.0)
    best = None
    for _ in range(reps):
        pipe = DedupPipeline(spark, DedupConfig())
        t0 = time.perf_counter()
        pipe.signatures(pages).count()
        t1 = time.perf_counter()
        pipe.edges(pages).count()
        t2 = time.perf_counter()
        pipe.clusters(pages).count()
        t3 = time.perf_counter()
        cur = (t1 - t0, t2 - t1, t3 - t2, t3 - t0)
        if best is None or cur[3] < best[3]:
            best = cur
    import json

    print(json.dumps({
        "probe": p0, "probe_end": host_bw_probe(2.0), "docs": n_docs, "cpus": cpus,
        "signatures": round(best[0], 3), "edges": round(best[1], 3),
        "clusters": round(best[2], 3), "total": round(best[3], 3),
    }))
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "phases"
    if cmd == "phases":
        cmd_phases()
    elif cmd == "pipeline":
        cmd_pipeline(int(sys.argv[2]) if len(sys.argv) > 2 else 2)
    else:
        raise SystemExit(f"unknown command {cmd!r}")
