"""Names and units of every metric the benchmark reports.

``END_TO_END`` and ``PER_LAYER`` are the metrics of the final JSON line
(with ``--trace 0`` and ``--trace 1``); ``BENCHMARK.json`` lists the same
names. Every workload reports every metric; a layer a workload does not
run reads 0. ``LINE_ONLY`` metrics are printed as lines but kept out of
the JSON: they move only on ``dedup_dense``, which ``BENCHMARK.json``
does not list.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "docs_per_s": "docs/s",
    "cpu_s": "s",
    "shuffle_bytes": "bytes",
    "peak_rss_mb": "MB",
}

# every traced layer also reports its spill and shuffle-fetch wait
SPAN_EXTRAS = {"spill_bytes": "bytes", "fetch_wait_s": "s"}
# bytes to and from the Python workers, for the layers whose kernels run
# there: data movement apart from kernel time
_PY_IO = {"py_bytes_in": "bytes", "py_bytes_out": "bytes"}

_LAYERS = {
    "dedup.signatures": {"s": "s", "cpu_s": "s", "docs": "count", **_PY_IO},
    "dedup.candidates": {
        "minhash_lsh.pairs": "count",
        "simhash.pairs": "count",
        "substring.pairs": "count",
        "exact.pairs": "count",
        "distinct_pairs": "count",
        "dup_ratio": "ratio",
        "lsh_dropped_buckets": "count",
        "shuffle_bytes": "bytes",
        "s": "s",
    },
    "dedup.verify": {
        "pairs_in": "count",
        "edges_out": "count",
        "useful_ratio": "ratio",
        "shuffle_bytes": "bytes",
        "cpu_s": "s",
        "s": "s",
    },
    "cluster": {"s": "s", "jobs": "count", "edges_in": "count", "components": "count"},
    "pipeline": {"jobs": "count", "s": "s"},
    **{
        f"corpus.{st}": {"s": "s", "survivors": "count", "cpu_s": "s", "shuffle_bytes": "bytes"}
        for st in (
            "url_dedup",
            "dedup",
            "boilerplate",
            "gopher",
            "decontamination",
            "dedup_spans",
            "finalize",
        )
    },
    "dictionary": {"build_s": "s", "delete_rows": "count", "shuffle_bytes": "bytes"},
    "neighborhood": {"index_s": "s"},
    "lookup": {"s": "s", "cpu_s": "s", "distinct_queries": "count", **_PY_IO},
    "compound": {"s": "s", "cpu_s": "s", "docs": "count", **_PY_IO},
    "segmentation.d0": {"s": "s", "cpu_s": "s", "docs": "count", **_PY_IO},
    "segmentation.d1": {"s": "s", "cpu_s": "s", "docs": "count", **_PY_IO},
}

PER_LAYER = {
    f"{layer}.{m}": unit
    for layer, ms in _LAYERS.items()
    for m, unit in {**ms, **SPAN_EXTRAS}.items()
}
PER_LAYER.update(
    {
        "inputs.token_repeat_share": "ratio",
        "inputs.doc_repeat_share": "ratio",
        "trace.overhead_s": "s",
        "trace.uncovered_s": "s",
        "spark.failed_tasks": "count",
        "quality.correction_accuracy": "ratio",
    }
)

# jobs the dedup pipeline spends on its own metric counts (off in the
# corpus job) and the dedup quality checks
LINE_ONLY = {
    "pipeline.metric_jobs": "count",
    "quality.dup_pair_recall": "ratio",
    "quality.cluster_precision": "ratio",
}

LAYERS = tuple(_LAYERS)
# a layer's wall-time metric is ``<layer>.s`` unless named here
TIME_NAME = {"dictionary": "build_s", "neighborhood": "index_s"}
