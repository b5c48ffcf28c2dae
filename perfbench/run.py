#!/usr/bin/env python3
"""Benchmark of the engine: one workload per run, one Spark application.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload dedup_dense --seed 1 --seconds 20 --trace 0

Workloads: ``dedup_dense``, ``corpus_assembly``, ``symspell_correct``
(see ``workloads.py`` for what each stresses). The run

1. stamps the host with the memory-bandwidth probe (context, not a metric);
2. starts Spark at ``local[<cores>]``, builds the inputs from ``--seed``
   and runs one full-size warm-up repetition — together ``setup_s``;
3. repeats the workload until ``--seconds`` have passed, timing only the
   calls into the engine and checking every output;
4. with ``--trace 1``, spends half the time on untraced repetitions and
   half on traced ones, which put a span around each layer's public
   calls and read each span's task metrics from Spark's status store.

Human-readable lines go first; the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``), each as ``{"value", "unit"}``. Exits non-zero without
that line when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a repetition that runs longer than this is cancelled and counted failed
REP_TIMEOUT_S = 100.0
# no repetition starts after this many seconds of the run, so the
# process ends well inside three minutes
LAST_START_S = 140.0


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--workload", required=True, choices=["dedup_dense", "corpus_assembly", "symspell_correct"]
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--size", choices=["full", "tiny"], default="full", help="tiny: smoke-test inputs"
    )
    return ap.parse_args(argv)


def _line(name: str, value, unit: str) -> None:
    print(f"metric {name} = {value} {unit}", flush=True)


def _tail(samples: list[float]) -> tuple[float, float] | None:
    """-> (percentile, value): the highest percentile with at least ten
    samples above it, or None with fewer than eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    k = n - 10
    return 100.0 * k / n, sorted(samples)[k - 1]


class Bench:
    def __init__(self, args, tmp: str):
        self.args = args
        self.tmp = tmp
        self.attempted = 0
        self.failed = 0

    # ------------------------------------------------------------ set-up

    def start(self) -> None:
        from bench import host_bw_probe

        from perfbench.measure import ProcTree, SparkStats
        from perfbench.workloads import WORKLOADS
        from symspellpy_spark.session import get_spark

        print(f"host host_bw_reps = {host_bw_probe(1.0)} (5 s-equivalent; context only)", flush=True)
        self.tree = ProcTree()
        cores = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.args.workload}",
            cores=cores,
            extra_conf={
                "spark.driver.memory": "3g",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.tmp, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.sc = self.spark.sparkContext
        self.stats = SparkStats(self.spark)
        print(f"host cores = {cores}", flush=True)
        t1 = time.perf_counter()
        self.wl = WORKLOADS[self.args.workload](
            self.spark, self.args.seed, self.tmp, self.args.size
        )
        self.wl.setup()
        t2 = time.perf_counter()
        # warm-up at full input size: JIT, codegen and worker start-up
        # land here, not in the first timed repetition
        # (its output is only kept for the repetitions to reproduce)
        self.wl.prepare(-1)
        self.wl.remember(self.wl.run(-1))
        self.setup_s = time.perf_counter() - t0
        print(
            f"setup session {t1 - t0:.2f} s, inputs {t2 - t1:.2f} s, "
            f"warm-up {t0 + self.setup_s - t2:.2f} s",
            flush=True,
        )
        self.t_start = t0

    def stop(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    # -------------------------------------------------------- repetitions

    def reps(self, seconds: float, traced: bool) -> list[dict]:
        """Repeat until ``seconds`` have passed (at least once). Traced
        repetitions are numbered from 1000, so they draw other inputs
        than the untraced ones."""
        from perfbench.measure import RssSampler, Tracer, host_steal_ticks
        from perfbench.workloads import CheckFailed

        samples = []
        t_end = time.perf_counter() + seconds
        rep = first = 1000 if traced else 0
        while rep == first or (
            time.perf_counter() < t_end
            and time.perf_counter() - self.t_start < LAST_START_S
        ):
            self.wl.prepare(rep)
            group = f"rep-{rep}"
            self.sc.setJobGroup(group, group, True)
            timer = threading.Timer(REP_TIMEOUT_S, self.sc.cancelJobGroup, [group])
            tracer = Tracer(self.spark, self.tree) if traced else None
            self.attempted += 1
            rep += 1
            timer.start()
            try:
                with RssSampler(self.tree) as rss:
                    roles0 = self.tree.cpu_by_role()
                    steal0 = host_steal_ticks()
                    t0 = time.perf_counter()
                    if traced:
                        with tracer.span(self.wl.root_span):
                            out = self.wl.traced(rep - 1, tracer)
                    else:
                        out = self.wl.run(rep - 1)
                    dt = time.perf_counter() - t0
                    roles = {k: v - roles0[k] for k, v in self.tree.cpu_by_role().items()}
                    steal = [b - a for a, b in zip(steal0, host_steal_ticks())]
                    cpu = sum(roles.values())
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setJobDescription(None)
                self.wl.check(rep - 1, out)
            except CheckFailed as e:
                self.failed += 1
                print(f"# {group} FAILED CHECK: {e}", flush=True)
                continue
            except Exception:  # noqa: BLE001 — a failed repetition is counted, not fatal
                self.failed += 1
                print(f"# {group} FAILED:", flush=True)
                traceback.print_exc()
                continue
            finally:
                timer.cancel()
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            s = {"run_s": dt, "cpu_s": cpu, "rss": rss.peak, "spark": self.stats.totals(group)}
            if traced:
                s["layers"] = self._layers(tracer, group, out)
            samples.append(s)
            parts = sorted(rss.peak_by_pid.values(), reverse=True)
            print(
                f"# {group}: {dt:.3f} s, {cpu:.2f} cpu-s "
                f"({', '.join(f'{k} {v:.2f}' for k, v in roles.items())}), "
                f"host steal {steal[0] / max(steal[1], 1):.1%} of cpu time, "
                f"{s['spark']['shuffle_bytes']} shuffle bytes, {s['spark']['jobs']} jobs, "
                f"peak rss {rss.peak / 2**20:.0f} MB over {len(parts)} processes "
                f"(largest {', '.join(f'{p / 2**20:.0f}' for p in parts[:4])} MB)",
                flush=True,
            )
        return samples

    def _layers(self, tracer, group: str, out) -> dict[str, float]:
        from perfbench.layers import LAYERS, TIME_NAME

        own: dict[int, dict] = {}
        job_span: dict[int, int] = {}
        for jid, desc, m in self.stats.jobs(self.stats.job_ids(group)):
            if desc.startswith("perfbench#"):
                job_span[jid] = int(desc[len("perfbench#") :])
                d = own.setdefault(job_span[jid], {"jobs": 0})
                d["jobs"] += 1
                for k, v in m.items():
                    d[k] = d.get(k, 0) + v
        for sid, io in self.stats.python_io(job_span).items():
            own[sid].update(io)
        spans = tracer.spans
        kids: dict[int, list] = {}
        for sp in spans:
            kids.setdefault(sp.parent, []).append(sp)

        def total(sp) -> dict:
            t = dict(own.get(sp.sid, {"jobs": 0}))
            for c in kids.get(sp.sid, ()):
                for k, v in total(c).items():
                    t[k] = t.get(k, 0) + v
            return t

        def jobs_in(name: str) -> int:
            return sum(own.get(sp.sid, {}).get("jobs", 0) for sp in spans if sp.name == name)

        out_m: dict[str, float] = {}
        for layer in LAYERS:
            matched = [sp for sp in spans if sp.name == layer]
            tots = [total(sp) for sp in matched]
            s = sum(sp.s for sp in matched)
            out_m.update(
                {
                    f"{layer}.{TIME_NAME.get(layer, 's')}": s,
                    f"{layer}.cpu_s": sum(sp.cpu_s for sp in matched),
                    f"{layer}.jobs": sum(t.get("jobs", 0) for t in tots),
                    f"{layer}.shuffle_bytes": sum(t.get("shuffle_bytes", 0) for t in tots),
                    f"{layer}.spill_bytes": sum(t.get("disk_spill_bytes", 0) for t in tots),
                    f"{layer}.fetch_wait_s": sum(t.get("fetch_wait_ms", 0) for t in tots) / 1000,
                    f"{layer}.py_bytes_in": sum(t.get("py_bytes_in", 0) for t in tots),
                    f"{layer}.py_bytes_out": sum(t.get("py_bytes_out", 0) for t in tots),
                }
            )
        out_m["pipeline.metric_jobs"] = jobs_in("pipeline.metric")
        # a proxy for the iterations of connected components: its own jobs
        # only, not the benchmark's materialization of its output (which
        # runs in the child span ``cluster.output``)
        out_m["cluster.jobs"] = jobs_in("cluster")
        root = spans[0]
        out_m["trace.uncovered_s"] = root.s - sum(c.s for c in kids.get(root.sid, ()))
        out_m["spark.failed_tasks"] = sum(d.get("failed_tasks", 0) for d in own.values())
        out_m.update(self.wl.layer_counts(out))
        for sp in spans:
            self_s, self_cpu = tracer.self_time(sp)
            o = own.get(sp.sid, {})
            print(
                f"# span {sp.sid:3d} parent={sp.parent} {sp.name:32s} {sp.s:8.3f} s "
                f"self {self_s:7.3f} s cpu {sp.cpu_s:7.2f} s self-cpu {self_cpu:7.2f} s | "
                f"own jobs {o.get('jobs', 0)}, shuffle {o.get('shuffle_bytes', 0)} B, "
                f"jvm task cpu {o.get('executor_cpu_ns', 0) / 1e9:.2f} s, "
                f"records in {o.get('input_records', 0)} out {o.get('output_records', 0)}, "
                f"python in {o.get('py_bytes_in', 0):.0f} B out {o.get('py_bytes_out', 0):.0f} B",
                flush=True,
            )
        return out_m

    # ------------------------------------------------------------ results

    def end_to_end(self, samples: list[dict]) -> dict[str, float]:
        run_s = [s["run_s"] for s in samples]
        med = statistics.median(run_s)
        return {
            "setup_s": self.setup_s,
            "run_s": med,
            "docs_per_s": self.wl.docs / med,
            "cpu_s": statistics.median(s["cpu_s"] for s in samples),
            "shuffle_bytes": statistics.median(s["spark"]["shuffle_bytes"] for s in samples),
            "peak_rss_mb": max(s["rss"] for s in samples) / 2**20,
        }

    def report(self, untraced: list[dict], traced: list[dict]) -> dict:
        from perfbench.layers import END_TO_END, LINE_ONLY, PER_LAYER

        print(f"samples run_s n = {len(untraced)}", flush=True)
        e2e = self.end_to_end(untraced) if untraced else dict.fromkeys(END_TO_END, 0.0)
        for k, unit in END_TO_END.items():
            _line(k, e2e[k], unit)
        tail = _tail([s["run_s"] for s in untraced])
        if tail is None:
            print(f"metric run_s_tail = n/a (fewer than 11 samples: {len(untraced)})")
        else:
            _line(f"run_s_p{tail[0]:.0f}", tail[1], "s")
        _line("error_rate", self.failed / max(self.attempted, 1), "ratio")
        for k, v in self.wl.quality.items():
            _line(k, v, "ratio")
        tok_rep, doc_rep = self.wl.repeat_shares
        if not self.args.trace:
            _line("inputs.token_repeat_share", tok_rep, "ratio")
            _line("inputs.doc_repeat_share", doc_rep, "ratio")
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        else:
            layers: dict[str, float] = {}
            if traced:
                for k in traced[0]["layers"]:
                    layers[k] = statistics.median(s["layers"].get(k, 0.0) for s in traced)
                t_med = statistics.median(s["run_s"] for s in traced)
                _line("run_s_traced", t_med, "s")
                if untraced:
                    layers["trace.overhead_s"] = t_med - e2e["run_s"]
            layers["inputs.token_repeat_share"] = tok_rep
            layers["inputs.doc_repeat_share"] = doc_rep
            for k, v in self.wl.quality.items():
                layers[f"quality.{k}"] = v
            metrics = {
                k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()
            }
            for k, m in metrics.items():
                _line(k, m["value"], m["unit"])
            for k, u in LINE_ONLY.items():
                if k in layers:
                    _line(k, layers[k], u)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def _remove_tmp(tmp: str) -> None:
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(tmp))  # only when no other run uses it
    except OSError:
        pass


def main(argv=None) -> int:
    args = parse_args(argv)
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    # everything the run writes stays inside the checkout
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path[:0] = [ROOT]
    try:
        import bench  # noqa: F401 — host_bw_probe
        import symspellpy_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        _remove_tmp(tmp)
        return 2
    b = Bench(args, tmp)
    try:
        b.start()
        if args.trace:
            untraced = b.reps(args.seconds / 2, traced=False)
            traced = b.reps(args.seconds / 2, traced=True)
        else:
            untraced, traced = b.reps(args.seconds, traced=False), []
        result = b.report(untraced, traced)
    finally:
        b.stop()
        _remove_tmp(tmp)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
