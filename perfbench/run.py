"""Benchmark runner: one seeded workload, one JSON result line.

    python3 perfbench/run.py --workload kg_corpus --seed 1 --seconds 14 \\
        --trace 0

Run from the repository root. The run makes its inputs from ``--seed``
(every build reads its own distinct input), starts one local Spark
session with ``local[nproc]``, runs one cold build (set-up) and the
workload's untimed warm-up builds, then times a fixed number of builds
back to back (a closed loop with one client): ``--seconds`` divided by
the workload's nominal build wall, rounded up, so every run of a
workload does the same work however fast the host is at the moment.
Finally it checks every timed build's output.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` writes an
uncompressed Spark event log, runs an entry-point build, a
layer-by-layer build (workloads.py) and another entry-point build, and
prints the per-layer metrics.
The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it holds the run's context (host, versions,
CPU probe, samples). See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import math
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback

WORK_ROOT = ".perfbench_work"
CACHE_DIR = ".perfbench_cache/kg_oracle"
CPU_PROBE_WORK = 1_000_000

KG_LAYERS = [
    "pipeline.normalize_corpus", "phrases.extract_doc_features",
    "phrases.unified_term_counts", "phrases.dictionary",
    "linking.link_terms", "hierarchy.optimise_graph",
    "triples.build_triples", "triples.write_triples",
]
DEDUP_LAYERS = [
    "dedup.exact_dedup", "dedup.token_shingles", "dedup.minhash_wide",
    "dedup.lsh_candidate_pairs_from_wide", "dedup.verify_jaccard",
    "dedup.anti_join", "dedup.write",
]
FAQ_LAYERS = [
    "faq.parse_json_export", "export.build_export",
    "export.write_export_json",
]
PYTHON_LAYERS = [
    "pipeline.normalize_corpus", "phrases.extract_doc_features",
    "linking.link_terms",
]
SHUFFLE_LAYERS = [
    "phrases.unified_term_counts", "hierarchy.optimise_graph",
    "triples.build_triples", "dedup.exact_dedup", "dedup.minhash_wide",
    "dedup.lsh_candidate_pairs_from_wide", "dedup.verify_jaccard",
]
SPILL_LAYERS = ["dedup.lsh_candidate_pairs_from_wide", "dedup.verify_jaccard"]
BUILD_METRICS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.sched_idle_share": "ratio",
    "cache.persistent_rdds_after": "count", "cache.cached_mb_after": "MB",
    "trace.overhead_ratio": "ratio",
}
END_TO_END = {
    "docs_per_s": "docs/s", "latency_p50_s": "s", "setup_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    units: dict[str, str] = {}
    for layer in KG_LAYERS + DEDUP_LAYERS + FAQ_LAYERS:
        units[f"{layer}.wall_s"] = "s"
        units[f"{layer}.task_s"] = "s"
        units[f"{layer}.stages"] = "count"
        units[f"{layer}.rows_out"] = "rows"
        if layer in PYTHON_LAYERS:
            units[f"{layer}.python_s"] = "s"
        if layer in SHUFFLE_LAYERS:
            units[f"{layer}.shuffle_write_mb"] = "MB"
        if layer in SPILL_LAYERS:
            units[f"{layer}.spill_mb"] = "MB"
    units["dedup.verify_jaccard.useful_ratio"] = "ratio"
    units.update(BUILD_METRICS)
    return units


def input_seed(seed: int, workload: str, build: int) -> int:
    """Distinct, reproducible input seed for build ``build`` of a run."""
    digest = hashlib.sha256(f"{workload}:{seed}:{build}".encode()).digest()
    return int.from_bytes(digest[:8], "little")


def cpu_probe(root: str) -> float | None:
    """Wall of BENCH/cpu_probe.py's fixed-work loop on one core."""
    path = os.path.join(root, "BENCH", "cpu_probe.py")
    if not os.path.exists(path):
        return None
    spec = importlib.util.spec_from_file_location("cpu_probe", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._burn(CPU_PROBE_WORK)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host's ``cpu`` line in /proc/stat:
    steal is time a virtual CPU waited for the hypervisor."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def start_session(work: str, nproc: int, event_log: str | None):
    from knowledgegraphgenerator_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every temporary file inside the work directory: Python
    # workers inherit TMPDIR through the JVM, and JAVA_TOOL_OPTIONS
    # reaches the spark-submit launcher JVM as well as the driver
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    conf = {
        "spark.driver.memory": "2g",
        # a heap fixed at its maximum and resident from the start: no
        # run's speed or resident size depends on when G1 chose to grow
        # the heap or how far the young generation has cycled through it
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log}",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{nproc}]",
        shuffle_partitions=nproc, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload, seed: int, seconds: float, trace: bool,
                 work: str):
        self.w = workload
        self.seed = seed
        self.trace = trace
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        # enough builds to fill ``seconds`` at the nominal build wall
        self.n_builds = max(1, math.ceil(seconds / workload.build_s))
        if trace:
            # entry, traced, entry: the layer-by-layer build sits between
            # two entry-point builds, so the overhead ratio compares
            # equally warm builds
            self.n_builds = 3
        self.builds: list[dict] = []  # timed builds, in order

    def _input(self, i: int):
        return self.w.make_input(
            input_seed(self.seed, self.w.name, i),
            os.path.join(self.work, f"in{i}"),
        )

    def execute(self) -> tuple[dict, dict]:
        from ledger import RssSampler, Tracer, cache_state, stop_spark

        event_log = os.path.join(self.work, "eventlog") if self.trace else None
        inp0 = self._input(0)
        t0 = time.perf_counter()
        spark = start_session(self.work, self.nproc, event_log)
        session_s = time.perf_counter() - t0
        try:
            self.w.build(spark, inp0, os.path.join(self.work, "out0"))
            setup_s = time.perf_counter() - t0
            # untimed warm-up builds: walls fall steeply over the first
            # builds after the cold one and vary most from run to run
            # there
            for j in range(self.w.warmup):
                inp = self._input(self.n_builds + 1 + j)
                self.w.build(spark, inp, os.path.join(self.work, f"warm{j}"))
            tracer = Tracer(spark.sparkContext)
            rdds_before, mb_before = cache_state(spark)
            steal0, total0 = cpu_ticks()
            with RssSampler() as rss:
                for i in range(1, self.n_builds + 1):
                    kind = ("traced" if self.trace and i % 2 == 0
                            else "entry")
                    self._timed_build(spark, tracer, i, kind)
                    rss.mark()
                    rdds, mb = cache_state(spark)
                    self.builds[-1]["rdds_added"] = rdds - rdds_before
                    self.builds[-1]["cached_mb_added"] = mb - mb_before
                    rdds_before, mb_before = rdds, mb
            steal1, total1 = cpu_ticks()
        finally:
            stop_spark(spark)
        for b in self.builds:
            if b["ok"]:
                self._check(b)
        context = {
            "session_s": session_s,
            "cold_build_s": setup_s - session_s,
            "docs_per_build": inp0.n_docs,
            "builds": [{k: b[k] for k in ("kind", "wall_s", "ok")}
                       for b in self.builds],
            "peak_rss_parts_mb": rss.peak_parts_mb,
            "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        }
        if self.trace:
            return self._layer_metrics(event_log, tracer), context
        walls = [b["wall_s"] for b in self.builds if b["ok"]]
        return {
            "docs_per_s": inp0.n_docs / median(walls) if walls else 0.0,
            "latency_p50_s": median(walls),
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_mb,
        }, context

    def _timed_build(self, spark, tracer, i: int, kind: str) -> None:
        inp = self._input(i)
        out = os.path.join(self.work, f"out{i}")
        rec = {"i": i, "kind": kind, "inp": inp, "out": out, "ok": True}
        if self.trace:
            spark.sparkContext.setJobGroup(f"{i}|entry", "entry point")
        tracer.build = i
        t = time.perf_counter()
        try:
            if kind == "traced":
                self.w.traced_build(spark, tracer, inp, out)
            else:
                self.w.build(spark, inp, out)
        except Exception:  # noqa: BLE001 -- a failed build is counted
            traceback.print_exc()
            rec["ok"] = False
        rec["wall_s"] = time.perf_counter() - t
        self.builds.append(rec)
        print(f"[perfbench] {self.w.name} build {i} ({kind}): "
              f"{rec['wall_s']:.3f} s ok={rec['ok']}", file=sys.stderr)

    def _check(self, b: dict) -> None:
        try:
            self.w.check(b["inp"], b["out"])
        except Exception:  # noqa: BLE001 -- a check that cannot run fails
            traceback.print_exc()
            b["ok"] = False

    def _layer_metrics(self, event_log: str, tracer) -> dict:
        from ledger import fold_event_log

        groups = fold_event_log(event_log)
        units = per_layer_units()
        values: dict[str, list[float]] = {name: [] for name in units}
        for span in tracer.spans:
            g = groups.get(f"{span.build}|{span.layer}")
            values[f"{span.layer}.wall_s"].append(span.wall_s)
            values[f"{span.layer}.rows_out"].append(span.rows)
            values[f"{span.layer}.task_s"].append(g.run_s if g else 0.0)
            values[f"{span.layer}.stages"].append(g.stages if g else 0)
            for attr in ("python_s", "shuffle_write_mb", "spill_mb"):
                name = f"{span.layer}.{attr}"
                if name in values:
                    values[name].append(getattr(g, attr) if g else 0.0)
        rows = {(s.build, s.layer): s.rows for s in tracer.spans}
        for (build, layer), verified in rows.items():
            candidates = rows.get(
                (build, "dedup.lsh_candidate_pairs_from_wide"))
            if layer == "dedup.verify_jaccard" and candidates:
                values["dedup.verify_jaccard.useful_ratio"].append(
                    verified / candidates)
        entry = [b for b in self.builds if b["kind"] == "entry" and b["ok"]]
        traced = [b for b in self.builds if b["kind"] == "traced" and b["ok"]]
        for b in entry:
            g = groups.get(f"{b['i']}|entry")
            if g is None:
                continue
            values["spark.jobs"].append(g.jobs)
            values["spark.stages"].append(g.stages)
            values["spark.tasks"].append(g.tasks)
            values["spark.sched_idle_share"].append(
                1 - g.run_s / (b["wall_s"] * self.nproc))
            values["cache.persistent_rdds_after"].append(b["rdds_added"])
            values["cache.cached_mb_after"].append(b["cached_mb_added"])
        if entry and traced:
            values["trace.overhead_ratio"] = [
                median([b["wall_s"] for b in traced])
                / median([b["wall_s"] for b in entry])
            ]
        return {name: median(v) for name, v in values.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("knowledgegraphgenerator_spark", os.path.join("tests",
                                                               "ref_impl")):
        if not os.path.isdir(os.path.join(root, need)):
            print(f"perfbench: {need}/ not found; run from the repository "
                  "root", file=sys.stderr)
            return 2
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload](os.path.join(root, CACHE_DIR))

    os.makedirs(os.path.join(root, WORK_ROOT), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-",
                            dir=os.path.join(root, WORK_ROOT))
    cpu_start = cpu_probe(root)
    run = Run(workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        metrics, context = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    cpu_end = cpu_probe(root)

    import pyspark

    attempted = len(run.builds)
    failed = sum(not b["ok"] for b in run.builds)
    units = per_layer_units() if args.trace else END_TO_END
    context.update({
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": run.nproc, "spark": pyspark.__version__,
        "python": platform.python_version(),
        "cpu_probe_s": {"start": cpu_start, "end": cpu_end,
                        "work": CPU_PROBE_WORK},
        "failed_frac": failed / attempted,
    })
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
