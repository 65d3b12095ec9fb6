"""Repository benchmark: closed-loop, single-client passes over one workload.

Run from the repository root:

    python3 perfbench/run.py --workload hmm_root --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``hmm_root``: ROOT NanoAOD bytes -> stage 1 -> partitioned Parquet ->
  MVA scores -> stage-2 histograms -> stage 3, TH1 templates, datacard
  and fits (``perfbench/hmm_root.py``);
- ``corpus_pretrain``: ``pipeline_pretrain_corpus_e2e`` on a clean
  Caesar-replica corpus (``perfbench/corpus.py``).

One process starts one Spark session on ``local[N]``, N = min(4, usable
cores), generates the workload's inputs from ``--seed``, runs the
workload's warm-up passes while the DuckDB oracle computes the expected
output, and then times passes back to back until ``--seconds`` have
passed and the workload's minimum of passes is timed.  Every pass is
checked against the oracle; a mismatch or a failed pass counts in
``failed`` and makes the exit code non-zero.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (session start,
median input generation of several repetitions, and warm-up), ``pass_s``
(median pass wall time), ``cpu_s`` (median CPU seconds of the whole
process tree per pass), ``peak_rss_mb`` (peak resident memory of the
process tree during the timed passes, as summed PSS) and ``items_per_s``
(input events, or documents, divided by ``pass_s``).

``--trace 1`` alternates traced and untraced passes.  A traced pass
records one span around each call into a layer's public function and
materializes each layer's input outside that layer's span; it prints the
per-layer metrics ``<module>.<call>.<quantity>`` (medians over traced
passes; a layer the workload never calls reads 0) plus pass-level
counters, and ``trace.overhead_s``: the traced minus the untraced median
pass time.  The overhead includes the Spark stage fusion lost at each
materialization.

Each run writes its record (host fingerprint, source digest, git commit
when available, seed, input sizes, every pass) and, when traced, its
spans to ``.perfbench_out/``.  ``perfbench/compare.py`` compares two
records and refuses when their host fingerprints differ.  All temporary
files live under ``.perfbench_work/`` in the repository root and are
removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

# input sizes, fixed so every run of a workload does the same work (each
# workload class sets its warm-up and timed passes); chosen on a 4-core
# host so one run takes about a minute.  Passes of both workloads are
# mostly fixed Spark, Python-worker and fit costs: an hmm_root pass takes
# about as long at 25k events as at 100k.
HMM_EVENTS = 50_000
CORPUS_BASE_DOCS = 750
CORPUS_REPLICAS = 2
INPUT_REPEATS = 3
DEADLINE_S = 120.0  # start no pass after this; a run must end within 180 s

UNITS = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "items_per_s": "1/s"}

# per-layer metrics: span name -> quantities recorded on that span
LAYERS = {
    "root_ingest.scan_entries": ("wall_s",),
    "root_ingest.read_nanoaod": ("wall_s", "cpu_py_s", "tasks", "bytes_read", "events"),
    "pipeline.stage1_arrays": ("wall_s", "cpu_py_s", "cpu_jvm_s", "rows_out"),
    "parquet_io.write_partitioned": ("wall_s", "bytes_written", "files"),
    "parquet_io.read_partitioned": ("wall_s",),
    "inference.attach_hmm_scores": ("wall_s", "cpu_py_s"),
    "pipeline.stage2_variations": ("wall_s", "cells_out"),
    "pipeline.stage3": ("wall_s",),
    "templates.write_root_templates": ("wall_s", "bytes_written"),
    "templates.make_datacard": ("wall_s",),
    "fits.fit_families_all": ("wall_s", "fits_finite", "fits_attempted"),
    "text.gopher_filter": ("wall_s", "docs_out"),
    "dedup.minhash_signatures": ("wall_s",),
    "dedup.lsh_pairs": ("wall_s", "pairs"),
    "graph.connected_components": ("wall_s", "jobs", "clusters"),
    "training.contamination_screen": ("wall_s",),
    "training.pretrain_e2e": ("wall_s", "jobs", "tasks", "docs_out"),
}
PASS_LEVEL = ("spark.jobs", "spark.tasks", "jvm.gc_s", "cpu.jvm_s", "cpu.python_s",
              "codegen.compiles", "pass.self_s", "trace.overhead_s")


def per_layer_names() -> list[str]:
    return [f"{s}.{q}" for s, qs in LAYERS.items() for q in qs] + list(PASS_LEVEL)


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes_read") or name.endswith("bytes_written"):
        return "bytes"
    return "count"


def _isolate(workdir: str) -> None:
    """Keep every file Spark, the JVM and Python write under workdir."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = tmp


def source_digest() -> str:
    """sha256 over the package sources: identifies the code under test
    when the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "copperhead_spark")
    for d, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(d, n)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        res = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return res.stdout.strip() or None


def host_fingerprint(spark) -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "jdk": spark._jvm.java.lang.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
    }


def make_workload(name: str, workdir: str, seed: int):
    if name == "hmm_root":
        from perfbench.hmm_root import HmmRoot

        return HmmRoot(HMM_EVENTS, workdir, seed)
    if name == "corpus_pretrain":
        from perfbench.corpus import CorpusPretrain

        return CorpusPretrain(CORPUS_BASE_DOCS, CORPUS_REPLICAS, workdir, seed)
    raise SystemExit(f"unknown workload {name!r}")


def _stop_spark(spark, tree) -> None:
    """Stop the session, end the JVM and wait for every descendant."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while time.time() < deadline and tree.descendants():
        time.sleep(0.2)


class Runner:
    def __init__(self, spark, wl, tree, expected):
        """``expected``: a future of (oracle output, oracle seconds)."""
        self.spark = spark
        self.wl = wl
        self.tree = tree
        self.expected = expected
        self.passes: list[dict] = []
        self.errors: list[str] = []

    def one_pass(self, tracer, phase: str) -> dict:
        from perfbench.probe import codegen_compiles, gc_seconds, group_counts

        sc = self.spark.sparkContext
        group = f"pass-{len(self.passes)}"
        tracer.pass_id = len(self.passes)
        rec = {"id": len(self.passes), "phase": phase, "traced": tracer.enabled}
        cpu0, gc0 = self.tree.cpu(), gc_seconds(self.spark)
        cg0 = codegen_compiles(self.spark)
        ok = False
        out = None
        with tracer.span("pass") as pspan:
            if not tracer.enabled:
                sc.setJobGroup(group, "pass")
            t0 = time.perf_counter()
            try:
                out = self.wl.run_pass(self.spark, tracer)
            except Exception as exc:  # noqa: BLE001 - counted as a failed pass
                self.errors.append(f"pass {rec['id']}: {type(exc).__name__}: {exc}")
            rec["wall_s"] = time.perf_counter() - t0
        cpu1, gc1 = self.tree.cpu(), gc_seconds(self.spark)
        rec["codegen_compiles"] = codegen_compiles(self.spark) - cg0
        if out is not None:
            err = self.wl.check(out, self.expected.result()[0])
            ok = not err
            if err:
                self.errors.append(f"pass {rec['id']}: {err}")
        rec.update(
            ok=ok,
            cpu_jvm_s=cpu1["jvm"] - cpu0["jvm"],
            cpu_python_s=cpu1["python"] - cpu0["python"],
            gc_s=gc1 - gc0,
        )
        rec["cpu_s"] = rec["cpu_jvm_s"] + rec["cpu_python_s"]
        if tracer.enabled:
            spans = [s for s in tracer.spans if s["pass_id"] == rec["id"]]
            rec["jobs"] = sum(s["jobs"] for s in spans)
            rec["tasks"] = sum(s["tasks"] for s in spans)
            rec["span_id"] = pspan["id"]
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec["jobs"], rec["tasks"] = group_counts(self.spark, group)
        self.passes.append(rec)
        return rec


def _timed(fn):
    t0 = time.perf_counter()
    return fn(), time.perf_counter() - t0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer, traced: list[dict], untraced: list[dict]) -> tuple[dict, dict]:
    """Per-layer metrics (medians over traced passes) and the span-sum
    check for the trace file."""
    by_pass: dict[int, dict[str, dict]] = {}
    for s in tracer.spans:
        by_pass.setdefault(s["pass_id"], {})[s["name"]] = s
    vals: dict[str, list[float]] = {n: [] for n in per_layer_names()}
    checks = []
    for p in traced:
        spans = by_pass.get(p["id"], {})
        for name, qs in LAYERS.items():
            for q in qs:
                vals[f"{name}.{q}"].append(float(spans[name].get(q, 0)) if name in spans else 0.0)
        top = spans["pass"]
        kids = sorted(
            (s for s in tracer.spans if s["parent"] == top["id"]), key=lambda s: s["start"]
        )
        child_s = sum(s["wall_s"] for s in kids)
        disjoint = all(a["end"] <= b["start"] for a, b in zip(kids, kids[1:]))
        inside = all(top["start"] <= s["start"] and s["end"] <= top["end"] for s in kids)
        self_s = top["wall_s"] - child_s
        checks.append({"pass_id": p["id"], "pass_s": top["wall_s"], "layers_s": child_s,
                       "self_s": self_s, "adds_up": disjoint and inside and self_s >= 0})
        vals["pass.self_s"].append(self_s)
        vals["spark.jobs"].append(p["jobs"])
        vals["spark.tasks"].append(p["tasks"])
        vals["jvm.gc_s"].append(p["gc_s"])
        vals["cpu.jvm_s"].append(p["cpu_jvm_s"])
        vals["cpu.python_s"].append(p["cpu_python_s"])
        vals["codegen.compiles"].append(p["codegen_compiles"])
    overhead = _median([p["wall_s"] for p in traced]) - _median([p["wall_s"] for p in untraced])
    vals["trace.overhead_s"] = [overhead]
    metrics = {n: {"value": _median(v), "unit": unit_of(n)} for n, v in vals.items()}
    summary = {
        "overhead_s": overhead,
        "overhead_note": "traced minus untraced median pass time; includes the "
        "Spark stage fusion lost where each layer's output is materialized",
        "spans_add_up": all(c["adds_up"] for c in checks),
        "passes": checks,
    }
    return metrics, summary


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("hmm_root", "corpus_pretrain"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    if not os.path.isfile(os.path.join(ROOT, "copperhead_spark", "__init__.py")):
        print(f"perfbench: no copperhead_spark package under {ROOT}", file=sys.stderr)
        return 2

    # SIGTERM unwinds like an exception, so the finally blocks stop Spark
    # and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.perf_counter()
    workdir = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(workdir)
    try:
        _isolate(workdir)
        sys.path.insert(0, ROOT)
        return _run(args, workdir, t_start)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        parent = os.path.dirname(workdir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _run(args, workdir: str, t_start: float) -> int:
    from copperhead_spark.session import get_spark
    from perfbench.probe import ProcTree, RssSampler, Tracer

    tree = ProcTree()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={"spark.local.dir": os.environ["SPARK_LOCAL_DIRS"]},
    )
    try:
        session_s = time.perf_counter() - t0
        wl = make_workload(args.workload, workdir, args.seed)

        gen_s = []
        for _ in range(INPUT_REPEATS):
            t0 = time.perf_counter()
            wl.make_inputs(spark)
            gen_s.append(time.perf_counter() - t0)

        # the DuckDB oracle releases the GIL, so it runs beside the warm-up
        # pass; the first check waits for it
        oracle = ThreadPoolExecutor(max_workers=1)
        expected = oracle.submit(_timed, wl.oracle)
        oracle.shutdown(wait=False)

        untraced = Tracer(spark, tree, enabled=False)
        traced = Tracer(spark, tree, enabled=True)
        runner = Runner(spark, wl, tree, expected)
        t0 = time.perf_counter()
        for _ in range(wl.warmup_passes):
            runner.one_pass(untraced, "warmup")
        warmup_s = time.perf_counter() - t0
        oracle_s = expected.result()[1]
        setup_s = session_s + statistics.median(gen_s) + warmup_s

        with RssSampler(tree) as rss:
            rss.reset()
            t_window = time.perf_counter()
            timed: list[dict] = []
            # trace mode alternates traced and untraced passes, traced first,
            # and times one of each at least
            need = max(wl.min_timed_passes, 2 if args.trace else 1)
            while len(timed) < need or time.perf_counter() - t_window < args.seconds:
                if time.perf_counter() - t_start > DEADLINE_S and len(timed) >= need:
                    break
                tr = traced if args.trace and len(timed) % 2 == 0 else untraced
                timed.append(runner.one_pass(tr, "timed"))
            peak_rss = rss.peak_mb
        fingerprint = host_fingerprint(spark)
    finally:
        _stop_spark(spark, tree)

    attempted = len(runner.passes)
    failed = sum(not p["ok"] for p in runner.passes)
    plain = [p for p in timed if not p["traced"]]
    items = wl.sizes[wl.items]
    pass_s = _median([p["wall_s"] for p in plain])
    e2e = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "cpu_s": _median([p["cpu_s"] for p in plain]),
        "peak_rss_mb": peak_rss,
        "items_per_s": items / pass_s if pass_s else 0.0,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": fingerprint,
        "source_digest": source_digest(),
        "git_commit": git_commit(),
        "sizes": wl.sizes,
        "items": wl.items,
        "setup": {"session_s": session_s, "input_gen_s": gen_s, "oracle_s": oracle_s,
                  "warmup_s": warmup_s},
        "end_to_end": e2e,
        "error_rate": failed / attempted if attempted else 1.0,
        "errors": runner.errors,
        "passes": runner.passes,
    }
    if args.trace:
        t_passes = [p for p in timed if p["traced"]]
        metrics, summary = layer_metrics(traced, t_passes, plain)
        record["per_layer"] = metrics
        record["trace_summary"] = summary
        out = {"metrics": metrics}
    else:
        out = {"metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}}

    os.makedirs(OUT_DIR, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT_DIR, f"{stem}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        with open(os.path.join(OUT_DIR, f"{stem}-spans.json"), "w") as fh:
            spans = [
                {k: v - t_start if k in ("start", "end") else v
                 for k, v in s.items() if k != "group"}
                for s in traced.spans
            ]
            json.dump({"summary": record["trace_summary"], "spans": spans}, fh, indent=1)

    for name, m in out["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} error_rate = {record['error_rate']:.6g} ({failed}/{attempted} passes)")
    for e in runner.errors:
        print(f"ERROR {e}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      **out}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
