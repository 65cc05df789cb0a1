#!/usr/bin/env python3
"""Benchmark of the knowledge-graph engine: one workload, one seed,
one fresh JVM.

    python3 perfbench/run.py --workload kg_code --seed 1 --seconds 10 --trace 0

Set-up starts the JVM and builds the input table from the seed,
writing it to parquet. The timed pass is the first pass in the JVM,
as a user's fresh job is; its output is checked. Passes are repeated
only until ``--seconds`` have been measured, and on a 4-core host one
pass already takes longer. README.md says why there is no warm-up.

``--trace 1`` instead runs the same work split into layers, each timed
in a span with its Spark status-store counters, and prints the
per-layer table.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. A fuller report
(spans, digests, host census) is written under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
DEADLINE_S = 170.0          # cancel Spark jobs past this, so the run ends in 180 s

SETUP_LAYERS = ("session.get_spark", "corpus.generate_corpus")
PASS_LAYERS = (
    "pipeline.enrich_documents",
    "mentions",
    "tfidf.tfidf_longform",
    "concepts",
    "similarity.minhash_blocked_cosine_pairs",
    "graph",
    "triples",
    "dedup.minhash_lsh_pairs",
    "dedup.simhash_near_dup_pairs",
    "dedup.ngram_jaccard_pairs",
)
EXTRA_LAYERS = (
    "related.related_documents",
    "checkpoint.run_pipeline_checkpointed",
)
COUNTER_UNITS = {
    "wall_s": "s", "busy_s": "s", "jobs": "count", "rows_out": "count",
    "shuffle_bytes": "B", "spill_bytes": "B", "peak_mem_bytes": "B",
}
EXTRA_COUNTERS = {
    "similarity.minhash_blocked_cosine_pairs": {
        "candidate_pairs": "count", "pairs_out": "count",
        "useful_frac": "share", "buckets_over_cap": "count",
    },
    "dedup.minhash_lsh_pairs": {"shuffle_records": "count"},
    "dedup.simhash_near_dup_pairs": {"shuffle_records": "count"},
    "dedup.ngram_jaccard_pairs": {"shuffle_records": "count"},
    "checkpoint.run_pipeline_checkpointed": {"stages": "count"},
}
RUN_COUNTERS = {
    "gc_s": "s", "unattributed_s": "s", "span_coverage": "share",
    "jvm_vmhwm_mb": "MB", "workers_vmhwm_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    out = {}
    for layer in SETUP_LAYERS + PASS_LAYERS + EXTRA_LAYERS:
        units = dict(COUNTER_UNITS, **EXTRA_COUNTERS.get(layer, {}))
        out.update({f"{layer}.{c}": u for c, u in units.items()})
    out.update(RUN_COUNTERS)
    return out


END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s",
                    "cpu_s": "s"}


def since_process_start() -> float:
    """Seconds since this process was created (interpreter start
    included), from /proc/self/stat and the boot clock."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


def heap_size() -> str:
    """A quarter of the host's memory, between 1 and 6 GiB."""
    with open("/proc/meminfo") as f:
        kib = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    return f"{max(1024, min(6144, kib // 4096))}m"


class Ctx:
    def __init__(self, spark, work: str, cpus: int):
        self.spark, self.work, self.cpus = spark, work, cpus

    @staticmethod
    def time_left() -> float:
        return DEADLINE_S - since_process_start()


def stop_processes(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are
    gone; kill what is still there after 30 s."""
    from pyspark import SparkContext

    from probes import descendants

    kids = descendants()
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()     # the JVM exits at EOF on its stdin
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()

    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    t_end = time.monotonic() + 30
    while any(alive(p) for p in kids) and time.monotonic() < t_end:
        time.sleep(0.1)
    for p in kids:
        if alive(p):
            os.kill(p, signal.SIGKILL)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # everything the run writes stays under the checkout and goes away
    # with it: Spark's scratch, the JVM's temp files, inputs, outputs
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:     # another run is still using it
            pass


def run(args, work: str) -> int:
    sys.path.insert(0, ROOT)
    from pdf_knowledge_extractor_spark.hostload import foreign_compute_procs
    from pdf_knowledge_extractor_spark.session import get_spark

    import probes
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    tracer = probes.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    cpus = len(os.sched_getaffinity(0))
    with tracer.span("session.get_spark"):
        spark = get_spark(
            f"perfbench-{args.workload}", cpus=cpus,
            extra_conf={
                "spark.driver.memory": heap_size(),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
            },
        )
    sc = spark.sparkContext
    watchdog = threading.Timer(
        max(1.0, DEADLINE_S - since_process_start()), sc.cancelAllJobs
    )
    watchdog.daemon = True
    watchdog.start()
    try:
        report = measure(args, spark, Ctx(spark, work, cpus), tracer, probes,
                         WORKLOADS[args.workload])
        report["host"]["foreign_compute_procs"] = foreign_compute_procs()
        report["host"]["loadavg"] = os.getloadavg()
        if args.trace:
            from pyspark import SparkContext

            java = getattr(getattr(SparkContext._gateway, "proc", None),
                           "pid", None)
            kids = probes.descendants()
            report["metrics"]["jvm_vmhwm_mb"] = probes.vm_hwm_mb(java or 0)
            report["metrics"]["workers_vmhwm_mb"] = max(
                [probes.vm_hwm_mb(p) for p in kids if p != java] or [0.0]
            )
    finally:
        watchdog.cancel()
        stop_processes(spark)
    return emit(args, report, tracer)


def measure(args, spark, ctx, tracer, probes, workload_cls) -> dict:
    wl = workload_cls(ctx)
    if args.trace:
        tracer.store = probes.StatusStore(spark.sparkContext)
    with tracer.span("corpus.generate_corpus") as sp:
        wl.make_inputs(args.seed)
        sp.counters["rows_out"] = wl.rows
    setup_s = since_process_start()

    report = {"workload": wl.name, "seed": args.seed, "rows": wl.rows,
              "errors": [], "skipped": [], "passes": [], "digests": {},
              "host": {},
              "metrics": {"setup_s": setup_s}}
    stat0 = probes.cpu_stat()

    def one_pass(run_it, label: str) -> dict:
        probes.quiesce(spark.sparkContext)
        t_cpu, t0 = probes.tree_cpu_s(), time.perf_counter()
        rec = {"label": label}
        out = None
        try:
            with tracer.span(label):
                out = run_it()
        except Exception:
            rec["error"] = traceback.format_exc(limit=3)
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = probes.tree_cpu_s() - t_cpu
        if out is not None:
            try:
                rec["digest"], errs = wl.check(out, args.seed)
                report["digests"][label] = rec["digest"]
            except Exception:
                errs = [traceback.format_exc(limit=3)]
            if errs:
                rec["error"] = "; ".join(errs)
        report["passes"].append(rec)
        wl.reset()
        return rec

    if args.trace:
        traced = one_pass(lambda: wl.traced_pass(tracer), "pass.traced")
        try:
            wl.traced_extra(tracer, report)
        except Exception:
            report["errors"].append(traceback.format_exc(limit=3))
        ref = untraced_reference(args, wl.rows)
        if ref is not None:
            report["trace_overhead_s"] = traced["wall_s"] - ref["wall_s"]
            if ref["digest"] is not None and ref["digest"] != traced.get("digest"):
                report["errors"].append(
                    f"traced digest {traced.get('digest')} != untraced run's "
                    f"{ref['digest']}")
    else:
        # the first pass in the JVM is the measurement; later passes
        # (only when it is shorter than --seconds) are checked too
        first = one_pass(wl.timed_pass, "pass")
        measured = first["wall_s"]
        while measured < args.seconds and ctx.time_left() > 2 * first["wall_s"]:
            measured += one_pass(wl.timed_pass, "pass.again")["wall_s"]
        report["metrics"].update(wall_s=first["wall_s"],
                                 docs_per_s=wl.rows / first["wall_s"],
                                 cpu_s=first["cpu_s"])
    stat1 = probes.cpu_stat()
    hz = os.sysconf("SC_CLK_TCK")
    report["host"].update({k + "_s": (stat1[k] - stat0[k]) / hz for k in stat0})
    if len({p.get("digest") for p in report["passes"]}) > 1:
        report["errors"].append(
            f"passes of one run disagree: {report['digests']}")
    return report


def untraced_reference(args, rows: int) -> dict | None:
    """Median ``wall_s`` of the untraced runs of this workload and size
    already reported in this checkout (those of the same seed if any),
    and the output digest of the same seed's run."""
    same_seed, other, same_digest = [], [], None
    names = os.listdir(OUT_DIR) if os.path.isdir(OUT_DIR) else ()
    for name in names:
        if not (name.startswith(f"{args.workload}-seed") and "-trace0-" in name):
            continue
        try:
            with open(os.path.join(OUT_DIR, name)) as f:
                r = json.load(f)
            if r["rows"] != rows or not r["correct"]:
                continue
            wall = float(r["metrics"]["wall_s"])
            if r["seed"] == args.seed:
                same_seed.append(wall)
                same_digest = r["digests"]["pass"]
            else:
                other.append(wall)
        except (OSError, ValueError, KeyError, TypeError):
            continue
    walls = same_seed or other
    if not walls:
        return None
    return {"wall_s": statistics.median(walls), "digest": same_digest}


def layer_metrics(tracer, report) -> dict:
    """The per-layer metrics of a traced run; layers the workload does
    not run read 0."""
    tracer.finish()
    by_name = {s.name: s for s in tracer.spans}
    out = {}
    for name in per_layer_units():
        layer, _, counter = name.rpartition(".")
        span = by_name.get(layer)
        out[name] = float(span.counters.get(counter, 0)) if span else 0.0
    traced = by_name.get("pass.traced")
    if traced is not None:
        kids = sum(s.duration for s in tracer.spans if s.parent == "pass.traced")
        out["gc_s"] = traced.counters.get("gc_s", 0.0)
        out["unattributed_s"] = traced.counters["self_s"]
        out["span_coverage"] = kids / traced.duration
    out["jvm_vmhwm_mb"] = report["metrics"].get("jvm_vmhwm_mb", 0.0)
    out["workers_vmhwm_mb"] = report["metrics"].get("workers_vmhwm_mb", 0.0)
    return out


def emit(args, report, tracer) -> int:
    failed = sum(1 for p in report["passes"] if "error" in p)
    attempted = len(report["passes"])
    correct = failed == 0 and not report["errors"]
    if args.trace:
        metrics = layer_metrics(tracer, report)
        units = per_layer_units()
    else:
        tracer.finish()
        metrics = {k: report["metrics"][k] for k in END_TO_END_UNITS}
        units = END_TO_END_UNITS
    report.update(correct=correct, attempted=attempted, failed=failed,
                  spans=tracer.records(), metrics=metrics)

    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(
        OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}"
                 f"-{os.getpid()}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)

    for p in report["passes"]:
        print(f"# {p['label']}: wall {p['wall_s']:.3f} s, cpu "
              f"{p['cpu_s']:.3f} s, digest {p.get('digest')}"
              + (f"\n#   FAILED: {p['error']}" if "error" in p else ""))
    for e in report["errors"]:
        print(f"# ERROR: {e}")
    for k in report["skipped"]:
        print(f"# skipped, too close to the deadline: {k}")
    print("# host: " + json.dumps(report["host"], default=str))
    if args.trace:
        print_layer_table(tracer)
        if "trace_overhead_s" in report:
            print(f"# tracing overhead: {report['trace_overhead_s']:+.3f} s "
                  "(traced pass wall - median untraced wall_s of this "
                  "workload in this checkout)")
        else:
            print("# tracing overhead: unknown until an untraced run of "
                  "this workload has been made in this checkout")
    else:
        print(f"# {'failed_frac':<12} {failed / attempted:>12.4f} share")
    for k, v in metrics.items():
        print(f"# {k:<60} {v:>16.4f} {units[k]}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    sys.stdout.flush()
    return 0


def print_layer_table(tracer) -> None:
    print(f"# {'span':<52} {'wall_s':>8} {'busy_s':>8} {'jobs':>5} "
          f"{'rows_out':>9} {'shuf_MB':>8} {'spill_MB':>8} {'peak_MB':>8}")
    for s in tracer.spans:
        c = s.counters
        print(f"# {s.name:<52} {s.duration:8.3f} {c.get('busy_s', 0):8.2f} "
              f"{c.get('jobs', 0):5d} {int(c.get('rows_out', 0)):9d} "
              f"{c.get('shuffle_bytes', 0) / 2**20:8.2f} "
              f"{c.get('spill_bytes', 0) / 2**20:8.2f} "
              f"{c.get('peak_mem_bytes', 0) / 2**20:8.2f}")


if __name__ == "__main__":
    sys.exit(main())
