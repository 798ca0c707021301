"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed under ``.perfbench_work/<workload>-s<seed>/`` (removed at exit),
starts one Spark session on
``local[<cores>]``, verifies a seeded sample of the output against the
numpy brute force, then runs the workload closed-loop (one caller, each
run a fresh plan started after the previous one finished) for
``--seconds``. The last stdout line is the result JSON; with ``--trace 1``
it carries the per-layer metrics of BENCHMARK.json instead of the
end-to-end ones, and the full layer record is written to
``.perfbench_work/layers-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"


def _process_tree() -> set[int]:
    """This process and all its descendants (the JVM and the Python
    workers it forks)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


class PeakRss:
    """Resident-set high-water marks of the process tree. ``reset`` clears
    each process's kernel mark (clear_refs 5); ``mb`` sums every
    process's mark (VmHWM) since then. No sampling thread runs beside the
    measured work."""

    def reset(self) -> None:
        for p in _process_tree():
            try:
                with open(f"/proc/{p}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def mb(self) -> float:
        total_kb = 0
        for p in _process_tree():
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except (OSError, ValueError):
                pass
        return total_kb / 1024


def start_session(workload: str, work: str, extra: dict[str, str]):
    from tiff_enrichment_pipeline_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed-size heap: the JVM's resident size then tracks use, not
        # how far the collector happened to grow the heap in this process
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        **extra,
    }
    return get_spark(f"perfbench-{workload}", master=f"local[{os.cpu_count()}]",
                     extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_loop(wl, reference, seconds: float):
    """Fresh-plan runs until ``seconds`` have passed (at least one).
    Returns (run seconds of passing runs, attempted, failed, peak RSS in
    MB)."""
    times, attempted, failed = [], 0, 0
    rss = PeakRss()
    rss.reset()
    t_end = time.perf_counter() + seconds
    while attempted == 0 or time.perf_counter() < t_end:
        attempted += 1
        t0 = time.perf_counter()
        try:
            got = wl.run()
        except Exception:  # a failed run is counted and reported, not fatal
            print(f"run {attempted} raised:", file=sys.stderr)
            traceback.print_exc()
            failed += 1
            continue
        dt = time.perf_counter() - t0
        if got != reference:
            print(f"run {attempted}: checksum {got} != verified {reference}",
                  file=sys.stderr)
            failed += 1
            continue
        times.append(dt)
    return times, attempted, failed, rss.mb()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    # one BLAS thread per Python worker; workers inherit this environment
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "tiff_enrichment_pipeline_spark")):
        print("engine package not found next to perfbench/", file=sys.stderr)
        return 2

    from perfbench import report
    from perfbench.workloads import WORKLOADS

    spec = report.load_spec()
    if args.workload not in WORKLOADS or args.workload not in {
            w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    # every file of the run stays in its own directory, removed at exit:
    # inputs, outputs, the event log and the temporary files of Python
    # and of the JVMs (spark-submit's launcher included)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    try:
        return measure(args, spec, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, spec: dict, work: str, t_start: float) -> int:
    """Generate, start the session, verify, then time or trace; prints
    the result line."""
    from perfbench import report, tracing
    from perfbench.workloads import WORKLOADS

    last = t_start

    def phase(name):
        nonlocal last
        now = time.perf_counter()
        print(f"setup: {name} {now - last:.2f} s", file=sys.stderr)
        last = now

    wl = WORKLOADS[args.workload](args.seed, work)
    wl.generate()
    phase("generate")
    log_dir = os.path.join(work, "eventlog")
    spark = start_session(args.workload, work,
                          tracing.event_log_conf(log_dir) if args.trace else {})
    spark.sparkContext.setLogLevel("ERROR")
    phase("session")
    try:
        wl.load(spark)
        phase("load")
        reference, errs = wl.reference()
        for e in errs[:20]:
            print("verify:", e, file=sys.stderr)
        phase("verified reference pass")
        setup_s = time.perf_counter() - t_start
        if args.trace:
            metrics, record, attempted, failed = traced(wl, reference, spark)
            expected = spec["per_layer"]
        else:
            times, attempted, failed, peak = timed_loop(wl, reference, args.seconds)
            if not times:
                raise RuntimeError(f"none of {attempted} timed runs passed")
            metrics = {
                "images_per_s": (wl.n_items / statistics.median(times), "1/s"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (peak, "MB"),
            }
            print(f"{len(times)} timed runs: "
                  + " ".join(f"{t:.3f}" for t in times), file=sys.stderr)
            expected = spec["end_to_end"]
    finally:
        stop_session(spark)
    if args.trace:
        events = tracing.read_events(log_dir)
        counters = tracing.spark_counters(events, record.pop("groups"))
        metrics.update({f"spark.{k}": v for k, v in counters.items()})
        # a layer metric the workload should produce but did not (a wrap
        # that no longer matches, say) must not pass as the bypass zero
        missing = sorted(wl.layer_metrics - set(metrics))
        metrics = per_layer(metrics, record, expected, args)
        for name in missing:
            print(f"trace: {args.workload} did not produce {name}", file=sys.stderr)
    else:
        missing = []
    report.check_metrics(metrics, expected)
    correct = not errs and failed == 0 and not missing
    print(report.result_line(correct, attempted, failed, metrics))
    return 0


def traced(wl, reference, spark):
    """The traced run: a traced run of the workload between two untraced
    ones (its time over their mean is the tracing overhead, with most of
    the warm-up trend of a young JVM averaged out), then the workload's layer
    decomposition with spans on. Returns (metrics, record, attempted,
    failed); the record holds the job groups of the traced run, every
    span and the traced run's self times."""
    from perfbench import tracing
    from perfbench.workloads import install_wraps

    def untraced():
        t0 = time.perf_counter()
        bad = wl.run() != reference
        return time.perf_counter() - t0, bad

    tracer = tracing.Tracer(spark.sparkContext)
    before, failed = untraced()
    try:
        install_wraps(tracer)
        with tracer.span("run") as rec:
            failed += wl.run() != reference
    finally:
        tracer.restore()
    after, bad = untraced()
    failed += bad
    inside = [s for s in tracer.spans if s["t0"] >= rec["t0"] and s["t1"] <= rec["t1"]]
    total = tracing.total_times(inside)
    # the layer split needs no wraps: it opens its own spans and reads
    # what the traced run captured
    layer = wl.layers(tracer)

    metrics = {
        "plans.enrich.build_s": total.get("plans.enrich.enrich"),
        "operators.knn_join.build_index_s": total.get("operators.knn_join.build_knn_index"),
        "sources.images.write_s": total.get("sources.images.write_images"),
        "sources.images.read_s": total.get("sources.images.read_images"),
        "operators.lineage.finish_s": total.get("operators.lineage.finish"),
        "operators.lineage.write_s": total.get("operators.lineage.write"),
        "trace.overhead_share": (rec["t1"] - rec["t0"]) / ((before + after) / 2) - 1.0,
    }
    metrics = {k: v for k, v in metrics.items() if v is not None}
    metrics.update(layer)
    record = {
        "groups": {f"span-{s['id']}" for s in inside},
        "spans": tracer.spans,
        "self_s": tracing.self_times(inside),
    }
    return metrics, record, 3, int(failed)


def per_layer(measured: dict, record: dict, expected: list[dict], args) -> dict:
    """The BENCHMARK.json per-layer metrics with their units. A metric of a
    layer this workload bypasses (one not in its ``layer_metrics``) reads
    0, the bypass prediction. The layer record written next to the inputs
    lists those under ``not_on_path`` and keeps the spans and the traced
    run's self times."""
    import json

    out = {m["name"]: (float(measured.get(m["name"], 0.0)), m["unit"]) for m in expected}
    path = os.path.join(WORK, f"layers-{args.workload}-s{args.seed}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed,
            "metrics": {k: v for k, (v, _) in out.items()},
            "not_on_path": sorted(set(out) - set(measured)),
            **record,
        }, f, indent=1)
    return out


if __name__ == "__main__":
    sys.exit(main())
