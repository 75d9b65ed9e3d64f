#!/usr/bin/env python3
"""The repository benchmark: closed-loop KG-construction jobs on a
local Spark session, checked against an eager computation.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 5 --trace 0

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace
1`` runs one traced job and prints the per-layer metrics. The last stdout line is always the JSON result; the host
fingerprint, the trace report and the spans are written under
``.perfbench/out/``. ``--compare A.json B.json`` compares two saved
results and refuses when their host or kernel differ.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
DRIVER_MEM = "3g"
# (name, unit) of the end-to-end metrics, as in BENCHMARK.json
END_TO_END = (("setup_s", "s"), ("wall_s", "s"), ("triples_per_s", "triples/s"), ("peak_rss_mb", "MB"))


def process_age() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up counts too)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env(work: str) -> None:
    """Single-threaded BLAS with the program's pinned kernel family, and
    every scratch file of Spark, the JVM and Python inside ``work``.
    Must run before numpy or the JVM load."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # a fixed heap, so peak RSS compares across runs and stays small
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM, the spark-submit launcher too: no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import uie_pytorch_spark.core  # noqa: F401  (applies blas_env_vars, loads numpy)


def become_subreaper() -> None:
    """Adopt every orphaned descendant — the Python workers the JVM forks
    outlive it by a moment — so ``reap_children`` can wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_children(grace: float = 20.0) -> None:
    """Wait until every process this one started has ended: stop the
    multiprocessing resource tracker, give the rest ``grace`` seconds to
    exit on their own, then SIGTERM and finally SIGKILL them."""
    from multiprocessing import resource_tracker

    from perfbench.tracing import children_map

    resource_tracker._resource_tracker._stop()
    me = os.getpid()
    deadline = time.monotonic() + grace
    sig = None
    while True:
        kids = children_map().get(me, [])
        for pid in kids:
            try:
                if sig is not None:
                    os.kill(pid, sig)
                os.waitpid(pid, os.WNOHANG)
            except (ChildProcessError, ProcessLookupError):
                pass
        if not children_map().get(me):
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def start_session(work: str, cores: int, event_log: str | None):
    from uie_pytorch_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def first_extraction(spark, schema, lang: str) -> None:
    """Start the Python workers and build the model with a small
    one-stage extraction of the workload's root prompts."""
    from uie_pytorch_spark.engine import UIEConfig, UIEEngine

    from perfbench import inputs

    eng = UIEEngine(spark, list(schema), UIEConfig(lang=lang))
    docs = spark.createDataFrame(inputs.warmup_docs(), "doc_id long, text string")
    UIEEngine.triples(eng.extract(docs)).write.format("noop").mode("overwrite").save()
    eng.unpersist()


def metric(value, unit):
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4, help="local[N] (default 4)")
    ap.add_argument("--compare", nargs=2, metavar="RESULT_JSON")
    args = ap.parse_args(argv)
    if args.compare:
        return compare(*args.compare)

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    bench_dir = os.path.join(ROOT, ".perfbench")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-cores{args.cores}"
    work = os.path.join(bench_dir, "work", f"{name}-{os.getpid()}")
    out_dir = os.path.join(bench_dir, "out")
    os.makedirs(out_dir, exist_ok=True)
    become_subreaper()
    try:
        return bench(args, work, out_dir, name, WORKLOADS[args.workload])
    finally:
        reap_children()
        shutil.rmtree(work, ignore_errors=True)


def bench(args, work: str, out_dir: str, name: str, workload) -> int:
    prepare_env(work)
    from perfbench import tracing
    from perfbench.workloads import timed_run

    cpu0 = tracing.cpu_times()
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = start_session(work, args.cores, event_log)
    try:
        session_s = process_age()
        first_extraction(spark, workload.schema, workload.lang)
        setup_s = process_age()
        fp = tracing.fingerprint(spark)

        import multiprocessing

        with multiprocessing.get_context("spawn").Pool(args.cores) as pool:
            wl = workload(spark, work, args.seed, pool)
        if args.trace:
            result, report = traced(args, spark, wl, event_log)
            report["session.start_s"] = session_s
            report["session.first_extract_s"] = setup_s - session_s
            result["metrics"]["session.start_s"] = metric(session_s, "s")
            result["metrics"]["session.first_extract_s"] = metric(setup_s - session_s, "s")
        else:
            with tracing.RssSampler() as rss:
                run = timed_run(wl, args.seconds)
            values = {
                "setup_s": setup_s,
                "wall_s": statistics.median(run.walls) if run.walls else 0.0,
                "triples_per_s": statistics.median(
                    t / w for t, w in zip(run.triples, run.walls)
                ) if run.walls else 0.0,
                "peak_rss_mb": rss.peak / 2**20,
            }
            result = {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {key: metric(values[key], unit) for key, unit in END_TO_END},
            }
            report = {"session_s": session_s, "walls_s": run.walls, "triples": run.triples,
                      **run.report}
    finally:
        stop_session(spark)
    fp["steal_pct"] = tracing.cpu_steal(cpu0, tracing.cpu_times())
    saved = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
             "fingerprint": fp, "report": report, "result": result}
    path = os.path.join(out_dir, f"{name}.json")
    with open(path, "w") as f:
        json.dump(saved, f, indent=1, default=str)
    print(f"perfbench: fingerprint {json.dumps(fp)}")
    print(f"perfbench: report {json.dumps(report, default=str)}")
    print(f"perfbench: saved {os.path.relpath(path, ROOT)}")
    print(json.dumps(result))
    return 0


def traced(args, spark, wl, event_log: str):
    """One traced job, run where a timed run times its first job;
    per-layer metrics of it."""
    from perfbench import layers, tracing
    from perfbench.workloads import Run, warm_up

    run = Run()
    if not warm_up(wl, run):
        raise RuntimeError("the warm-up job failed")
    tracer = tracing.Tracer(spark.sparkContext, f"{args.workload}-{args.seed}")
    tracing.instrument(tracer)
    try:
        wl.rep(run, tracer)
    finally:
        tracer.close()
    if not run.walls:
        raise RuntimeError("the traced job failed")
    for s in tracer.spans:
        s["job_ids"] = tracer.job_ids(s)
    expected = wl.replays
    pairs = [p for e in expected for p in e.model_inputs]
    kernel = layers.kernel_timings(pairs, args.seed)
    spark.stop()  # flushes the event log
    events = tracing.read_event_log(tracing.event_log_file(event_log))
    m, extras = layers.layer_metrics(tracer, events, run, expected, kernel, args.cores)
    m["trace.overhead_s"] = tracer.overhead
    spans_path = os.path.join(ROOT, ".perfbench", "out", f"spans-{args.workload}-seed{args.seed}.jsonl")
    tracer.write(spans_path)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: metric(v, layers.UNITS[k]) for k, v in m.items()},
    }
    timed = timed_walls(args.workload, args.cores)
    report = {**m, **extras, "traced_wall_s": run.walls[-1],
              "spans": os.path.relpath(spans_path, ROOT)}
    if timed:
        report["traced_minus_timed_median_s"] = run.walls[-1] - statistics.median(timed)
    return result, report


def timed_walls(workload: str, cores: int):
    """Walls of the timed runs of ``workload`` saved in this checkout."""
    import glob

    walls = []
    for path in glob.glob(os.path.join(ROOT, ".perfbench", "out", f"{workload}-seed*-trace0-cores{cores}.json")):
        with open(path) as f:
            walls.extend(json.load(f)["report"].get("walls_s", []))
    return walls


def compare(a_path: str, b_path: str) -> int:
    """Print per-metric ratios B/A of two saved results, or refuse when
    they come from different core counts or BLAS kernels."""
    from perfbench.tracing import comparable

    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    reasons = comparable(a["fingerprint"], b["fingerprint"])
    if reasons:
        print("perfbench: refusing to compare: " + "; ".join(reasons), file=sys.stderr)
        return 2
    for k, va in a["result"]["metrics"].items():
        vb = b["result"]["metrics"].get(k)
        if vb is not None and va["value"]:
            print(f"{k:32s} {va['value']:14.4f} {vb['value']:14.4f} {vb['value'] / va['value']:8.3f}x {va['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
