"""bitfunnel_spark benchmark: one seeded workload, one JSON result line.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run sets up its own single-box
environment (local[nproc] Spark, a driver heap below physical memory,
PYTHONPATH for the Python workers, all scratch files under
``.perfbench_work/`` in the checkout), builds the workload's index, warms
every request shape up untimed, then serves the request stream as a closed
loop with one client for ``--seconds``. Each distinct request is then checked
once against the repo's DuckDB oracle.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is the traced run:
it records spans around each layer's public calls plus Spark's own job, stage
and task records, prints the per-layer metrics, and writes the spans to
``.perfbench_out/``. Progress goes to stderr; the line before the result is a
report with the environment and the per-workload metric names; the last line
of stdout is the result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3  # set-up builds per run; setup_s takes their median
DRIVER_MEMORY = "2g"
WATCHDOG_S = 175.0


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def git_commit() -> str:
    head = ROOT / ".git" / "HEAD"
    if not head.is_file():
        return "unknown"
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    ref_file = ROOT / ".git" / ref[5:]
    if ref_file.is_file():
        return ref_file.read_text().strip()
    packed = ROOT / ".git" / "packed-refs"
    if packed.is_file():
        for line in packed.read_text().splitlines():
            if line.endswith(" " + ref[5:]):
                return line.split()[0]
    return "unknown"


def environment(work: Path, cores: int) -> None:
    """Settings a 4-core, ~15 GB box needs, set before the JVM starts."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # no hsperfdata files under /tmp from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)


def cpu_steal_s() -> float:
    """Host CPU time stolen from this machine so far (all CPUs), from
    /proc/stat: evidence for run-to-run noise on a shared host."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def mean(values):
    return sum(values) / len(values) if values else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "bitfunnel_spark" / "__init__.py").is_file():
        log(f"bitfunnel_spark package not found under {ROOT}: run from a full checkout")
        return 2
    sys.path.insert(0, str(ROOT))

    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    environment(work, cores)
    started = time.perf_counter()

    from procs import PeakRss, descendants, wait_gone

    def watchdog():
        log(f"watchdog: run exceeded {WATCHDOG_S:.0f} s, killing the process tree")
        wait_gone(descendants(os.getpid()), timeout_s=2.0)
        os._exit(3)

    timer = threading.Timer(WATCHDOG_S, watchdog)
    timer.daemon = True
    timer.start()
    try:
        with PeakRss() as rss:
            out = run(args, work, cores, rss)
    finally:
        timer.cancel()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    report = out["report"]
    report["peak_rss_mb"] = out["end_to_end"]["peak_rss_mb"]
    report["wall_s"] = time.perf_counter() - started
    metrics, units = (out["per_layer"], LAYER_UNITS) if args.trace else (out["end_to_end"], UNITS)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


UNITS = {
    "setup_s": "s", "p50_ms": "ms", "throughput_per_s": "1/s", "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "traced_p50_ms": "ms", "traced_setup_s": "s",
    "plan_ms": "ms", "dict_ms": "ms", "dict_keys": "count", "driver_ms": "ms", "driver_self_ms": "ms",
    "jobs": "count", "stages": "count", "tasks": "count", "job_ms": "ms", "job_gap_ms": "ms",
    "stage_wait_ms": "ms", "task_run_ms": "ms", "task_cpu_ms": "ms", "task_deser_ms": "ms",
    "gc_ms": "ms", "shuffle_read_bytes": "bytes", "result_bytes": "bytes",
    "kernel_ms": "ms", "kernel_ms_max": "ms", "kernel_rows_in": "count", "blocks_total": "count",
    "blocks_decoded": "count", "skip_ratio": "ratio", "hop_ms": "ms", "collect_rows": "count",
    "doc_stats_s": "s", "encode_s": "s", "key_stats_s": "s", "prepare_serve_s": "s",
    "segment_blocks": "count", "build_docs_per_s": "1/s",
}


def run(args, work: Path, cores: int, rss) -> dict:
    import pyarrow
    import pyspark

    from bitfunnel_spark.session import get_spark
    from procs import stop_spark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}", cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        },
    )
    session_s = time.perf_counter() - t0
    try:
        return serve(args, spark, work, cores, session_s, rss, WORKLOADS[args.workload],
                     {"nproc": cores, "spark": pyspark.__version__, "python": platform.python_version(),
                      "pyarrow": pyarrow.__version__, "commit": git_commit()})
    finally:
        stop_spark(spark)


def serve(args, spark, work, cores, session_s, rss, wl_cls, env) -> dict:
    from tracing import SparkStore, Tracer, kernel_layers, request_layers, rollup

    wl = wl_cls(spark, args.seed, str(work), cores)
    log(f"[{wl.name}] session {session_s:.2f}s")
    t = time.perf_counter()
    n_docs = wl.make_inputs()
    stream = wl.stream()
    wl.load()
    inputs_s = time.perf_counter() - t
    reps = []
    for rep in range(SETUP_REPS):
        # the traced run splits the last repetition by build layer
        build = wl.setup_rep(split=bool(args.trace) and rep == SETUP_REPS - 1)
        reps.append(build["build_s"])
        log(f"[{wl.name}] set-up repetition {rep}: {reps[-1]:.2f}s")
    rep_s = statistics.median(reps)
    t = time.perf_counter()
    for req in wl.warmup():
        wl.entry(req).collect()
    warmup_s = time.perf_counter() - t
    setup_s = session_s + inputs_s + rep_s + warmup_s
    log(f"[{wl.name}] setup {setup_s:.2f}s (inputs {inputs_s:.2f}, repetition {rep_s:.2f}, "
        f"warm-up {warmup_s:.2f})")

    tracer = store = None
    if args.trace:
        tracer, store = Tracer(), SparkStore(spark.sparkContext)
        tracer.install()
    fail_ms = args.seconds * 1000.0  # a failed request misses any latency limit
    ops = []  # (request, elapsed ms, ok)
    served = {}
    layers, kernels = [], []
    steal0 = cpu_steal_s()
    t_start = time.perf_counter()
    i = 0
    while True:
        elapsed = time.perf_counter() - t_start
        # whole cycles only, so every run serves the same request mix
        if elapsed >= args.seconds and i % wl.cycle == 0 and i >= wl.min_requests:
            break
        req = stream[i % len(stream)]
        rid = f"r{i}"
        i += 1
        t = time.perf_counter()
        try:
            if tracer is None:
                rows = wl.entry(req).collect()
            else:
                store.set_group(rid)
                try:
                    with tracer.span("request", request=rid, key=req.key) as rspan:
                        with tracer.span("driver"):
                            df = wl.entry(req)
                        with tracer.span("collect"):
                            rows = df.collect()
                finally:
                    store.set_group(None)
            ms = (time.perf_counter() - t) * 1000.0
            result = wl.normalize(req, rows)
        except Exception:  # a request that raises is a failed operation
            log(f"[{wl.name}] request {rid} ({req.key}) failed:\n{traceback.format_exc()}")
            ops.append((req, (time.perf_counter() - t) * 1000.0, False))
            continue
        ops.append((req, ms, True))
        if req.key not in served:
            req.result = result
            served[req.key] = req
        if tracer is not None and len(layers) < wl.min_requests:
            store.record(tracer, rid, rspan)
            layers.append(request_layers(tracer, rid, len(rows)))
            kargs = wl.kernel_args(req, tracer.last_built)
            if kargs is not None:
                store.set_group(f"profile-{rid}")
                try:
                    kern = kernel_layers(*kargs)
                finally:
                    store.set_group(None)
                kern["hop_ms"] = layers[-1]["collect_run_ms"] - kern["kernel_ms"]
                kernels.append(kern)
    wall_s = time.perf_counter() - t_start
    steal_s = cpu_steal_s() - steal0
    # set-up and serving only: the oracle check below is the benchmark's own
    peak_rss_mb = rss.stop() / 2**20
    if tracer is not None:
        tracer.uninstall()

    t = time.perf_counter()
    bad = wl.check(served)
    log(f"[{wl.name}] oracle: {len(served)} distinct requests, {len(bad)} mismatched "
        f"({time.perf_counter() - t:.2f}s)")
    for k in sorted(bad):
        log(f"[{wl.name}] oracle mismatch: {k}")
    ok = [o for o in ops if o[2] and o[0].key not in bad]
    failed = len(ops) - len(ok)
    lat = lambda kind: [ms if (good and r.key not in bad) else fail_ms  # noqa: E731
                        for r, ms, good in ops if r.kind == kind]
    primary = lat(wl.primary_kind)
    e2e = {
        "setup_s": setup_s,
        "p50_ms": statistics.median(primary),
        # per second the client spent waiting on requests: the wall time of
        # an untraced closed loop, without a traced run's readback work
        "throughput_per_s": sum(r.units for r, _, _ in ok) / (sum(ms for _, ms, _ in ops) / 1000.0),
        "peak_rss_mb": peak_rss_mb,
    }

    per_layer = {}
    if args.trace:
        per_layer = {"traced_p50_ms": e2e["p50_ms"], "traced_setup_s": setup_s,
                     **rollup(layers, kernels), **build}
        per_layer = {k: per_layer[k] for k in LAYER_UNITS}
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        tracer.dump(out_dir / f"spans-{wl.name}-seed{args.seed}.json")

    report = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, "env": env,
        "client": "closed loop, 1 client", "docs": n_docs, "stream": [r.key for r in stream],
        "requests": len(ops),
        "distinct_checked": len(served), "failed_frac": failed / max(len(ops), 1),
        "setup": {"session_s": session_s, "inputs_s": inputs_s, "repetitions_s": reps,
                  "warmup_s": warmup_s},
        "measured_s": wall_s, "cpu_steal_s": steal_s,
        "latencies_ms": [round(ms, 1) for _, ms, _ in ops],
    }
    # the metric names each workload is discussed under
    report.update(wl.named(e2e, lat, n_docs / rep_s))
    if args.trace and wl.name == "percolate_ingest":
        report["percolate_split"] = {
            "perc_build_ms": mean([lay["build_ms"] for lay in layers]),
            "perc_match_ms": mean([lay["request_ms"] - lay["build_ms"] for lay in layers]),
            "perc_rows": sum(lay["collect_rows"] for lay in layers),
        }
    return {"end_to_end": e2e, "per_layer": per_layer, "report": report,
            "attempted": len(ops), "failed": failed}


if __name__ == "__main__":
    sys.exit(main())
