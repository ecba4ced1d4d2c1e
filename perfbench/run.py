"""Link-graph benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload codegraph --seed 1 --seconds 10 --trace 0

Run from the repository root.  One driver process at ``local[nproc]`` with
``2*nproc`` shuffle partitions; a closed loop, one pipeline at a time.

- Set-up (``setup_s``): session start plus the median of three input
  syntheses and cache fills.
- Timed section: the workload's layer calls, repeated until ``--seconds``
  of timed work; ``pipeline_s`` is the first execution in the fresh session,
  so it includes plan analysis and code generation as a batch run pays them.
- Checks run untimed on the first repetition; later repetitions must give
  the same per-layer summaries.  Each layer call is one attempted op; an op
  fails if it raises or its check fails.
- ``--trace 1`` labels each layer call's Spark jobs with a job group, reads
  per-stage numbers from the driver's status REST API and prints the
  per-layer metrics instead of the end-to-end ones.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the full record (host fingerprint, every repetition, checks, spans) goes to
``.perfbench/records/``.  Checkpoints, the round-trip parquet and Spark's
local dirs live in a per-run directory under ``.perfbench/`` removed at exit.
Before it exits, a run waits until every process it started has ended.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
RECORDS = os.path.join(WORK, "records")
SETUP_REPS = 3
# the keys of workloads.WORKLOADS, listed here so that argument parsing does
# not import the package
WORKLOAD_NAMES = ("codegraph", "linkgraph")

#: end-to-end metrics (untraced runs): name -> unit
END_TO_END = {"pipeline_s": "s", "setup_s": "s"}


def per_layer_units() -> dict[str, str]:
    """per-layer metrics (traced runs): name -> unit"""
    from tracing import HEAVY, HEAVY_FIELDS, LAYER_FIELDS, LAYERS

    units = {}
    for layer in LAYERS:
        for suffix, unit in LAYER_FIELDS + (HEAVY_FIELDS if layer in HEAVY else ()):
            units[f"{layer}.{suffix}"] = unit
    units.update(
        {
            "sources.ingest.refs": "count",
            "sources.ingest.resolved_ratio": "ratio",
            "plans.superstep.step_ms_p50": "ms",
            "plans.superstep.first_step_ms": "ms",
            "plans.pagerank.iters": "count",
            "plans.components.iters": "count",
            "plans.yearly.jobs_per_year": "count",
            "operators.dedup.candidates": "count",
            "operators.dedup.merge_ratio": "ratio",
            "session.driver_hwm_mb": "MB",
            "session.live_caches_end": "count",
            "edges_per_s": "edge-steps/s",
            "files_per_s": "files/s",
            "docs_per_s": "docs/s",
            "trace.overhead_s": "s",
        }
    )
    return units


def host_fingerprint() -> dict:
    mem_kb = cpu = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "cpu_model": cpu,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def driver_heap_mb(host: dict) -> int:
    """A quarter of the host's memory, within [1, 16] GiB."""
    return max(1024, min(16384, host["mem_total_mb"] // 4))


def start_session(host: dict, tmp: str, traced: bool):
    from graph_computing_go_spark import get_spark

    n = host["nproc"]
    conf = {
        "spark.driver.memory": f"{driver_heap_mb(host)}m",
        # JVM log lines on stdout would break the one-line result contract
        "spark.driver.extraJavaOptions": (
            f"-Xlog:disable -Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": os.path.join(tmp, "spark"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.enabled": "true" if traced else "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update(
            {
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=2 * n,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def untraced_pipeline_s(args) -> list[float]:
    """pipeline_s of the untraced runs of this workload recorded here."""
    vals = []
    for p in glob.glob(os.path.join(RECORDS, f"{args.workload}-{args.scale}-t0-*.json")):
        with open(p) as f:
            rec = json.load(f)
        if rec.get("correct"):
            vals.append(rec["pipeline_s"])
    return vals


def run_untraced_twin(args) -> None:
    """Run the same workload and seed untraced in a child process, so the
    tracing overhead has an untraced run to compare with."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
        "--scale", args.scale,
    ]
    subprocess.run(cmd, stdout=subprocess.DEVNULL, check=True, timeout=170)


def measure(args, host: dict, tmp: str) -> dict:
    """Set up, run the timed loop, check; returns the full run record."""
    import gc

    from inputs import SIZES
    from tracing import Tracer, fetch_status, layer_metrics
    from workloads import WORKLOADS, Ctx, same

    wl = WORKLOADS[args.workload]
    tracer = Tracer(args.workload, args.seed, traced=bool(args.trace))
    with tracer.span("session"):
        spark = start_session(host, tmp, bool(args.trace))
    session_s = tracer.busy("session", 0)
    try:
        tracer.attach(spark)
        sizes = SIZES[args.scale]
        ctx = Ctx(spark, args.seed, sizes, tmp, tracer)
        fills = []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            with tracer.span("setup"):
                inp = wl.setup(ctx)
            fills.append(time.perf_counter() - t0)
            if i < SETUP_REPS - 1:
                wl.release(inp)

        attempted = failed = 0
        checks, base, first_metrics, pipe, error = {}, None, {}, [], None
        mismatches = []
        while not pipe or sum(pipe) < args.seconds:
            tracer.rep = len(pipe) + 1
            res: dict = {}
            t0 = time.perf_counter()
            try:
                with tracer.span("pipeline"):
                    out, metrics = wl.run(ctx, inp, res)
            except Exception as e:  # report the failing op, keep the record
                error = f"{type(e).__name__}: {e}"
                attempted += len(res) + 1
                failed += 1
                break
            pipe.append(time.perf_counter() - t0)
            attempted += len(res)
            if base is None:
                base, first_metrics = res, metrics
                try:
                    checks = {k: bool(v) for k, v in wl.check(ctx, inp, res, out).items()}
                except Exception as e:  # a check that raises fails every op
                    error = f"check: {type(e).__name__}: {e}"
                failed += sum(not checks.get(k, False) for k in res)
            else:
                differ = [k for k in res if not same(res[k], base[k])]
                mismatches += [(tracer.rep, k, repr(res[k]), repr(base[k])) for k in differ]
                failed += len(differ)
            wl.release_out(out)
            del out
            gc.collect()

        record = {
            "workload": args.workload,
            "seed": args.seed,
            "scale": args.scale,
            "trace": args.trace,
            "host": host,
            "sizes": {p.name: sizes[p.name] for p in wl.parts},
            "session_s": session_s,
            "setup_fill_s": fills,
            "setup_s": session_s + statistics.median(fills),
            "pipeline_reps_s": pipe,
            "pipeline_s": pipe[0] if pipe else None,
            "pipeline_warm_s": statistics.median(pipe[1:]) if len(pipe) > 1 else None,
            "attempted": attempted,
            "failed": failed,
            "error_rate": failed / attempted if attempted else 1.0,
            "correct": failed == 0 and error is None,
            "error": error,
            "checks": checks,
            "mismatches": mismatches,
            "first_rep_summaries": base,
            "first_rep_metrics": first_metrics,
            "spans": tracer.spans,
        }
        wl.release(inp)
        if args.trace:
            jobs, stages = fetch_status(spark)
            lm = layer_metrics(tracer.spans, jobs, stages, rep=1)
            sc = spark.sparkContext
            jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
            lm["session.driver_hwm_mb"] = _vm_hwm_mb(jvm_pid)
            lm["session.live_caches_end"] = sc._jsc.getPersistentRDDs().size()
            lm["plans.yearly.jobs_per_year"] = (
                lm["plans.yearly.jobs"] / sizes["linkgraph"]["n_years"]
            )
            record["layers"] = lm
            record["n_jobs"] = len(jobs)
        return record
    finally:
        spark.stop()


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process.  Spark's Python
    worker daemon leaves the JVM's process group and can outlive the JVM;
    as a subreaper this process can still wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, ())
    return out


def stop_processes(grace_s: float = 60.0) -> None:
    """End the Spark JVM and wait until every process this run started has
    ended; whatever outlives ``grace_s`` is killed.  The JVM exits when its
    stdin closes, which otherwise happens only as this process exits, so the
    JVM would still be running after the benchmark returned."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in _descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.02)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def result_line(record: dict, args) -> dict:
    if args.trace:
        units = per_layer_units()
        vals = {k: 0.0 for k in units}
        vals.update(record["layers"])
        vals.update(record["first_rep_metrics"])
        untraced = untraced_pipeline_s(args)
        vals["trace.overhead_s"] = record["pipeline_s"] - statistics.median(untraced)
    else:
        units = END_TO_END
        vals = {k: record[k] for k in units}
    return {
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": vals[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    # the package is imported from this checkout, by the driver and by the
    # Python workers Spark starts
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import graph_computing_go_spark  # noqa: F401  (fails fast without the package)

    host = host_fingerprint()
    become_subreaper()
    # a terminated run still stops the JVM and removes its temp directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    os.makedirs(RECORDS, exist_ok=True)
    if args.trace and not untraced_pipeline_s(args):
        run_untraced_twin(args)
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM the run starts, the spark-submit launcher too, would
    # otherwise keep its perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    try:
        record = measure(args, host, tmp)
    finally:
        stop_processes()
        shutil.rmtree(tmp, ignore_errors=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-{args.scale}-t{args.trace}-s{args.seed}-{stamp}-{os.getpid()}"
    with open(os.path.join(RECORDS, name + ".json"), "w") as f:
        json.dump({k: v for k, v in record.items() if k != "spans"}, f, indent=1)
    with open(os.path.join(RECORDS, name + ".spans.jsonl"), "w") as f:
        for s in record["spans"]:
            f.write(json.dumps(s) + "\n")
    if record["pipeline_s"] is None:
        # the first repetition raised: nothing was measured
        print(f"first repetition failed: {record['error']}", file=sys.stderr)
        return 1
    print(json.dumps(result_line(record, args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
