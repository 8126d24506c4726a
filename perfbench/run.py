"""Engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

Run from the root of a checkout that holds `theoremsearch_spark/`.
Workloads: ingest, serve (see perfbench/README.md).
`--trace 0` prints the end-to-end metrics; `--trace 1` runs the same
workload with Spark's event log on and prints the per-layer table.
Everything the run writes goes under `.bench_work/` in the checkout and
is removed at the end. The last stdout line is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import sys
import time

WORKLOADS = ("ingest", "serve")


def _steal_s() -> float:
    """Hypervisor steal time of the whole host so far, in CPU seconds
    (0 where /proc/stat does not report it)."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_env(root: str, work: str, cores: int, trace: bool) -> str | None:
    """Environment for the JVM and the Python workers, set before the
    first pyspark import: the package on the workers' path, `local[nproc]`,
    scratch and temp dirs inside the checkout, and (traced run) the
    event log. Returns the event-log dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # session.get_spark appends this to the driver's JVM options
    os.environ["SPARK_EXTRA_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    args = []
    evdir = None
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{evdir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return evdir


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "theoremsearch_spark", "session.py")):
        print(f"error: no theoremsearch_spark/ package under {root}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    cores = _cores()
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        evdir = _prepare_env(root, work, cores, bool(args.trace))
        import workloads
        from metrics import END_TO_END, PER_LAYER
        from trace import RssSampler

        ctx = workloads.Ctx(
            work=work, seed=args.seed, seconds=args.seconds,
            cores=cores, trace=bool(args.trace),
        )
        steal0 = _steal_s()
        rss = RssSampler().start()
        try:
            res = workloads.RUNNERS[args.workload](ctx)
        finally:
            ctx.stop()
            rss.stop()

        res.report(sys.stdout)
        print(f"# peak_rss_mb {rss.peak_bytes / 2**20:.1f} over {rss.samples} samples", flush=True)
        # a run slowed by a noisy neighbour shows here, not in the metrics
        print(f"# host steal {_steal_s() - steal0:.1f} CPU-s during the run", flush=True)
        if args.trace:
            import perlayer

            logs = glob.glob(os.path.join(evdir, "*"))
            if len(logs) != 1:
                raise RuntimeError(f"expected one event log in {evdir}, found {logs}")
            values, span_table, unattributed = perlayer.compute(res, ctx.tracer.spans, logs[0])
            values["spark.peak_rss_mb"] = rss.peak_bytes / 2**20
            perlayer.print_table(values, span_table, unattributed, sys.stdout)
            metrics = {n: {"value": values[n], "unit": u} for n, u in PER_LAYER.items()}
        else:
            values = {
                "setup_s": res.setup_s,
                "latency_p50_s": res.latency_p50(),
                "items_per_s": res.items_per_s(),
            }
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # run the clean-up in main's finally blocks


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    t0 = time.monotonic()
    code = main()
    print(f"# wall {time.monotonic() - t0:.1f}s", file=sys.stderr)
    sys.exit(code)
