"""Activation-pipeline benchmark: one workload, one seed, one closed loop.

    python3 actbench/run.py --workload activation_fresh --seed 1 --seconds 15 --trace 0

Run from the repository root. Generates the workload's inputs from the seed,
starts a SparkSession on local[<cpus>], measures for ``--seconds``, checks
every run against the oracle and prints, as the last stdout line, one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer ones with ``--trace 1``
(spans are written under .actbench_work/). ``--tiny`` shrinks the inputs for
the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".actbench_work"

HEAP = "2g"  # driver heap, committed and touched at JVM start (see README.md)
# set-ups per measured run; setup_s is their median. Each takes about 10 s,
# and a third would push a run past the time the benchmark may take.
SETUPS = 2
END_TO_END = [
    ("setup_s", "s"), ("cold_run_s", "s"), ("run_s", "s"),
    ("rows_per_s", "rows/s"), ("peak_rss_mb", "MB"),
]


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _environment() -> None:
    """Keep Spark, the JVM and the Python workers inside the checkout and
    make the benchmark package importable by the workers."""
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(0, str(ROOT))


def _identity(x):
    return x


def start_spark():
    """session.get_spark, one trivial action, and the Python worker pool."""
    from megalista_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="actbench",
        extra_conf={
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
                f" -Xms{HEAP} -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    n = spark.sparkContext.defaultParallelism
    spark.sparkContext.parallelize(range(n), n).map(_identity).count()
    t3 = time.perf_counter()
    return spark, {"get_spark_s": t1 - t0, "first_action_s": t2 - t1, "workers_s": t3 - t2}


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit (its
    Python worker daemon exits with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def setup_in_new_process(workload: str) -> float:
    """Set up once more in a fresh process and return its setup time."""
    out = subprocess.run(
        [sys.executable, str(Path(__file__).resolve()), "--workload", workload, "--setup-only"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=120, check=True,
    )
    return float(out.stdout.strip().splitlines()[-1])


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs (self-tests)")
    p.add_argument("--setup-only", action="store_true",
                   help="set up, print the setup time and exit (one setup_s sample)")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    _environment()
    from actbench import gen, workloads  # fails here when the program is absent
    from actbench.tracing import Tracer

    if args.workload not in gen.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {', '.join(gen.WORKLOADS)}")
    spark, session = start_spark()
    setup_s = _process_age_s()
    if args.setup_only:
        stop_spark(spark)
        print(setup_s)
        return 0
    try:
        today = dt.datetime.now(dt.timezone.utc).date()
        inputs = WORK / f"{args.workload}-{args.seed}"
        shutil.rmtree(inputs, ignore_errors=True)
        config = gen.generate(args.workload, args.seed, str(inputs), today, args.tiny)
        w = workloads.WORKLOADS[args.workload](spark, str(inputs), config, str(inputs / "run"), today)
        if args.trace:
            tracer = Tracer()
            metrics, totals = workloads.per_layer(w, args.seconds, tracer, session)
            tracer.write(str(WORK / f"trace-{args.workload}-{args.seed}.json"))
            units = workloads.PER_LAYER
        else:
            jvm = spark.sparkContext._gateway.proc.pid
            metrics, totals = workloads.end_to_end(w, args.seconds, jvm)
            units = END_TO_END
    finally:
        stop_spark(spark)
    shutil.rmtree(inputs, ignore_errors=True)
    if not args.trace:
        setups = [setup_s] + [setup_in_new_process(args.workload) for _ in range(SETUPS - 1)]
        print(f"setups (s): {setups}", file=sys.stderr)
        metrics["setup_s"] = statistics.median(setups)
    for problem in totals["problems"][:20]:
        print(f"oracle: {problem}", file=sys.stderr)
    print(f"run durations (s): {totals['durations']}", file=sys.stderr)
    for name, unit in units:
        print(f"{name} {metrics[name]:.6g} {unit}", file=sys.stderr)
    print(json.dumps({
        "correct": totals["correct"],
        "attempted": totals["attempted"],
        "failed": totals["failed"],
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
