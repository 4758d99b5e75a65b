"""Pipeline and catalog benchmark for ulh_etl_spark.

    python3 perfbench/run.py --workload daily_history --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It starts one local[nproc] Spark
session in a fresh working directory under ``.perfbench_work/``
(warehouse, Spark local dirs, temp files and landing zones all live
there and are deleted at exit), generates the workload's inputs from
``--seed``, warms up, then runs timed passes until ``--seconds`` of
pass time have elapsed and at least MIN_PASSES passes have run, checks
every pass's outputs, and prints one JSON line as the last line of
stdout.

End-to-end metrics (``--trace 0``), all medians over the timed passes:
  setup_s      session start + warm-up and history seeding + the median
               per-pass input preparation
  run_wall_s   wall time of one pass's main call (run_practice, or the
               whole query sequence)
  batch_p50_s  landing-to-done time of one batch: a day (until synced
               to the entity store) or one pass of the catalog mix
  peak_rss_mb  peak resident memory of the driver JVM plus Python
  op_ok_ratio  verified operations / attempted operations

``--trace 1`` alternates untraced and traced passes and prints the
per-layer metrics listed in ``perfbench/metrics.py`` instead, each a
mean per traced pass; the spans themselves are written to
``.perfbench_work/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import tempfile
import sys
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# A median of three passes outvotes one pass that the host slows; a
# pipeline day takes 7-9 s on a 4-core host, so three days run past
# --seconds 10.
MIN_PASSES = 3


@contextmanager
def spark_session(label: str):
    """A Spark session whose every file lives in a fresh working
    directory inside the checkout. Yields (spark, work dir, seconds to
    start); on exit stops Spark, waits for the JVM and removes the
    directory."""
    work = ROOT / ".perfbench_work" / f"{label}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join([str(ROOT), os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_LOCAL_DIR": str(work / "spark-local"),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        # 2g, not the engine's 8g default: with a heap limit far above
        # these inputs' working set, the driver's peak RSS follows GC
        # timing (peak_rss_mb spread 0.53 over five catalog_mix runs at
        # 8g), and the host's memory is shared.
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in [
            "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}",
            # no hsperfdata file under /tmp: every file stays in the checkout
            "--conf", f"spark.driver.extraJavaOptions=-XX:-UsePerfData "
                      f"-Djava.io.tmpdir={work / 'tmp'}",
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    })
    tempfile.tempdir = None  # re-read TMPDIR
    cwd = os.getcwd()
    os.chdir(work)
    spark = None
    try:
        t0 = time.perf_counter()
        from ulh_etl_spark.session import get_spark

        spark = get_spark("perfbench")
        yield spark, work, time.perf_counter() - t0
    finally:
        if spark is not None:
            stop(spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def stop(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # the next session starts a new JVM
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    """Peak RSS of the driver JVM (VmHWM) plus this Python process."""
    from pyspark import SparkContext

    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        for line in Path(f"/proc/{proc.pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024.0


def timed_passes(wl, seconds: float, tracer=None) -> tuple[list, list, list]:
    """Run passes 0, 1, ... until the passes' timed batches
    (``wl.latencies``) add up to ``seconds`` and at least MIN_PASSES
    passes have run. With a tracer, odd passes are traced and even
    ones not, so the untraced passes bracket the traced ones. Returns
    the main-call walls of the untraced and of the traced passes, and
    the per-pass preparation times."""
    from perfbench import metrics

    walls: tuple[list, list] = ([], [])
    preps: list[float] = []
    i, spent = 0, 0.0
    while spent < seconds or i < MIN_PASSES:
        traced = tracer is not None and i % 2 == 1
        t0 = time.perf_counter()
        prep = wl.prepare(i)
        preps.append(time.perf_counter() - t0)
        if traced:
            metrics.install(tracer)
            wl.tracer = tracer
            try:
                with tracer.span("pass"):
                    wall, out = wl.run_pass(i, prep)
            finally:
                wl.tracer = None
                tracer.unwrap()
        else:
            wall, out = wl.run_pass(i, prep)
        spent += wl.latencies[-1]
        walls[traced].append(wall)
        wl.check(i, prep, out)
        i += 1
    return walls[0], walls[1], preps


def measure(workload: str, seed: int, seconds: float, trace: bool, sizes=None) -> dict:
    from perfbench import metrics, trace as tracing
    from perfbench.workloads import FULL, WORKLOADS

    t_start = time.perf_counter()
    with spark_session(f"{workload}-{seed}") as (spark, work, start_s):
        wl = WORKLOADS[workload](spark, work, seed, sizes or FULL)
        wl.setup()
        setup_once = time.perf_counter() - t_start
        if not trace:
            walls, _, preps = timed_passes(wl, seconds)
            rss = peak_rss_mb()
            wl.finish()
            values = {
                "setup_s": setup_once + statistics.median(preps),
                "run_wall_s": wl.run_wall(walls),
                "batch_p50_s": statistics.median(wl.latencies),
                "peak_rss_mb": rss,
                "op_ok_ratio": (wl.attempted - wl.failed) / wl.attempted,
            }
        else:
            tracer = tracing.Tracer(spark)
            walls, traced, preps = timed_passes(wl, seconds, tracer)
            wl.finish()
            tracer.dump(work.parent / f"spans-{workload}-{seed}.jsonl")
            values = metrics.per_layer(tracer, len(traced),
                                       statistics.median(traced) - statistics.median(walls))
        log(f"{workload}: session {start_s:.2f} s, setup {setup_once:.2f} s, "
            f"{ {k: round(v, 2) for k, v in wl.phases.items()} }, "
            f"prep {[round(x, 2) for x in preps]}, walls {[round(x, 2) for x in walls]}")
        for p in wl.problems:
            log(f"check failed: {p}")
    return {
        "correct": not wl.problems and wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics.with_units(values),
    }


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if not (ROOT / "ulh_etl_spark" / "__init__.py").is_file():
        print(f"perfbench: no ulh_etl_spark package under {ROOT}", file=sys.stderr)
        raise SystemExit(2)
    sys.path.insert(0, str(ROOT))
    raise SystemExit(main())
