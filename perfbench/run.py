#!/usr/bin/env python3
"""KG-construction benchmark.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. One client runs batch jobs over
a seeded page corpus, one job at a time (closed loop), in a single
process with Spark cores = nproc. With ``--trace 0`` it prints the
end-to-end metrics; with ``--trace 1`` a separate traced run prints the
per-layer metrics (see perfbench/README.md). The last stdout line is
one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec_units(section: str) -> dict:
    """BENCHMARK.json's ``section`` metrics: name -> unit, in order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


# driver heap, fixed and touched at launch: G1 otherwise grows the heap
# (up to get_spark's 8g default) on GC-time heuristics, and peak RSS
# and GC time move by more than 2x between identical runs
HEAP = "2g"


def spark_conf(work: str) -> dict:
    return {
        # no hsperfdata file: it would land in /tmp, outside the checkout
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile, p in [0, 100]."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n: int) -> float:
    """The highest percentile with at least 10 samples beyond it; a
    sample under 20 supports none above the median, which it falls
    back to."""
    return max(50.0, math.floor(1000 * (1 - 10 / n)) / 10) if n else 50.0


class Runner:
    """One benchmark run: a Spark session at a time, reps in sequence."""

    def __init__(self, workload, work: str, cores: int):
        self.wl = workload
        self.work = work
        self.cores = cores
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._n_out = 0

    def fresh_dir(self) -> str:
        self._n_out += 1
        d = os.path.join(self.work, "out", f"rep{self._n_out:04d}")
        os.makedirs(d)
        return d

    def start(self, cores: int) -> None:
        """A session on a SparkContext launched with ``cores``."""
        from remediner_spark.session import get_spark

        self.stop()
        self.spark = get_spark(
            app_name=f"perfbench-{self.wl.name}", cores=cores,
            extra_conf=spark_conf(self.work),
        )
        self.wl.setup(self.spark)

    def rep(self, rss=None):
        """One rep: (result, wall_s, tree_cpu_s). Output is checked
        after the clock stops; caches are released before the next."""
        from host import tree_cpu_s
        from remediner_spark.session import release_caches

        out = self.fresh_dir()
        if rss:
            rss.arm()
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        res = self.wl.rep(self.spark, out)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        if rss:
            rss.disarm()
        self.record(self.wl.check(self.spark, res, out), res.operations)
        release_caches(self.spark)
        shutil.rmtree(out, ignore_errors=True)
        return res, wall, cpu

    def record(self, bad: str | None, operations: int) -> None:
        self.attempted += operations
        if bad:
            self.failed += operations
            self.failures.append(bad)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def stop_jvm() -> None:
    """End the JVM pyspark launched and wait for it: it exits when its
    stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def timed_reps(runner: Runner, seconds: float, min_reps: int, rss=None):
    reps = []
    spent = 0.0
    while spent < seconds or len(reps) < min_reps:
        res, wall, cpu = runner.rep(rss)
        reps.append((res, wall, cpu))
        spent += wall
    return reps


def set_up(runner: Runner) -> float:
    """Launch the JVM and session, make the workload's broadcasts, run
    its warmup reps; the seconds all that took, the checks of the
    warmup reps' output left out."""
    t0 = time.perf_counter()
    runner.start(runner.cores)
    started = time.perf_counter() - t0
    return started + sum(runner.rep()[1] for _ in range(runner.wl.warmup_reps))


def end_to_end(runner: Runner, seconds: float) -> dict:
    from host import RssPeak

    setup_s = set_up(runner)
    with RssPeak() as rss:
        reps = timed_reps(runner, seconds, runner.wl.min_reps, rss)
    runner.stop()

    med = statistics.median
    batch_ms = [b for r, _, _ in reps for b in r.batch_ms] or [
        w * 1000 for _, w, _ in reps
    ]
    tail_p = tail_percentile(len(batch_ms))
    values = {
        "setup_s": setup_s,
        "pages_per_s": med(r.pages / w for r, w, _ in reps),
        "triples_per_s": med(r.triples / w for r, w, _ in reps),
        "cpu_s_per_kpage": med(c / r.pages * 1000 for r, _, c in reps),
        "peak_rss_mb": rss.peak_mb,
        "batch_latency_ms.p50": percentile(batch_ms, 50),
        "batch_latency_ms.tail": percentile(batch_ms, tail_p),
    }
    metrics = {k: (values[k], unit) for k, unit in spec_units("end_to_end").items()}
    info = {
        "reps": len(reps),
        "rep_wall_s": [round(w, 4) for _, w, _ in reps],
        "batch_latency_tail": {"percentile": tail_p, "n": len(batch_ms)},
        "peak_rss_mb_by_process": {
            k: round(v, 1) for k, v in rss.peak_by_name.items()
        },
        "error_rate": runner.failed / max(runner.attempted, 1),
    }
    return {"metrics": metrics, "info": info}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(1, ROOT)
    try:
        import pyspark  # noqa: F401

        import remediner_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    from host import Contention

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("in", "out", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    # before the JVM starts: shuffle, broadcast and Python temp files
    # stay inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = HEAP  # get_spark's driver memory
    # the launcher JVM spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    )
    # Python workers import the program and the traced run's stage
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )

    contention = Contention()
    wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "in"))
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0
    runner = Runner(wl, work, _cores())
    try:
        if args.trace:
            from tracing import traced_run

            result = traced_run(runner)
        else:
            result = end_to_end(runner, args.seconds)
    finally:
        runner.stop()
        stop_jvm()
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "input_generation_s": round(gen_s, 3),
        **result["info"],
        "failures": runner.failures[:5],
        "host": contention.report(runner.cores),
    }
    results_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results_dir, exist_ok=True)
    kind = "trace" if args.trace else "run"
    with open(os.path.join(
        results_dir, f"{kind}-{args.workload}-{args.seed}.json"
    ), "w") as f:
        json.dump({"info": info, **result.get("sidecar", {})}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print("perfbench: " + json.dumps(info))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
