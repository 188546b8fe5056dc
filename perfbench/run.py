"""Layered benchmark of the interlinked-spark engine.

One run is one process on ``local[4]`` with a single driver thread:

1. set up the session (``get_spark`` + ``ship_package``): ``setup_s``;
2. untimed warm-up passes over the workload's queries (one, or more for a
   workload whose JIT-compiled paths take longer to settle);
3. timed passes for ``--seconds`` seconds: ``pass_s`` is their median;
4. the output check: every query's result from the last pass is collected
   once, outside the timed window, and compared with its DuckDB-oracle
   digest (``digest.py``);
5. ``spark.stop()``, then the entries left in the run's private
   ``TMPDIR`` and ``SPARK_LOCAL_DIRS`` are counted and removed.

A query runs through the engine's public path: ``Run(catalog.WKF, ...)
.resolve("q.<name>")``, then a ``noop`` write under the benchmark's own
job group, then ``Run.release()``.  The seed only permutes the query
order of each pass.  With ``--trace 1`` every second timed pass is traced
(``layers.py``) and the per-layer metrics are printed instead of the
end-to-end ones.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 3 --trace 0

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
names the headline numbers with their units.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# The engine is imported first: outside a full checkout the run stops here.
from interlinked_spark import catalog  # noqa: E402
from interlinked_spark.session import get_spark, ship_package  # noqa: E402
from interlinked_spark.workflow import Run  # noqa: E402

import digest  # noqa: E402
from layers import PER_LAYER, Tracer  # noqa: E402
from workloads import DATA_DIR, WORKLOADS  # noqa: E402

CORES = 4
ACTION_GROUP = "perfbench:action"
CHECK_GROUP = "perfbench:check"
END_TO_END = {"pass_s": "s", "setup_s": "s"}
SCRATCH_PARENT = os.path.join(ROOT, ".perfbench_scratch")
TRACE_DIR = os.path.join(ROOT, ".perfbench_traces")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pass_orders(queries, seed: int):
    """Endless query orders, one permutation per pass, fixed by ``seed``."""
    rng = random.Random(seed)
    while True:
        yield rng.sample(list(queries), len(queries))


def count_entries(*dirs: str) -> int:
    """Top-level entries left in ``dirs`` (missing directories count 0)."""
    return sum(len(os.listdir(d)) for d in dirs if os.path.isdir(d))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


class Scratch:
    """A fresh private temp root for one run.  ``TMPDIR`` (the engine's
    ``tempfile`` directories) and ``SPARK_LOCAL_DIRS`` point into it, and
    so does the JVM's ``java.io.tmpdir``, which is not counted as a leak."""

    def __init__(self, parent: str = SCRATCH_PARENT):
        os.makedirs(parent, exist_ok=True)
        self.parent = parent
        self.root = tempfile.mkdtemp(prefix="run-", dir=parent)
        self.tmp, self.local, self.jvm = (
            os.path.join(self.root, d) for d in ("tmp", "local", "jvm")
        )
        for d in (self.tmp, self.local, self.jvm):
            os.mkdir(d)

    def activate(self) -> None:
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f'--driver-java-options "-Djava.io.tmpdir={self.jvm} -XX:-UsePerfData" '
            "pyspark-shell"
        )
        tempfile.tempdir = None

    def leaked(self) -> int:
        return count_entries(self.tmp, self.local)

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(self.parent)
        except OSError:
            pass  # another run's scratch root is still there


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


class Bench:
    """Runs one workload's queries and keeps the failure tally."""

    def __init__(self, spark, workload):
        self.spark = spark
        self.wl = workload
        self.attempted = 0
        self.failed = 0
        #: per-query seconds of the latest pass
        self.query_s: dict[str, float] = {}

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        print(f"perfbench {self.wl.name} {name}: {why}", file=sys.stderr, flush=True)

    def resolve(self, name: str):
        run = Run(catalog.WKF, spark=self.spark, base_dir=DATA_DIR)
        return run, run.resolve(f"q.{name}")

    def execute(self, name: str, tracer=None):
        """Resolve + noop action + release; returns the built DataFrame."""
        if tracer:
            tracer.start_query(name)
        t0 = time.perf_counter()
        run, df = self.resolve(name)
        t1 = time.perf_counter()
        if tracer:
            tracer.resolved(run, df, t1 - t0)
            t1 = time.perf_counter()
        self.spark.sparkContext.setJobGroup(ACTION_GROUP, f"noop write of q.{name}")
        df.write.format("noop").mode("overwrite").save()
        if tracer:
            tracer.acted(time.perf_counter() - t1)
        run.release()
        return df

    def run_pass(self, order, tracer=None, index: int = 0):
        """One pass; returns its wall time and each query's DataFrame
        (``None`` for a query that raised)."""
        if tracer:
            tracer.start_pass(index)
        frames = {}
        self.query_s.clear()
        t0 = time.perf_counter()
        for name in order:
            self.attempted += 1
            tq = time.perf_counter()
            try:
                frames[name] = self.execute(name, tracer)
            except Exception:  # noqa: BLE001 - counted in failed_ops, the run goes on
                frames[name] = None
                self._fail(name, traceback.format_exc(limit=2))
            self.query_s[name] = time.perf_counter() - tq
        wall = time.perf_counter() - t0
        if tracer:
            tracer.end_pass(wall)
        return wall, frames

    def timed_passes(self, orders, seconds: float, tracer=None):
        """Passes until ``seconds`` have elapsed (at least one).  With a
        tracer the passes alternate untraced / traced and end on an
        untraced one, so the traced passes sit between untraced ones.
        Returns the untraced and traced pass times and the last frames."""
        plain, traced = [], []
        start = time.perf_counter()
        index = 0
        while True:
            use = tracer if tracer and index % 2 else None
            wall, frames = self.run_pass(next(orders), use, index)
            (traced if use else plain).append(wall)
            index += 1
            if time.perf_counter() - start >= seconds and not use and (traced or not tracer):
                return plain, traced, frames

    def check(self, frames: dict, stored: dict) -> None:
        """Collect every query's result once and compare it with its digest;
        a mismatch or an exception counts as a failed operation."""
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(CHECK_GROUP, "output check")
        for name in self.wl.queries:
            self.attempted += 1
            try:
                df = frames.get(name)
                if df is None:
                    _run, df = self.resolve(name)
                rows = [tuple(r) for r in df.collect()]
                why = digest.verify(name, df.columns, rows, catalog.ORACLES[name], stored)
            except Exception:  # noqa: BLE001 - counted in failed_ops
                why = traceback.format_exc(limit=2)
            if why:
                self._fail(name, why)


def result_metrics(trace: bool, values: dict) -> dict:
    """The JSON ``metrics`` object: every end-to-end metric, or with
    ``trace`` every per-layer metric, each with its unit."""
    units = PER_LAYER if trace else END_TO_END
    return {name: {"value": values[name], "unit": unit} for name, unit in units.items()}


def main(argv=None) -> None:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    stored = digest.load()
    scratch = Scratch()
    scratch.activate()
    spark = None
    try:
        spark = get_spark("perfbench", master=f"local[{CORES}]")
        ship_package(spark)
        setup_s = time.perf_counter() - T0
        tracer = Tracer(spark, catalog.WKF.name, scratch.tmp, CORES) if args.trace else None
        bench = Bench(spark, wl)
        orders = pass_orders(wl.queries, args.seed)
        warmup = [bench.run_pass(next(orders))[0] for _ in range(wl.warmup_passes)]
        t_timed = time.perf_counter()
        plain, traced, frames = bench.timed_passes(orders, args.seconds, tracer)
        t_check = time.perf_counter()
        bench.check(frames, stored)
        print(
            f"perfbench {wl.name}: warm-up {sum(warmup):.2f} s, timed {t_check - t_timed:.2f} s, "
            f"check {time.perf_counter() - t_check:.2f} s; last pass "
            + " ".join(f"{q}={t:.2f}" for q, t in bench.query_s.items()),
            file=sys.stderr, flush=True,
        )
    finally:
        if spark is not None:
            spark.stop()
        leaked = scratch.leaked()
        stop_jvm()
        scratch.remove()

    pass_s = statistics.median(plain)
    q1, _, q3 = quartiles(plain)
    failed_ops = bench.failed / bench.attempted
    values = {"setup_s": setup_s, "pass_s": pass_s}
    if tracer:
        values.update(tracer.summary())
        values["warmup.first_pass_s"] = warmup[0]
        values["trace.overhead_share"] = statistics.median(traced) / pass_s - 1
        values["failed_ops"] = failed_ops
        values["leaked_tmp_entries"] = leaked
        os.makedirs(TRACE_DIR, exist_ok=True)
        tracer.write_spans(
            os.path.join(TRACE_DIR, f"{wl.name}-seed{args.seed}.json"),
            {"workload": wl.name, "seed": args.seed, "setup_s": setup_s, "warmup_s": warmup},
        )
    print(
        f"perfbench {wl.name} seed={args.seed} trace={args.trace}: "
        f"setup_s={setup_s:.3f} s; pass_s={pass_s:.3f} s "
        f"(n={len(plain)}, q1={q1:.3f}, q3={q3:.3f}); "
        f"failed_ops={failed_ops:.4f} share ({bench.failed}/{bench.attempted}); "
        f"leaked_tmp_entries={leaked} count"
    )
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": result_metrics(bool(args.trace), values),
    }), flush=True)


if __name__ == "__main__":
    main()
