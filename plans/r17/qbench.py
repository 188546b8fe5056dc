"""Round-17 optimization harness: isolate one or more catalog queries.

Usage:
    python plans/r17/qbench.py <query> [<query> ...] [--reps N] [--explain]

Times each query via the noop sink (guide §1.4) after one warm pass,
prints per-query median/min, and with --explain writes
plans/r17/<query>_current.txt with .explain("formatted").
Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like bench.py.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from interlinked_spark import catalog  # noqa: E402
from interlinked_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="+", metavar="query")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--explain", action="store_true")
    opts = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("qbench")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = Path(__file__).resolve().parent
    for name in opts.queries:
        spark.sparkContext.setJobDescription(f"qbench warm: {name}")
        catalog.run_query(name, spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        times = []
        for i in range(opts.reps):
            spark.sparkContext.setJobDescription(f"qbench {name} pass {i}")
            t0 = time.perf_counter()
            catalog.run_query(name, spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            times.append(time.perf_counter() - t0)
        times.sort()
        med = statistics.median(times)
        print(f"{name}: median={med:.3f}s min={times[0]:.3f}s all={[round(t, 3) for t in times]}")
        if opts.explain:
            df = catalog.run_query(name, spark, sf_dir)
            (out_dir / f"{name}_current.txt").write_text(
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
    spark.stop()


if __name__ == "__main__":
    main()
