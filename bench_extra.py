"""Extra benchmarks for optimization work (guide §1.4) — NOT the driver
bench.  ``bench.py`` is frozen; this file hosts noop-sink isolation
timings, per-query explain dumps, and ad-hoc subplan profiling used to
produce the numbers cited in OPTIMIZATION_r08.md.

Usage:
    python3 bench_extra.py time q1_pricing_summary dd3_minhash_lsh ...
    python3 bench_extra.py explain dd3_minhash_lsh > plans/r08/dd3_before.txt
    python3 bench_extra.py explain-all-headline plans/r08 _before

Env: SPARK_GRAFT_SF_DIR (default: the sf0.1 reference tables, as in
bench.py), SPARK_GRAFT_CPUS (default: the cores this process may run on).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from __spark_entry__ import SF0001  # noqa: E402
from bench import HEADLINE  # noqa: E402  (one list, owned by bench.py)

# bench.py's default scale, beside the driver contract's sf0.001 tables
SF_DIR_DEFAULT = os.path.join(os.path.dirname(SF0001), "sf0.1")


def _session():
    from ocr_document_recognition_service_spark.session import build_session

    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    )
    spark = build_session(app_name="bench_extra", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df) -> float:
    t0 = time.time()
    df.write.mode("overwrite").format("noop").save()
    return time.time() - t0


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR_DEFAULT)
    cmd = sys.argv[1]
    from ocr_document_recognition_service_spark.plans import queries as Q

    registry = Q.queries()
    spark = _session()
    spark.range(1000).count()

    if cmd == "time":
        names = sys.argv[2:] or HEADLINE
        reps = int(os.environ.get("BENCH_EXTRA_REPS", "3"))
        for name in names:
            df = registry[name](spark, sf_dir)
            spark.sparkContext.setJobDescription(name)
            cold = _noop(df)
            warm = min(_noop(df) for _ in range(reps))
            print(f"{name:28s} warm {warm:7.3f}  cold {cold:7.3f}", flush=True)
    elif cmd == "explain":
        name = sys.argv[2]
        df = registry[name](spark, sf_dir)
        print(df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        ))
    elif cmd == "explain-all-headline":
        outdir, suffix = sys.argv[2], sys.argv[3]
        os.makedirs(outdir, exist_ok=True)
        for name in HEADLINE:
            df = registry[name](spark, sf_dir)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            with open(os.path.join(outdir, f"{name}{suffix}.txt"), "w") as f:
                f.write(txt)
            print("wrote", name, flush=True)
    else:
        raise SystemExit(f"unknown cmd {cmd}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
