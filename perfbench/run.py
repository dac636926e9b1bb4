"""Benchmark of the extraction engine on a local[4] Spark session.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Workloads (see BENCHMARK.json for why each was chosen):

- ``extract``: seeded pages through a lang-partitioned parquet table →
  ``extract_pages`` → noop sink, then the same pages as ``.warc.gz``
  segments → ``sources.warc.shared_warc_pages`` → ``extract_pages`` →
  noop sink; traced runs add the committed ``lineage.run_extraction``
  run, killed after half the pids and resumed, and a local[1] pass;
- ``queries``: the 15 ``bench.HEADLINE`` registry queries over the
  reference tables copied into ``perfbench/data`` (``sf0.01``; the
  seed sets the order the queries run in).

Every other input is generated from ``--seed`` inside the checkout.  A
run starts one local[4] session, materializes its input, runs one cold
unit of work (``cold_s``; it also collects the output the checks
compare), then warm units for ``--seconds`` in three stretches, materializing the input once more
between each two (``warm_s`` = median warm unit; ``setup_s`` = session
start + median of the three materializations).  ``py_peak_rss_mb`` is
the peak RSS of the Python processes (driver + Spark's Python workers)
over the cold and warm units only.  Outputs are checked outside the timed
sections (per-url text md5 and the committed run's global md5 against
the kernel oracle, DuckDB oracle SQL).  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1`` (event log,
UDF profiler and spans on; layers the workload never calls report 0).
The line before it carries the host fingerprint; the full record
(samples, checks, spans) goes to ``.perfbench_out/``.  ``--smoke`` runs
every workload once at tiny size in both modes and validates the
output against BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = (
    "BENCHMARK.json",
    "bench.py",
    "tools/check_contract.py",
    "ocr_document_recognition_service_spark/__init__.py",
)
# environment knobs of the program that would change what is measured
PROGRAM_ENV = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_BYPASS_MERGE", "SPARK_DRIVER_MEM")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _metric_block(values: dict, declared: list[dict]) -> dict:
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in declared}


def run_once(args) -> int:
    t0 = time.time()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    for k in PROGRAM_ENV:
        os.environ.pop(k, None)
    for p in (ROOT, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)

    spec = load_spec()
    from harness import RssSampler, fingerprint, stop_jvm
    import workloads

    run = None
    try:
        with RssSampler() as sampler:
            run = workloads.Run(work, out_dir, args.seed, args.seconds,
                                bool(args.trace), args.size, sampler)
            with run.span("fingerprint"):
                fp = fingerprint(work)
            workloads.WORKLOADS[args.workload](run)
            with run.span("shutdown"):
                if run.spark is not None:
                    stop_jvm(run.spark)
    except Exception:
        traceback.print_exc()
        if run is not None and run.spark is not None:
            stop_jvm(run.spark)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    t1 = time.time()

    if args.trace:
        for m in spec["per_layer"]:
            # a layer the workload never calls did no work
            run.layers.setdefault(m["name"], 0.0)
        metrics = _metric_block(run.layers, spec["per_layer"])
        run.detail["span_coverage"] = run.tracer.top_level_coverage(t0, t1)
    else:
        metrics = _metric_block(run.metrics, spec["end_to_end"])
    result = {
        "correct": bool(run.correct and run.failed == 0),
        "attempted": int(run.attempted),
        "failed": int(run.failed),
        "metrics": metrics,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "fingerprint": fp,
        "wall_s": t1 - t0, "end_to_end": run.metrics, "per_layer": run.layers,
        "fail_frac": run.failed / max(1, run.attempted), "detail": run.detail,
        "spans": run.tracer.spans, "result": result,
    }
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(t0)}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"fingerprint": fp, "record": f".perfbench_out/{name}",
                      "fail_frac": record["fail_frac"]}))
    print(json.dumps(result))
    return 0


def smoke() -> int:
    """Every workload once at tiny size, untraced and traced; checks the
    result line has exactly the declared metrics with their units."""
    spec = load_spec()
    bad = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload",
                   w["name"], "--seed", "1", "--seconds", "1", "--trace",
                   str(trace), "--size", "smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=600)
            label = f"{w['name']} trace={trace}"
            try:
                res = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                bad.append(f"{label}: exit {p.returncode}, no result\n{p.stderr[-2000:]}")
                continue
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
            problems = []
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"keys {sorted(res)}")
            if got != want:
                diff = set(want.items()) ^ set(got.items())
                problems.append(f"metrics/units differ: {sorted(diff)[:8]}")
            if not all(isinstance(v.get("value"), (int, float))
                       for v in res["metrics"].values()):
                problems.append("non-numeric value")
            if p.returncode != 0 or not res.get("correct") or res.get("failed"):
                problems.append(f"exit {p.returncode} correct={res.get('correct')} "
                                f"failed={res.get('failed')}")
            if res.get("attempted", 0) < 1:
                problems.append("attempted < 1")
            print(f"{'ok  ' if not problems else 'FAIL'} {label} "
                  f"({len(got)} metrics)", flush=True)
            bad.extend(f"{label}: {x}" for x in problems)
    for b in bad:
        print(b, file=sys.stderr)
    return 1 if bad else 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("extract", "queries"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
