"""Summarize and compare benchmark records (``.perfbench_out/*.json``).

    python3 perfbench/compare.py summary RECORD... > summary.json
    python3 perfbench/compare.py diff BASE NEW

``summary`` gives, per workload, the median and quartiles of every
end-to-end metric over the untraced records that passed their checks,
the median of every per-layer metric over the traced ones, the
number of runs that failed their checks, and the median CPU probe (the
host's speed while the runs ran).  ``diff`` compares two
summaries (or a summary and perfbench/baseline.json) metric by metric
against the bounds in BENCHMARK.json; it fails (exit 1) when a metric is
worse than its bound, when more runs fail their checks than in the base,
or when a workload is on one side only, and refuses (exit 3) when the
host fingerprints differ.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

from harness import comparable, summarize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def summary(paths: list[str]) -> dict:
    recs = [_read(p) for p in paths]
    fps = [r["fingerprint"] for r in recs]
    for fp in fps[1:]:
        why = comparable(fps[0], fp)
        if why:
            raise SystemExit(f"records from different hosts: {why}")
    out: dict = {"claim": None, "host": fps[0], "workloads": {}}
    for r in recs:
        w = out["workloads"].setdefault(
            r["workload"], {"seeds": [], "traced_seeds": [], "incorrect_runs": 0,
                            "e2e": {}, "layers": {}}
        )
        if not r["result"]["correct"]:
            w["incorrect_runs"] += 1
        elif r["trace"]:
            w["traced_seeds"].append(r["seed"])
            for k, v in r["result"]["metrics"].items():
                w["layers"].setdefault(k, []).append(v["value"])
        else:
            w["seeds"].append(r["seed"])
            for k, v in r["result"]["metrics"].items():
                w["e2e"].setdefault(k, []).append(v["value"])
        w.setdefault("cpu_probe_ms", []).append(r["fingerprint"].get("cpu_probe_ms"))
    for w in out["workloads"].values():
        probes = [p for p in w["cpu_probe_ms"] if p is not None]
        w["cpu_probe_ms"] = round(statistics.median(probes), 2) if probes else None
        w["e2e"] = {k: summarize(v) for k, v in w["e2e"].items()}
        w["layers"] = {k: statistics.median(v) for k, v in w["layers"].items()}
    return out


def diff(base: dict, new: dict) -> int:
    why = comparable(base["host"], new["host"])
    if why:
        print("refusing to compare results from different hosts:", *why, sep="\n  ")
        return 3
    print(f"file-create probe: {base['host']['file_create_us']} us -> "
          f"{new['host']['file_create_us']} us")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    worse = 0
    for wname in sorted(set(base["workloads"]) ^ set(new["workloads"])):
        side = "base" if wname in base["workloads"] else "new"
        print(f"{wname:8s} only in {side}: worse")
        worse += 1
    for wname, w in new["workloads"].items():
        b = base["workloads"].get(wname)
        if b is None:
            continue
        bad, bad0 = w.get("incorrect_runs", 0), b.get("incorrect_runs", 0)
        verdict = "worse" if bad > bad0 else "ok"
        worse += verdict == "worse"
        print(f"{wname:8s} {'incorrect_runs':14s} {bad0:12d} -> {bad:12d} {verdict}")
        print(f"{wname:8s} {'cpu_probe_ms':14s} {b.get('cpu_probe_ms')} -> "
              f"{w.get('cpu_probe_ms')} (host speed, not compared)")
        for name, s in w["e2e"].items():
            m, bs = spec[name], b["e2e"].get(name)
            if bs is None:
                print(f"{wname:8s} {name:14s} not in base: worse")
                worse += 1
                continue
            change = s["median"] / bs["median"] - 1.0
            if m["better"] == "higher":
                change = -change
            verdict = "worse" if change > m["bound"] else "ok"
            worse += verdict == "worse"
            print(f"{wname:8s} {name:14s} {bs['median']:12.4f} -> "
                  f"{s['median']:12.4f} {m['unit']:6s} {change:+7.1%} "
                  f"(bound {m['bound']:.0%}) {verdict}")
    return 1 if worse else 0


def _read(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _load(path: str) -> dict:
    """A summary, or the ``baseline`` section of perfbench/baseline.json."""
    d = _read(path)
    return d.get("baseline", d)


def main(argv: list[str]) -> int:
    if len(argv) >= 2 and argv[0] == "summary":
        json.dump(summary(argv[1:]), sys.stdout, indent=1)
        print()
        return 0
    if len(argv) == 3 and argv[0] == "diff":
        return diff(_load(argv[1]), _load(argv[2]))
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
