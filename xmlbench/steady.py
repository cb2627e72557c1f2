"""Steadiness check of the XML-engine benchmark.

    python3 xmlbench/steady.py [--seeds 1-10] [--traced]

Run from the repository root. Repeats each workload of BENCHMARK.json once
per seed with `run.py --trace 0`, each run as long as its `run_seconds`,
and prints, for every end-to-end metric, its median, its
first and third quartiles (Python's `statistics.quantiles(n=4)`) and the
quartile spread as a share of the median: the data behind each bound in
BENCHMARK.json, which must be wider than that spread. It also prints the
share of failed operations, which must be the same on every run.

With `--traced` it adds one `--trace 1` run after each seed's untraced run
and reports the median
of each per-layer metric, and the tracing overhead: the traced run's own
end-to-end figures against the untraced ones.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TRACED_PREFIX = "xmlbench traced end_to_end "


def seeds_of(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def one_run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       cwd=os.path.dirname(HERE))
    lines = p.stdout.decode().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit("run failed: %s seed %d (exit %d)"
                         % (workload, seed, p.returncode))
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        if line.startswith(TRACED_PREFIX):
            result["traced_end_to_end"] = json.loads(line[len(TRACED_PREFIX):])
    return result


def check_names(result, spec, key, where):
    """Every metric BENCHMARK.json lists under `key`, with its unit."""
    want = {m["name"]: m["unit"] for m in spec[key]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if want != got:
        raise SystemExit("%s: metrics differ from BENCHMARK.json %s: "
                         "missing %s, extra or mis-united %s" % (
                             where, key, sorted(set(want) - set(got)),
                             sorted(set(got.items()) - set(want.items()))))


def spread(values):
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    seeds = seeds_of(a.seeds)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    for w in (wl["name"] for wl in spec["workloads"]):
        runs, traced = [], []
        for s in seeds:
            r = one_run(w, s, seconds, 0)
            check_names(r, spec, "end_to_end", "%s seed %d" % (w, s))
            runs.append(r)
            print("%s seed %d: correct=%s attempted=%d failed=%d" % (
                w, s, r["correct"], r["attempted"], r["failed"]), flush=True)
            if a.traced:  # interleaved, so drift of the box hits both alike
                t = one_run(w, s, seconds, 1)
                check_names(t, spec, "per_layer", "%s seed %d traced" % (w, s))
                traced.append(t)
        print("== %s: %d runs, seeds %s" % (w, len(runs), a.seeds))
        shares = sorted({r["failed"] / r["attempted"] for r in runs})
        print("   failed share per run: %s" % shares)
        print("   %-24s %12s %12s %12s %8s" % ("metric", "median", "q1", "q3",
                                               "iqr/med"))
        for m in sorted(runs[0]["metrics"]):
            vals = [r["metrics"][m]["value"] for r in runs]
            med, q1, q3, rel = spread(vals)
            print("   %-24s %12.4f %12.4f %12.4f %8.4f" % (m, med, q1, q3, rel))
        if a.traced:
            print("   traced: per-layer medians")
            for m in sorted(traced[0]["metrics"]):
                vals = [r["metrics"][m]["value"] for r in traced]
                print("   %-30s %14.4f %s" % (m, statistics.median(vals),
                                            traced[0]["metrics"][m]["unit"]))
            print("   tracing overhead (traced median vs untraced median)")
            for m in sorted(runs[0]["metrics"]):
                u = statistics.median(r["metrics"][m]["value"] for r in runs)
                t = statistics.median(r["traced_end_to_end"][m]["value"]
                                      for r in traced)
                print("   %-24s %12.4f %12.4f %+8.2f%%" % (
                    m, u, t, 100.0 * (t - u) / u))
        sys.stdout.flush()


if __name__ == "__main__":
    main()
