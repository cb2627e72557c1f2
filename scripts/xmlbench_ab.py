#!/usr/bin/env python3
"""A/B of the XML-engine benchmark between two versions of this repository.

    python3 scripts/xmlbench_ab.py --base HEAD~1 --change HEAD \\
        --workloads xml_flat_scan --pairs 10

Each side is a git revision, exported with `git archive` into a temporary
directory (so an interrupted run leaves nothing registered in the
repository), or the path of a checkout, used as it is (`--change .` measures
the working tree). Each side builds with `xmlbench/build.py` into its own
`CARGO_TARGET_DIR` under the temporary directory. The script then runs
`xmlbench/run.py` in interleaved pairs, one run per side with the same seed,
alternating which side runs first, and prints per workload and per
end-to-end metric of `BENCHMARK.json` the median and quartiles of each side
and the number of pairs the change wins. It never edits either side.
Run it alone on the machine: each run is about 40 s.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    """`rev` of this repository's history as plain files under `dest`."""
    os.makedirs(dest)
    tar = os.path.join(dest + ".tar")
    with open(tar, "wb") as f:
        subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", rev],
                       stdout=f, check=True)
    with tarfile.open(tar) as t:
        t.extractall(dest)
    os.remove(tar)
    return dest


def side(name, spec, tmp):
    """(source dir, build dir) of one side."""
    build = os.path.join(tmp, name + "-build")
    if os.path.isdir(spec):
        return os.path.abspath(spec), build
    return export(spec, os.path.join(tmp, name)), build


def env_for(build):
    env = dict(os.environ)
    env["CARGO_TARGET_DIR"] = build
    return env


def run_once(src, build, workload, seed, seconds):
    """The last stdout line of one `xmlbench/run.py` run, parsed."""
    p = subprocess.run(
        [sys.executable, "xmlbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=src, env=env_for(build), stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"correct": False, "metrics": {}}
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True,
                    help="git revision or checkout path of the baseline")
    ap.add_argument("--change", required=True,
                    help="git revision or checkout path of the change")
    ap.add_argument("--workloads", default="xml_flat_scan,xml_nested_parse,"
                    "xml_stream_roundtrip")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1,
                    help="seed of the first pair; pair i uses seed + i")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", help="also write every run as JSON lines here")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = [(m["name"], m["better"]) for m in
                   json.load(f)["end_to_end"]]
    tmp = tempfile.mkdtemp(prefix="xmlbench_ab-")
    out = open(args.out, "w") if args.out else None
    try:
        sides = {"base": side("base", args.base, tmp),
                 "change": side("change", args.change, tmp)}
        for name, (src, build) in sides.items():
            subprocess.run([sys.executable, "xmlbench/build.py"], cwd=src,
                           env=env_for(build), check=True,
                           stdout=subprocess.DEVNULL)
        for workload in args.workloads.split(","):
            runs = {"base": [], "change": []}
            for i in range(args.pairs):
                seed = args.seed + i
                order = ["base", "change"] if i % 2 == 0 else \
                    ["change", "base"]
                for name in order:
                    r = run_once(*sides[name], workload, seed, args.seconds)
                    runs[name].append(r)
                    if out:
                        out.write(json.dumps({"workload": workload,
                                              "side": name, "seed": seed,
                                              "pair": i, "result": r}) + "\n")
                        out.flush()
            report(workload, runs, metrics)
    finally:
        if out:
            out.close()
        shutil.rmtree(tmp, ignore_errors=True)


def report(workload, runs, metrics):
    ok = {k: sum(1 for r in v if r.get("correct")) for k, v in runs.items()}
    print("%s  correct runs: base %d/%d, change %d/%d" % (
        workload, ok["base"], len(runs["base"]), ok["change"],
        len(runs["change"])))
    print("  %-22s %28s %28s %6s" % ("metric", "base median [q1, q3]",
                                      "change median [q1, q3]", "wins"))
    for name, better in metrics:
        def vals(k):
            return [r["metrics"].get(name, {}).get("value") for r in runs[k]]
        b, c = vals("base"), vals("change")
        if not any(v is not None for v in b + c):
            continue
        wins = sum(1 for x, y in zip(b, c) if x is not None and y is not None
                   and (y < x if better == "lower" else y > x))
        cells = []
        for xs in (b, c):
            xs = sorted(v for v in xs if v is not None)
            if not xs:
                cells.append("%28s" % "-")
                continue
            q1, q3 = quartiles(xs)
            cells.append("%10.2f [%7.2f, %7.2f]" % (
                statistics.median(xs), q1, q3))
        print("  %-22s %s %s %3d/%d" % (name, cells[0], cells[1], wins,
                                         len(b)))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
