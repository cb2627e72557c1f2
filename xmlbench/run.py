"""XML-engine benchmark: one run of one workload.

    python3 xmlbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the harness first when
their sources changed (see build.py), then starts one JVM on the built
classpath (so no build tool's start-up is timed) with a fixed heap and four
task slots. The JVM generates the inputs from the seed under
`.bench_build/xmlbench/run-<pid>/`, which is removed afterwards.

The last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. Exits non-zero, printing no result,
when the build fails or the run does not finish.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("xml_flat_scan", "xml_nested_parse", "xml_stream_roundtrip")
RUN_LIMIT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build.build()
    work = os.path.join(build.build_dir(), "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t0_ms = int(time.time() * 1000)
    cmd = build.jvm_command(work, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--t0-ms", str(t0_ms)])
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.stderr.write("xmlbench: run exceeded %d s\n" % RUN_LIMIT_S)
        return 1
    except BaseException:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise
    shutil.rmtree(work, ignore_errors=True)
    lines = out.decode("utf-8", "replace").splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write("xmlbench: JVM exited with %d\n" % proc.returncode)
        return 1
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stderr.write("xmlbench: no result line\n")
        return 1
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
