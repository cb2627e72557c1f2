#!/usr/bin/env bash
# Engine-local XML parse throughput (BASELINE.md "Engine-local XML parse
# throughput" table). Cases: from_xml vs the custom xml_children expression,
# projection vs explode shapes, the real gate queries under the bench's
# noop-write action, and `split`: the rowTag record scanner alone on one
# thread over an in-memory rootless file of nRows ~78-byte records
# (MB/s per core).
#
#   scripts/xml_microbench.sh [nRows] [case1,case2] [loop]
#
# With a case list + "loop" the selected case runs forever for jstack/async
# profiling. SPARK_GRAFT_CPUS (default 8) sets local[] parallelism;
# SPARK_GRAFT_SF_DIR points the x*_noop cases at a testdata scale.
set -euo pipefail
cd "$(dirname "$0")/.."
exec sbt -batch "runMain graft.XmlMicroBench ${1:-200000} ${2:-} ${3:-}"
