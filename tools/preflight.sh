#!/bin/sh
# Pre-snapshot regression gate: a compile error in main OR test code
# zeroes an entire round (round 6 lost all 144 correctness rows to one
# duplicate helper method). Run this before every end-of-round commit;
# it is deliberately cheap (~15 s warm) so there is never a reason to
# skip it. Exits non-zero on any compile or benchmark-test failure.
#
# perfbench/ compiles ../src/main against the public Traversals /
# GraphCatalog / MatrixIO signatures, and the root build never compiles
# it, so its own test run is the gate that catches a broken signature
# before a benchmark run does. Its build reads Spark's jars from
# SPARK_HOME, defaulting to the installation of the `spark-submit` on
# PATH.
set -e
cd "$(dirname "$0")/.."
sbt -batch "Test/compile"
if [ -z "$SPARK_HOME" ]; then
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")"
  export SPARK_HOME
fi
(cd perfbench && sbt -batch test)
echo "preflight OK: main + test sources compile, perfbench tests pass"
