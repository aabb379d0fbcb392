#!/bin/bash
# Build-ready copy of this checkout in which graft.core.Par.all runs its
# legs one after another on the calling thread: the baseline that tells
# whether a setup's Par.all legs pay for their threads. Only Par.all's
# body differs; every call site, plan and output is the checkout's own.
# Usage:
#   tools/par_seq_twin.sh <dest>
#   AB_BASE=<dest> SPARK_GRAFT_CPUS=4 SPARK_GRAFT_SF_DIR=<sf dir> \
#     SPARK_GRAFT_QUIET_WAIT=0 SPARK_GRAFT_QUIET_GATE=0 \
#     tools/ab.sh <rounds> parlegs <queries>
#   tools/ab_report.py parlegs      # "base" = sequential, "new" = legs
# A speedup above 1 means the legs are faster than the sequential form.
set -e
DEST=${1:?dest}
SRC=$(cd "$(dirname "$0")/.." && pwd)
rm -rf "$DEST"
mkdir -p "$DEST"
(cd "$SRC" && tar -cf - build.sbt project/build.properties src tools) |
  (cd "$DEST" && tar -xf -)
python3 - "$DEST/src/main/scala/graft/core/Par.scala" <<'EOF'
import sys
p = sys.argv[1]
s = open(p).read()
sig = "  def all(s: SparkSession, legs: Seq[() => Unit]): Unit = {"
assert s.count(sig) == 1, "Par.all signature not found"
s = s.replace(sig, "  def all(s: SparkSession, legs: Seq[() => Unit]): Unit =\n"
              "    legs.foreach(_())\n\n"
              "  private def allPar(s: SparkSession, legs: Seq[() => Unit]): Unit = {")
open(p, "w").write(s)
EOF
echo "sequential twin at $DEST"
