#!/usr/bin/env bash
# Codegen working set of one benchmark iteration (verify recipe 9).
#
#   scripts/codegen_working_set.sh <workload> [seed] [jvms]
#
# Spark's codegen cache holds 100 entries (spark.sql.codegen.cache.maxEntries);
# an iteration whose generated classes need more recompiles some of them every
# time. This script:
#   1. runs <workload> once with a cache large enough that nothing is evicted
#      and prints how many entries the first iteration compiles, per
#      benchmark span (`check` is the workload's result check);
#   2. runs it in <jvms> fresh JVMs at the default cache size and prints the
#      compiles of each timed iteration.
#
# It works in a `git archive HEAD` copy under a temporary directory: the
# copy's piqibench/Main.scala and Workloads.scala get `[iter]` and `[span]`
# stderr markers and the CodeGenerator logger at DEBUG ("Code generated in"
# lines). The checkout, its piqibench/ and its piqibench/work/ are not
# touched. The unbounded cache comes from JAVA_TOOL_OPTIONS: SparkConf reads
# `spark.*` system properties, so no source sets it. Each run is
# `piqibench/run.py --seconds 8 --trace 0`; the first also builds the copy.
set -euo pipefail

wl=${1:?usage: scripts/codegen_working_set.sh <workload> [seed] [jvms]}
seed=${2:-7}
jvms=${3:-4}
repo=$(git rev-parse --show-toplevel)
tmp=$(mktemp -d "${TMPDIR:-/tmp}/codegen_ws.XXXXXX")
trap 'rm -rf "$tmp"' EXIT
git -C "$repo" archive HEAD | tar -x -C "$tmp"

m=$tmp/piqibench/src/main/scala/piqibench/Main.scala
w=$tmp/piqibench/src/main/scala/piqibench/Workloads.scala
sed -i 's/^    s.sparkContext.setLogLevel("WARN")$/&\n    org.apache.logging.log4j.core.config.Configurator.setLevel("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator", org.apache.logging.log4j.Level.DEBUG)/' "$m"
sed -i 's/^      iter += 1$/&\n      System.err.println(s"[iter] $iter $label")/' "$m"
sed -i 's/^        val (out, wall) = secs(ctx.span("iteration")(wl.job(ctx, shape, inputs, iter)))$/&\n        System.err.println("[span] check")/' "$m"
sed -i 's/^        ledger.record(s"$label $iter", errors)$/&\n        System.err.println("[iter] end")/' "$m"
sed -i 's/^  def span\[T\](name: String)(body: => T): T = tracer.span(name)(body)$/  def span[T](name: String)(body: => T): T = { System.err.println(s"[span] $name"); tracer.span(name)(body) }/' "$w"
for f in "$m" "$w"; do
  git -C "$repo" diff --no-index --quiet "$repo/piqibench/src/main/scala/piqibench/$(basename "$f")" "$f" \
    && { echo "codegen_working_set: could not instrument $(basename "$f")" >&2; exit 1; }
done
[ "$(grep -c '\[iter\]\|\[span\]\|Level.DEBUG' "$m")" -eq 4 ] \
  || { echo "codegen_working_set: Main.scala did not take all four markers" >&2; exit 1; }

run() { (cd "$tmp" && python3 piqibench/run.py --workload "$wl" --seed "$seed" --seconds 8 --trace 0) 2> "$1" >/dev/null; }

echo "[codegen_working_set] $wl seed=$seed: first iteration, unbounded cache (entries per span)"
JAVA_TOOL_OPTIONS="-Dspark.sql.codegen.cache.maxEntries=100000" run "$tmp/unbounded.err"
awk '/^\[iter\] 1 /{on=1; span="iteration"} /^\[iter\] end/{on=0}
     on && /^\[span\] /{span=$2; if (!(span in n)) { order[++k]=span; n[span]=0 }}
     on && /Code generated in/{n[span]++; total++}
     END{for (i=1; i<=k; i++) printf "  %-28s %d\n", order[i], n[order[i]]; printf "  %-28s %d\n", "total", total}' \
  "$tmp/unbounded.err"

echo "[codegen_working_set] default cache, $jvms fresh JVMs: compiles per timed iteration"
for j in $(seq 1 "$jvms"); do
  run "$tmp/default-$j.err"
  printf '  jvm %d: ' "$j"
  awk '/^\[iter\] [0-9]+ timed/{on=1; n=0} /^\[iter\] end/{if (on) printf "%d ", n; on=0}
       on && /Code generated in/{n++} END{print ""}' "$tmp/default-$j.err"
done
