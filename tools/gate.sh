#!/bin/bash
# Full local gate: oracle parity at all scales + tests + bench.
# pipefail: an oracle mismatch (check.py exits 1) fails the gate even
# though its output is piped through tail.
set -eo pipefail
cd /root/repo
# one checkpoint policy: every checkpoint goes through graft.util.Ckpt, so
# a raw localCheckpoint/checkpoint call anywhere else fails the gate
raw=$(grep -rn '\.localCheckpoint(\|\.checkpoint(' src/main --include=*.scala \
  | grep -v '^src/main/scala/graft/util/' || true)
if [ -n "$raw" ]; then
  echo "raw checkpoint calls outside graft.util (use Ckpt.narrow):"; echo "$raw"
  exit 1
fi
# the src/main line count (ROADMAP E's figure), so each change reads its
# count from the gate
echo "src/main lines: $(find src/main -name '*.scala' | xargs cat | wc -l)"
for sf in sf0.001 sf0.01 sf0.1; do
  sbt -batch "runMain graft.Verify /root/testdata/$sf target/verify_$sf" 2>&1 | grep -E "\[verify\]" || true
  python3 tools/check.py /root/testdata/$sf target/verify_$sf | tail -1
done
# the same sf0.01 oracle with the one small-input rule off
# (GlobalRank.local; localMaxBytes=0 forces every scale form: the chunked
# ranks and sweeps, the rank-selecting median/quartiles and
# varda_annotate_multi's denominator sweep), so both sides of it are
# checked. The output dir is cleared first so a failed run leaves check.py
# nothing to grade; ../testdata is the fixture dir above, named from the
# checkout.
rm -rf target/verify_sf0.01_chunked
EXTRA_JAVA_OPTS=-Dspark.graft.globalRank.localMaxBytes=0 tools/run_main.sh Verify \
  ../testdata/sf0.01 target/verify_sf0.01_chunked 2>&1 | grep -E "\[verify\]" || true
python3 tools/check.py ../testdata/sf0.01 target/verify_sf0.01_chunked | tail -1
# the same sf0.01 oracle with AQE off, so results do not depend on the
# adaptive plan (cleared first, like the chunked cell)
rm -rf target/verify_sf0.01_noaqe
EXTRA_JAVA_OPTS=-Dspark.sql.adaptive.enabled=false tools/run_main.sh Verify \
  ../testdata/sf0.01 target/verify_sf0.01_noaqe 2>&1 | grep -E "\[verify\]" || true
python3 tools/check.py ../testdata/sf0.01 target/verify_sf0.01_noaqe | tail -1
# the same sf0.01 oracle with reliable checkpoints (graft.util.Ckpt writes
# to the checkpoint dir instead of executor storage; cleared first)
rm -rf target/verify_sf0.01_reliable
EXTRA_JAVA_OPTS=-Dspark.graft.checkpoint=reliable tools/run_main.sh Verify \
  ../testdata/sf0.01 target/verify_sf0.01_reliable 2>&1 | grep -E "\[verify\]" || true
python3 tools/check.py ../testdata/sf0.01 target/verify_sf0.01_reliable | tail -1
# the same sf0.01 oracle at 7 shuffle partitions: Session.local sets
# spark.sql.shuffle.partitions (over any -D flag) and the local[n] width
# from SPARK_GRAFT_CPUS (cleared first)
rm -rf target/verify_sf0.01_p7
SPARK_GRAFT_CPUS=7 tools/run_main.sh Verify \
  ../testdata/sf0.01 target/verify_sf0.01_p7 2>&1 | grep -E "\[verify\]" || true
python3 tools/check.py ../testdata/sf0.01 target/verify_sf0.01_p7 | tail -1
# the same sf0.01 oracle at ONE partition and local[1] (one task thread),
# under a timeout so a key that hangs at one core fails the cell instead
# of stalling the gate (cleared first)
rm -rf target/verify_sf0.01_p1
SPARK_GRAFT_CPUS=1 timeout 3600 tools/run_main.sh Verify \
  ../testdata/sf0.01 target/verify_sf0.01_p1 2>&1 | grep -E "\[verify\]" || true
python3 tools/check.py ../testdata/sf0.01 target/verify_sf0.01_p1 | tail -1
# the same sf0.01 oracle with the interval-join rewrite on for every key:
# spark.sql.extensions registers graft.plans.RewriteIntervalJoin on the
# session and spark.graft.rewriteIntervalJoin enables it, so every naive
# range join any key plans is rewritten, not only join_range_rewrite's
# (cleared first)
rm -rf target/verify_sf0.01_rewrite
EXTRA_JAVA_OPTS="-Dspark.sql.extensions=graft.plans.GraftExtensions -Dspark.graft.rewriteIntervalJoin=true" \
  tools/run_main.sh Verify ../testdata/sf0.01 target/verify_sf0.01_rewrite 2>&1 | grep -E "\[verify\]" || true
python3 tools/check.py ../testdata/sf0.01 target/verify_sf0.01_rewrite | tail -1
sbt -batch test 2>&1 | grep -E "Tests:|FAILED"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" 2>/dev/null | grep metric
