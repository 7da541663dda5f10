#!/bin/bash
# Full local gate: oracle parity at all scales + tests + bench.
# pipefail: an oracle mismatch (check.py exits 1) fails the gate even
# though its output is piped through tail.
set -eo pipefail
cd /root/repo
for sf in sf0.001 sf0.01 sf0.1; do
  sbt -batch "runMain graft.Verify /root/testdata/$sf target/verify_$sf" 2>&1 | grep -E "\[verify\]" || true
  python3 tools/check.py /root/testdata/$sf target/verify_$sf | tail -1
done
# the same sf0.01 oracle with GlobalRank's small-input window off, so both
# sides of its size gate are checked (localMaxBytes=0: always chunked).
# The output dir is cleared first so a failed run leaves check.py nothing
# to grade; ../testdata is the fixture dir above, named from the checkout.
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
sbt -batch test 2>&1 | grep -E "Tests:|FAILED"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" 2>/dev/null | grep metric
