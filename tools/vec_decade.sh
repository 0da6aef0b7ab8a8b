#!/bin/bash
# Vec-decade measurement (round-8 verdict #2): run the near-dup tier on
# vectors-only fixtures where the DATA term dominates the per-query fixed
# floor. Dev tooling; emits one bench JSON per (fixture, query-set) into
# /tmp. Fixtures from tools/gen_vecs.py (gitignored). Run on an IDLE box.
set -e
cd /root/repo
HIER=embedding_near_dup_hier,semantic_dedup_hier,semantic_dedup_srp_bucket

run() { # dir tag queries
  SPARK_GRAFT_SF_DIR="$1" SPARK_GRAFT_ONLY="$3" \
    sbt -batch 'runMain graft.Bench' 2>&1 | grep '"metric"' | sed 's/\[info\] //' \
    > "/tmp/BENCH_vec_$2.json"
  echo "== $2: $(python3 -c "import json;d=json.load(open('/tmp/BENCH_vec_$2.json'));print({k:round(v,2) for k,v in d['queries'].items()})")"
}

run /root/repo/testdata_vec200k v200k_hier "$HIER"
run /root/repo/testdata_vec632k v632k_hier "$HIER"
run /root/repo/testdata_vec2m   v2m_hier   "$HIER"
