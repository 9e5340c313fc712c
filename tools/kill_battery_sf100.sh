#!/bin/bash
# Round-12 verdict ask #5: ClusterProof strict-hash battery at sf100
# with one executor SIGKILL, over the shared-frame dedup/graph subset
# (the full heavy battery's sf100 walls exceed any session — GRAFT_KEYS
# is the round-12 lever added for exactly this rung).
#
# Subset rationale:
#  - q_graph_degree_dist / q_dedup_profile: pair-graph derivation +
#    readouts (the shared frame gets built here, pre-kill)
#  - q_graph_cc_star: CC to fixpoint at ~43M edges; the key runs
#    Util.componentLabels (union-find contraction), as q_dedup_cluster does
#  - q_text_containment: shared 8-gram postings frame, derived
#    POST-kill (stresses derivation on a degraded cluster)
#  - q_text_fingerprint, q_ts_anomaly: cross-family strict coverage
#  - a_dedup_simhash, a_dedup_semantic: rows-equal sketch rungs
# SIGKILL lands before q_text_containment (GRAFT_KILL_AFTER=3), the
# same placement the sf10 rung certified.
#
# Posture: phase 1 local[16] in a 20 GiB driver (the round-8 sf100
# 16 GiB/16-slot rule); phase 2 local-cluster[4,4,12288] with 12 GiB
# executors — the sf10-rung posture; 4x12 + 20 driver = 68 GiB of the
# 125 GiB box, leaving tmpfs headroom for the shm half of the spill.
set -e
cd /root/repo
AO="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
export GRAFT_KEYS="q_graph_degree_dist,q_dedup_profile,q_graph_cc_star,q_text_containment,q_text_fingerprint,q_ts_anomaly,a_dedup_simhash,a_dedup_semantic"
export GRAFT_KILL_AFTER=3
export GRAFT_EXECUTOR_MEM=12g
export GRAFT_LOCAL_MASTER="local[16]"
export GRAFT_PHASE1_CACHE=/tmp/graft_p1_sf100.tsv
# sf100 shuffle spill exceeds the root disk's free space (the round-8
# cliff, reproduced here: phase-1 pair-graph derivation filled 57 GB);
# spread spill across the RAM-backed tmpfs and the disk — Spark
# round-robins blocks across local dirs, so capacity adds.
# fail fast, not mid-run: the spill dirs must exist before the JVM
# launches (Spark's own mkdirs is best-effort) and the sf100 fixture
# is a prerequisite, not something the battery can synthesize
mkdir -p /dev/shm/graft_spill /tmp/graft_spill
[ -d /tmp/graft_sf100 ] || { echo "missing sf100 fixture at /tmp/graft_sf100 — generate with graft.tools.GenSf1 (see BASELINE.md round-8 section)" >&2; exit 1; }
export SPARK_LOCAL_DIRS=/dev/shm/graft_spill,/tmp/graft_spill
# binary Spark dist: the Worker's executor-command builder needs the
# scala version pinned (round-7 launch note, BASELINE.md)
export SPARK_HOME=/opt/spark
export SPARK_SCALA_VERSION=2.13
export GRAFT_CLASSES=/root/repo/target/scala-2.13/classes
exec java $AO -Xmx20g -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.ClusterProof /tmp/graft_sf100 heavy "local-cluster[4,4,12288]"
