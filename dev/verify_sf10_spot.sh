#!/bin/bash
# Round-16 directive #5: one-shot sf10 correctness spot-check of the
# plan-DIVERGENT keys — the bucketed-layout consumers and the DPP key
# plan differently from their raw siblings exactly where data grows, so
# the sf0.01 gate alone under-exercises them (AQE broadcast thresholds,
# bucket pruning, window-vs-rewrite subquery paths all flip with
# volume). Runs graft.Verify at dev/sf10, retargets the q_full oracles'
# corpus paths from sf0.01 to sf10, then replays every oracle in DuckDB
# via dev/compare.py. NOT part of the shipped library.
set -eu
cd "$(dirname "$0")/.."
OUT=${1:-/tmp/graft_verify_sf10}
KEYS=${SPOT_KEYS:-q2_full_min_cost_supplier,q11_full_important_stock,q16_full_parts_supplier_cnt,q5_full_bucketed,q17_full_bucketed,q18_full_bucketed,q21_full_bucketed,q22_full_global_sales,q22_full_anti_rewrite,op_partition_prune,q15_full_top_supplier,q20_full_excess_suppliers,q8_full_market_share}
rm -rf "$OUT"
CP="target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*"
AO=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  AO="$AO --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_ONLY=$KEYS SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-16} java $AO \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx24g -cp "$CP" graft.Verify dev/sf10 "$OUT"
sed -i 's|dev/tpch_full/sf0.01/|dev/tpch_full/sf10/|g' "$OUT/oracle_sql.json"
python3 dev/compare.py dev/sf10 "$OUT" | grep -v MISSING
