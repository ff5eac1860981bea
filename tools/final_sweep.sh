#!/bin/bash
# Round-15 final measurement sweep, fully sequential:
#  1. embeddings decade probe (solo-3x queries at 3 decades)
#  2. multimodal_meta sub-3s solo-3x at sf10 (r14 #6)
#  3. r13-binary A/B: tick_qc sf10 + multimodal_decode/feature_ic sf0.1 (r14 #7)
set -u
OUT=/tmp/emb_final.jsonl
AB=/tmp/r13_ab.jsonl
cd "$(dirname "$0")/.." || exit 1
rm -f "$OUT" "$AB" /tmp/sub3.jsonl
for d in emb_sf1 emb_sf10 emb_sf100; do
  for q in embed_dedup semantic_dedup ann_ivf_topk; do
    tools/solo3x.sh "/tmp/graft_$d" "$q" 3 24g "$OUT"
    echo "done $d $q"
  done
done
tools/solo3x.sh /tmp/graft_sf10 multimodal_meta 3 24g /tmp/sub3.jsonl
echo SUB3_DONE
run_one() {
  local S
  S=$(cd "$1" && SPARK_GRAFT_SF_DIR="$3" SPARK_GRAFT_ONLY="$4" SPARK_GRAFT_CPUS=32 \
    GRAFT_HEAP=24g tools/graftjava.sh graft.Bench 2>/dev/null \
    | grep '"metric"' | tail -1 \
    | python3 -c "import json,sys; print(json.load(sys.stdin)['queries']['$4'])")
  echo "{\"bin\":\"$2\",\"q\":\"$4\",\"dir\":\"$3\",\"sec\":$S}" >> "$AB"
}
for i in 1 2 3; do
  run_one /root/repo cur /tmp/graft_sf10 tick_qc
  run_one /tmp/wt_r13 r13 /tmp/graft_sf10 tick_qc
done
for q in multimodal_decode feature_ic; do
  for i in 1 2 3; do
    run_one /root/repo cur /root/testdata/sf0.1 "$q"
    run_one /tmp/wt_r13 r13 /root/testdata/sf0.1 "$q"
  done
done
echo FINAL_SWEEP_DONE
