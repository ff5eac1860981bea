#!/usr/bin/env python3
"""Fold the embeddings decade runs into BENCH_FD_DECADES.json as the
`embeddings` section (r14 verdict #3, r15 verdict #2).

Unlike the r15 version, FAILED runs are RECORDED, not asserted away:
the r15 merge asserted 0-failed per run, so the 3/3-failed
semantic_dedup sf100 runs made the merge impossible and the failure
silently stayed out of the committed record (r15 verdict). A failed
run now lands in the artifact as {"sec": ..., "failed": N} and the
query's decade entry carries `n_failed`.
"""
import json
import statistics
import sys

src = sys.argv[1] if len(sys.argv) > 1 else "/tmp/emb_r16.jsonl"
dst = "BENCH_FD_DECADES.json"

runs = {}      # (decade, query) -> [{"sec":float,"failed":int}]
probes = {}    # (decade, mode) -> [{build,incr,total,build_stages?}]
account = []
for line in open(src):
    line = line.strip()
    if not line:
        continue
    r = json.loads(line)
    if "sec_failed" in r:
        d = r["dir"].split("graft_")[-1]
        parts = r["sec_failed"].split()
        entry = ({"sec": float(parts[0]), "failed": int(parts[1])}
                 if len(parts) == 2 else {"sec": None, "failed": -1, "raw": r["sec_failed"]})
        runs.setdefault((d, r["q"]), []).append(entry)
    elif "probe" in r:
        probes.setdefault((r["dir"], r["probe"]), []).append(r["r"])
    elif "vectors" in r:
        account.append(r)

out = {"queries": {}, "incremental_production": {}, "account": account}
for (d, q), ss in sorted(runs.items()):
    ok = [e["sec"] for e in ss if e.get("failed") == 0]
    ent = {"solo_runs": ss, "n_failed": sum(1 for e in ss if e.get("failed") != 0)}
    if ok:
        ent["median"] = round(statistics.median(ok), 2)
    out["queries"].setdefault(q, {})[d] = ent
for (d, m), rs in sorted(probes.items()):
    ent = {
        "runs": rs,
        "median_total": round(statistics.median(x["total_sec"] for x in rs), 2),
        "median_build": round(statistics.median(x["build_sec"] for x in rs), 2),
        "median_incr": round(statistics.median(x["incr_sec"] for x in rs), 2)}
    stages = [x["build_stages"] for x in rs if "build_stages" in x]
    if stages:
        ent["build_stages_median"] = {
            k: round(statistics.median(s[k] for s in stages), 2)
            for k in stages[0]}
    out["incremental_production"].setdefault(m, {})[d] = ent
for q, decs in out["queries"].items():
    def med(d):
        return decs.get(d, {}).get("median")
    if med("emb_sf10") and med("emb_sf1"):
        decs["step_sf1_to_sf10"] = round(med("emb_sf10") / med("emb_sf1"), 1)
    if med("emb_sf100") and med("emb_sf10"):
        decs["step_sf10_to_sf100"] = round(med("emb_sf100") / med("emb_sf10"), 1)

bench = json.load(open(dst))
bench["embeddings"] = out
bench["embeddings"]["protocol"] = (
    "r17 refresh (closes r16 verdict #1/#2/#6): same fixed-density "
    "corpora as r16 (ScaleGen familySize=10, d=512, 2000 families at "
    "cosine 0.96-0.99, fresh Gaussians beyond; /tmp/graft_emb_sf1=20k, "
    "emb_sf10=200k, emb_sf100=2M vectors), regenerated bit-identically "
    "on this box. Solo-3x fresh JVMs (a FULL 3-run series for every "
    "cell including the production probes - the r16 artifact ran 2 and "
    "labeled it solo-3x, r16 verdict ask #2), 24g heap, local[32], "
    "committed value = median over non-failed runs; failed runs are "
    "recorded per-run with n_failed. queries = driver queries via "
    "Bench (embed_dedup: autoLshParams; semantic_dedup: N/256 cells + "
    "CellScoreExec streamed cell scoring; diversity_sample/ann_pq_topk/"
    "ann_ivf_topk: driver shapes, nCells pinned for oracle replay). "
    "incremental_production = graft.EmbedProbe: dedup/topk = "
    "buildIndex(nCells=0 -> sqrtN cells) on 3/4 of the corpus + "
    "incremental semantic-dedup / top-k of the remaining 1/4 with the "
    "buildIndex stage decomposition; diversity = one-shot D4 at N/256; "
    "semstage / semstage_agg = the r17 staged "
    "decomposition of the one-shot production shape (count/coarse/"
    "fine-seeds/assign-materialize/score stages; probe-only parquet "
    "barrier between assign and score), streamed CellScorePlan vs "
    "collect_list aggregation scoring - the r16 verdict #6 A/B. "
    "account = EmbedAccount per-stage counts. Binary: post-r17 "
    "(VectorAgg primitive vector-sum k-means + minKByKey fine seeds, "
    "CellScoreExec one-exchange/one-8-byte-sort scoring, uncompressed "
    "vector stores/checkpoints - OPTIMIZATION_r17.md).")
json.dump(bench, open(dst, "w"), indent=1)
print(json.dumps(out["queries"], indent=1)[:1500])
