#!/usr/bin/env python3
"""Generate the OPTIMIZATION_r15.md operator-checklist table from the
committed round record (BENCH_LOCAL.json) + the plan sweep
(plans/r15/plan_sweep_final.tsv). Regenerable evidence: every number in
the emitted table is derivable from those two committed files.

The sweep's operator counts are INITIAL AQE plans (isFinalPlan=false):
the sweep explained each frame's own QueryExecution, which its noop
write never executes. The final-plan record is
plans/r16/lab_plans_final.tsv (graft.Lab --plans); the two differ on 36
of 166 rows.

Usage: tools/r15_checklist.py [BENCH_LOCAL.json] [plan_sweep_final.tsv]
"""
import json
import sys

FAMILIES = [
    ("p", "catalog search predicates (p1-p11)"),
    ("w", "window / event-time ops (w1-w10)"),
    ("stac", "catalog search combined"),
    ("set", "set algebra"),
    ("sort", "top-k"),
    ("sql", "TPC-H-shaped SQL (Q1/Q3/Q5)"),
    ("a", "aggregation plane (a1-a21)"),
    ("f", "scalar/format functions (f1-f16)"),
    ("j", "join plane (zonal, as-of, serving)"),
    ("d", "dedup/curation (minhash, LSH, spans, pipeline)"),
    ("s", "similarity + serving (ANN, overviews)"),
    ("t", "text/LLM pipeline (quality, tokens, packing)"),
    ("m", "multimodal (image/audio/frames)"),
    ("v", "transform dispatch"),
    ("x", "engine orchestration (triggers, merge)"),
]

# r15 dispositions (OPTIMIZATION_r15.md work items)
OPT = {
    "f11_input_hash": "OPT §3 key-exchange below md5+agg",
    "d_incremental_endstate":
        "OPT §4 hashed verify frame + §5 cap-collapse + §9a "
        "fp1x/spanwin/arrverify",
    "d_pipeline_e2e": "OPT §9b array verify, one fewer job (−5% A/B); "
        "§6 boundary optimum otherwise HELD",
}
HELD = {
    "s_ann_recall_eval": "HELD §7 dual-leg definitional, floor-bound",
    "x2_idempotent_merge": "HELD §7 full-outer SMJ is the scale shape; "
        "SHJ A/B within noise",
    "j1_zonal_stats": "HELD §7 SMJ flag AQE-resolved (triage)",
    "j1b_zonal_levels": "HELD §7 SMJ flag AQE-resolved (triage)",
    "a19_threshold_area": "HELD §7 SMJ flag AQE-resolved (triage)",
    "s_embed_neardup": "HELD §7 SMJ flags AQE-resolved (triage)",
    "s_ann_ivf": "HELD §7 SMJ flag AQE-resolved (triage)",
    "s_ann_lsh": "HELD §7 SMJ flag AQE-resolved (triage)",
    "d_containment": "HELD §7 SMJ flag AQE-resolved (triage)",
    "d_ngram_jaccard_capped": "HELD §7 SMJ flag AQE-resolved (triage)",
    "s_ann_ivfpq_resid": "HELD §7 SMJ flag AQE-resolved (triage)",
    "d_decontaminate_ngram": "re-measured (VERDICT #6): 0.467 s, r14 "
        "regression was noise",
}


def family(q):
    for pre, _ in sorted(FAMILIES, key=lambda x: -len(x[0])):
        if q.startswith(pre):
            return pre
    return "?"


def main():
    bench = sys.argv[1] if len(sys.argv) > 1 else "BENCH_LOCAL.json"
    sweep = (sys.argv[2] if len(sys.argv) > 2
             else "plans/r15/plan_sweep_final.tsv")
    q = json.load(open(bench))["queries"]
    rows = {}
    with open(sweep) as f:
        hdr = f.readline().strip().split("\t")
        for line in f:
            p = line.strip().split("\t")
            rows[p[0]] = dict(zip(hdr[1:], p[1:]))

    fams = {}
    for name, sec in q.items():
        fams.setdefault(family(name), []).append((name, sec))

    print("| family | paths | sum s | max row (s) | plan audit (sweep) | disposition |")
    print("|---|---|---|---|---|---|")
    for pre, desc in FAMILIES:
        if pre not in fams:
            continue
        qs = sorted(fams[pre], key=lambda kv: -kv[1])
        tot = sum(v for _, v in qs)
        top = qs[0]
        def tot_col(c):
            return sum(int(rows[n].get(c, 0)) for n, _ in qs
                       if n in rows and rows[n].get(c, "ERR") != "ERR")
        audit = (f"exch {tot_col('exchanges')}, smj {tot_col('smj')}, "
                 f"bnlj {tot_col('bnlj')}, cart {tot_col('cartesian')}")
        marks = [OPT.get(n) or HELD.get(n) for n, _ in qs]
        marks = sorted({m for m in marks if m})
        disp = "; ".join(marks) if marks else "FLOOR (all rows sub-second)"
        print(f"| {pre}* — {desc} | {len(qs)} | {tot:.2f} "
              f"| {top[0]} {top[1]:.3f} | {audit} | {disp} |")

    print()
    print("Rows above 0.45 s on the r15 record (everything else is at the")
    print("measured per-job floor; ProfFloor r13: ~97% scheduling at sf0.1):")
    print()
    print("| query | r15 s | disposition |")
    print("|---|---|---|")
    for name, sec in sorted(q.items(), key=lambda kv: -kv[1]):
        if sec < 0.45:
            break
        disp = OPT.get(name) or HELD.get(name) or "FLOOR/untouched"
        print(f"| {name} | {sec:.3f} | {disp} |")


if __name__ == "__main__":
    main()
