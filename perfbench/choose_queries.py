#!/usr/bin/env python3
"""Selects and freezes the catalog query lists.

    python3 perfbench/choose_queries.py PROBE_A.tsv PROBE_B.tsv > perfbench/catalog.json

Each PROBE file is the table `run.py --probe` writes, from two separate
runs of the same commit: name, module, cold s, warm s, construction s,
jobs, construction jobs, result rows, result digest.

The catalog workload runs two groups of queries, chosen by rules
applied to the warm run of PROBE_A:
- catalog_multijob: queries launching at least 15 Spark jobs;
- catalog_lean: queries launching at most 4 jobs whose construction
  (the registry call, before the returned DataFrame's action) takes
  under 50 ms.
Queries of SparkEntry.constQueries read checked-in fixtures, not the
catalog tables, and are never probed. Each group is then cut to the
queries whose first run takes at most COLD_CAP_S (a query that builds a
large store on first use would dominate set-up) and that fit its pass
budget: round robin over the owning
modules, each module's cheapest warm query first, kept while the pass
stays under PASS_BUDGET_S. A query whose
digest differs between the two probes is marked unstable: it stays in
its list, and its output check compares row counts only.
"""
import json
import sys

PASS_BUDGET_S = {"catalog_multijob": 1.2, "catalog_lean": 0.6}
COLD_CAP_S = 2.5
RULES = {
    "catalog_multijob": ("jobs >= 15", lambda r: r["jobs"] >= 15),
    "catalog_lean": ("jobs <= 4 and construct_s < 0.05",
                     lambda r: r["jobs"] <= 4 and r["construct_s"] < 0.05),
}


def read(path):
    rows = {}
    with open(path) as fh:
        for line in fh:
            f = line.rstrip("\n").split("\t")
            if len(f) < 9:
                continue
            rows[f[0]] = {"name": f[0], "module": f[1], "cold_s": float(f[2]),
                          "warm_s": float(f[3]), "construct_s": float(f[4]),
                          "jobs": int(f[5]), "construct_jobs": int(f[6]),
                          "rows": int(f[7]), "digest": f[8],
                          "tables": f[9].split(",") if len(f) > 9 and f[9] else []}
    return rows


def main(a_path, b_path):
    a, b = read(a_path), read(b_path)
    ok = {n: r for n, r in a.items() if r["warm_s"] >= 0 and r["digest"] != "failed"}
    out = {"rules": {}, "pass_budget_s": PASS_BUDGET_S, "cold_cap_s": COLD_CAP_S, "groups": {}}
    for wl, (text, rule) in RULES.items():
        eligible = sorted((r for r in ok.values() if rule(r)), key=lambda r: r["name"])
        # Round robin over the owning modules, cheapest query first, so
        # the cut keeps as many modules as the budget allows.
        by_module = {}
        for r in sorted(eligible, key=lambda r: (r["warm_s"], r["name"])):
            by_module.setdefault(r["module"], []).append(r)
        ranked = sorted(by_module.values(), key=lambda rs: (rs[0]["warm_s"], rs[0]["module"]))
        order = [rs[i] for i in range(max(map(len, ranked))) for rs in ranked if i < len(rs)]
        chosen, total = [], 0.0
        for r in (r for r in order if r["cold_s"] <= COLD_CAP_S):
            if total + r["warm_s"] > PASS_BUDGET_S[wl]:
                break
            chosen.append(r)
            total += r["warm_s"]
        chosen.sort(key=lambda r: r["name"])
        out["rules"][wl] = text
        out["groups"][wl] = {
            "eligible": [r["name"] for r in eligible],
            "eligible_jobs_per_pass": sum(r["jobs"] for r in eligible),
            "eligible_warm_s_per_pass": round(sum(r["warm_s"] for r in eligible), 3),
            "jobs_per_pass": sum(r["jobs"] for r in chosen),
            "warm_s_per_pass": round(total, 3),
            "queries": [{
                "name": r["name"], "module": r["module"], "jobs": r["jobs"],
                "construct_jobs": r["construct_jobs"],
                "construct_s": round(r["construct_s"], 4), "warm_s": round(r["warm_s"], 4),
                "rows": r["rows"], "digest": r["digest"],
                "tables": b.get(r["name"], r)["tables"],
                "unstable": b.get(r["name"], {}).get("digest") != r["digest"],
            } for r in chosen],
        }
    out["notes"] = (
        "eligible/eligible_jobs_per_pass are each group before the cut. The probe "
        "behind the groups' definition counted 35 queries/893 jobs (multijob) and "
        "66/248 (lean); on these tables the same rules give 35/893 and 65/245, one "
        "lean query sitting on the 50 ms construction cut. A traced catalog pass "
        "reports exec.jobs = the sum of jobs_per_pass over both groups.")
    out["analyze_tables"] = sorted({t for g in out["groups"].values()
                                    for q in g["queries"] for t in q["tables"]})
    json.dump(out, sys.stdout, indent=1)
    sys.stdout.write("\n")


if __name__ == "__main__":
    main(*sys.argv[1:3])
