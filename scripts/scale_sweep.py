#!/usr/bin/env python3
"""Round-11 scale-growth smoke (VERDICT r10 ask #6): run the adaptivity-
sensitive headline queries at 1x (sf0.1), 3x and 10x corpus size (fixtures
from make_scale_fixtures.py), record per-query runtimes and the derived
adaptive constants, and fit the growth exponent per query. Dev-side
tooling — NOT part of the library runtime; drives the same graft.Bench
main the round driver runs.

Usage: scale_sweep.py [tag] [only]   (expects scratch/scale/x{3,10})
  tag:  output suffix, default r11 (writes bench_logs/scale_sweep_<tag>.json)
  only: comma-separated query-name substrings for SPARK_GRAFT_BENCH_ONLY;
        default = the r11 adaptivity-sensitive set below. Round 12 runs
        the EXPENSIVE-TAIL set (verdict r11 ask #2):
        q166_,q183_,q207_,q152_,q157_,q167_,q169_,q175_
"""
import json, math, os, shutil, subprocess, sys

ROOT = "/root/repo"
DIRS = [("x1", 1, "/root/testdata/sf0.1"),
        ("x3", 3, f"{ROOT}/scratch/scale/x3"),
        ("x10", 10, f"{ROOT}/scratch/scale/x10"),
        # round-16 verdict task #4: the 100-TB claims previously
        # extrapolated from a 10x span; the x30 leg triples it
        ("x30", 30, f"{ROOT}/scratch/scale/x30"),
        # round-17 verdict task #6: one x100 leg for the highest-alpha
        # paths (q242 0.81, q231 0.56) — a LIGHT fixture (docs+emb
        # scaled, relational tables copied), so only run doc/embedding
        # queries against it
        ("x100", 100, f"{ROOT}/scratch/scale/x100")]
DIRS = [t for t in DIRS if os.path.isdir(t[2])]
# the adaptivity-sensitive subset of the bench headline: MinHash-LSH
# banding + df caps (q27), hyperplane LSH plane count (q102), BPE encode
# memo (q115), positional-gram df caps (q120), IVF sqrt(n) centroids +
# PQ codes (q131), the distributed vocab rank (q178, q189), the novelty
# curve's gram rollups (q186)
TAG = sys.argv[1] if len(sys.argv) > 1 else "r11"
ONLY = sys.argv[2] if len(sys.argv) > 2 else \
    "q27_,q102_,q115_,q120_,q131_,q178_,q186_,q189_"

# Derived adaptive constants (df_cap / ivf_k / lsh_planes) are NOT
# recomputed here: graft.Bench emits what the engine actually derived
# as "derived_constants" in bench_full_last.json (round-11 advisor
# finding — a Python mirror of the Scala rules would silently go stale
# when the formulas change).

# Queries verified to read ONLY documents/embeddings — the tables a
# "light" fixture actually scales (round-17 advisory: a relational
# query run against a light leg would report a silently flat alpha
# that reads as "scales perfectly" rather than "fixture not scaled").
# Any query outside this set gets alpha=None + a fixture_note on light
# legs. Extend deliberately when a new doc/embedding query joins the
# sweep.
LIGHT_SCALED = ("q19_", "q20_", "q26_", "q27_", "q28_", "q77_", "q102_",
                "q113_", "q115_", "q120_", "q121_", "q122_", "q131_",
                "q178_", "q186_", "q189_", "q210_", "q217_", "q221_",
                "q231_", "q238_", "q240_", "q242_", "q243_", "q244_",
                "q245_", "q246_", "q248_")

def fixture_mode(d):
    p = os.path.join(d, "_fixture_mode.json")
    if os.path.isfile(p):
        return json.load(open(p)).get("mode", "full")
    # driver-generated sf dirs and pre-r18 fixtures carry no marker;
    # everything except the light x100 leg was generated full
    return "full"

results = {}
for tag, scale, d in DIRS:
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": d, "SPARK_GRAFT_CPUS": "32",
           "SPARK_GRAFT_BENCH_ONLY": ONLY}
    print(f"=== {tag} ({d}) ===", flush=True)
    subprocess.run(["sbt", "-batch", "runMain graft.Bench"], cwd=ROOT,
                   env=env, check=True,
                   stdout=open(f"/tmp/sweep_{tag}.log", "w"),
                   stderr=subprocess.STDOUT)
    full = json.load(open(f"{ROOT}/bench_logs/bench_full_last.json"))
    results[tag] = {"scale": scale, "dir": d,
                    "fixture_mode": fixture_mode(d),
                    "constants": full["derived_constants"],
                    "queries": full["queries"], "runs": full.get("runs", {})}
    shutil.copyfile(f"{ROOT}/bench_logs/bench_full_last.json",
                    f"/tmp/sweep_full_{tag}.json")

# growth exponent per query: t ~ n^alpha fitted on the x1 -> x10 span
# (and x1 -> x3 as the short-span cross-check)
expo = {}
for q in results["x1"]["queries"]:
    t1 = results["x1"]["queries"][q]
    row = {"t_x1": t1}
    for s, scale, _ in DIRS:
        if s == "x1":
            continue
        ts = results.get(s, {}).get("queries", {}).get(q, -1)
        row[f"t_{s}"] = ts
        light_unscaled = results[s]["fixture_mode"] == "light" \
            and not q.startswith(LIGHT_SCALED)
        row[f"alpha_{s}"] = round(math.log(ts / t1) / math.log(scale), 3) \
            if t1 > 0 and ts > 0 and not light_unscaled else None
        if light_unscaled:
            row[f"fixture_note_{s}"] = \
                "light fixture does not scale this query's tables"
    if t1 > 0:
        expo[q] = row

out = {"only": ONLY, "scales": results, "exponents": expo}
path = f"{ROOT}/bench_logs/scale_sweep_{TAG}.json"
json.dump(out, open(path, "w"), indent=1)
print(json.dumps(expo, indent=1))
print(f"wrote {path}")
