#!/usr/bin/env python3
"""The repository's benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine together with the benchmark's JVM program (sbt, in
perfbench/), makes the workload's inputs from the seed, runs one fresh
local[4] Spark process, checks every output, and prints each metric with
its unit. The last stdout line is one JSON object: correct, attempted,
failed and metrics (end-to-end metrics with --trace 0, per-layer metrics
with --trace 1). Workloads, metrics and the layer table are documented in
BENCHMARK.json. Everything it writes stays under perfbench/work/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
RUN = os.path.join(WORK, "run")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CORES = 4
WORKLOADS = ("mr_wordindex", "iterative_cold_warm")
# Offline build: resolve only from the local caches named in ~/.sbt/repositories.
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories")
            + " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "3g"
# MapReduce corpus: files, total size, vocabulary size and Zipf exponent.
CORPUS_FILES, CORPUS_BYTES, VOCAB, ZIPF_S = 16, 8_000_000, 30_000, 1.1
MAX_COPIES = 8  # Main.MaxCopies
LETTERS = ("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
           "àáâäåæçèéêëíîïñóôöøúûüýßœ" "αβγδεζηθικλμνξοπρστυφχψω" "абвгдежзийклмнопрстуфхцчшщыэюя")
HOT_WORDS = ("the", "de", "und", "и", "la", "και", "of", "в", "der", "le", "to", "на", "die",
             "et", "το", "and", "не", "das", "les", "que")
SEPARATORS = [" "] * 12 + [", ", ". ", "\n", "; ", ": ", " - ", "! ", "? ", " (", ") ",
                           " «", "» ", " — ", "… ", " 1984 ", " 42 ", "'", "\n\n"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build -----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compiles engine + JVM program once per source state; returns the classpath."""
    stamp_file, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"], cwd=HERE, env=env, stdout=out,
                      timeout=deadline - time.time())
    lines = open(log).read().strip().splitlines()
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (rc={rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_proc(cmd, timeout, **kw):
    """Runs a child process to completion; on timeout kills it and waits."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **kw)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return -9


# ---- inputs ----------------------------------------------------------------

def make_corpus(out_dir, seed, n_files, total_bytes):
    """Writes a Zipf-worded multi-file corpus; returns the expected
    wordcount (word -> n) and indexer (word -> sorted file names) results.
    Every word is made of letters only and every separator of non-letters,
    so the expected outputs follow from the word draws alone."""
    rng = np.random.default_rng(seed)
    # The most frequent words are fixed and the other words' lengths follow
    # their rank; only letters and draws depend on the seed. Every seed then
    # gives the same token count, nearly the same byte count, and the same
    # hot keys, so the reduce skew does not change with the seed.
    vocab, seen, letters = list(HOT_WORDS), set(HOT_WORDS), np.array(list(LETTERS))
    while len(vocab) < VOCAB:
        w = "".join(rng.choice(letters, size=3 + len(vocab) * 7 % 9))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    vocab = np.array(vocab, dtype=object)
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    p /= p.sum()
    mean_len = float((p * np.array([len(w.encode()) for w in vocab])).sum()) + 1.6
    words_per_file = int(total_bytes / n_files / mean_len)
    sep_p = np.ones(len(SEPARATORS)) / len(SEPARATORS)
    counts = np.zeros(VOCAB, dtype=np.int64)
    docs = [[] for _ in range(VOCAB)]
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_files):
        name = f"doc-{i:02d}.txt"
        idx = rng.choice(VOCAB, size=words_per_file, p=p)
        seps = rng.choice(len(SEPARATORS), size=words_per_file, p=sep_p)
        parts = [None] * (2 * words_per_file)
        parts[0::2] = vocab[idx]
        parts[1::2] = [SEPARATORS[s] for s in seps]
        with open(os.path.join(out_dir, name), "w", encoding="utf-8") as f:
            f.write("".join(parts))
        counts += np.bincount(idx, minlength=VOCAB)
        for w in np.unique(idx):
            docs[w].append(name)
    used = np.nonzero(counts)[0]
    return ({vocab[w]: int(counts[w]) for w in used},
            {vocab[w]: sorted(docs[w]) for w in used})


def prepare(workload, seed):
    """Writes the workload's input and MAX_COPIES + 1 copies of it, each
    under its own path, so path-keyed session state starts cold on every
    copy; set-up warms up on the copy named warm. Returns the expected
    MapReduce outputs, if any."""
    shutil.rmtree(RUN, ignore_errors=True)
    os.makedirs(os.path.join(RUN, "tmp"))
    if workload == "mr_wordindex":
        src = os.path.join(RUN, "corpus")
        expected = make_corpus(src, seed, CORPUS_FILES, CORPUS_BYTES)
        copy = os.link  # generated here, so a link cannot alter a tracked file
    else:
        src, expected, copy = os.path.join(HERE, "data", "sf0.01"), None, shutil.copy2
    for name in ["warm"] + [f"copy-{c}" for c in range(1, MAX_COPIES + 1)]:
        shutil.copytree(src, os.path.join(RUN, name), copy_function=copy)
    return expected


# ---- checks ----------------------------------------------------------------

def read_lines(d):
    out = []
    for f in sorted(glob.glob(os.path.join(d, "part-*"))):
        with open(f, encoding="utf-8") as fh:
            out.extend(fh.read().splitlines())
    return out


def check_mr(round_dir, expected):
    """The reference's test-mr.sh wc/indexer contract against the counts
    the generator computed. Returns a list of problems."""
    wc_exp, ix_exp = expected
    problems = []
    wc = {}
    for line in read_lines(os.path.join(round_dir, "wc")):
        k, v = line.split(" ")
        if k in wc:
            problems.append(f"wc: duplicate key {k!r}")
        wc[k] = int(v)
    if wc != wc_exp:
        bad = [k for k in set(wc) | set(wc_exp) if wc.get(k) != wc_exp.get(k)]
        problems.append(f"wc: {len(bad)} words differ, e.g. {sorted(bad)[:3]}")
    ix = {}
    for line in read_lines(os.path.join(round_dir, "ix")):
        k, n, docs = line.split(" ")
        names = [d.rsplit("/", 1)[-1] for d in docs.split(",")]
        if int(n) != len(names):
            problems.append(f"ix: {k!r} count {n} != {len(names)} docs")
        ix[k] = names
    if ix != ix_exp:
        bad = [k for k in set(ix) | set(ix_exp) if ix.get(k) != ix_exp.get(k)]
        problems.append(f"ix: {len(bad)} words differ, e.g. {sorted(bad)[:3]}")
    return problems


def check_digests(result_dirs):
    """Compares each kept query result with its golden digest. Returns
    {result dir: problem} for every mismatch."""
    import duckdb
    from golden import digest
    golden = json.load(open(os.path.join(HERE, "golden.json")))
    con = duckdb.connect()
    problems = {}
    for qid, d in result_dirs:
        try:
            rows, sha = digest(con.sql(f"SELECT * FROM '{d}/*.parquet'").df())
        except Exception as e:  # unreadable or missing result
            problems[d] = f"{qid}: unreadable result: {e}"
            continue
        g = golden[qid]
        if (rows, sha) != (g["rows"], g["sha256"]):
            problems[d] = f"{qid}: digest mismatch ({rows} rows, golden {g['rows']})"
    return problems


# ---- metrics ---------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def pass_walls(ops, cold, keep=lambda o: True):
    """round -> summed op wall time, over the cold or the warm passes'
    ops that `keep` accepts."""
    out = {}
    for o in ops:
        if o["cold"] == cold and keep(o):
            out[o["round"]] = out.get(o["round"], 0.0) + o["wall_s"]
    return out


def end_to_end(res):
    """Headline metrics. A pass runs every operation of the workload once,
    over one copy of the input: one wordcount+indexer pair, or one round
    over the five queries. A copy's first pass is cold."""
    cold, warm = pass_walls(res["ops"], True), pass_walls(res["ops"], False)
    return {
        "setup_s": (res["setup_s"], "s"),
        "cold_s": (median(list(cold.values())), "s"),
        "warm_s": (median(list(warm.values())), "s"),
    }, {"cold_pass_s": [v for _, v in sorted(cold.items())],
        "warm_pass_s": [v for _, v in sorted(warm.items())]}


def trace_overhead(ops):
    """Tracing overhead from a traced run's warm passes: each copy has one
    traced and one untraced warm pass. The median over copies of traced
    over untraced, minus 1."""
    ratios = []
    for c in sorted({o["copy"] for o in ops}):
        mine = [o for o in ops if o["copy"] == c]
        t = pass_walls(mine, False, lambda o: o["traced"])
        u = pass_walls(mine, False, lambda o: not o["traced"])
        if t and u:
            ratios.append(sum(t.values()) / sum(u.values()))
    return median(ratios) - 1, len(ratios)


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def per_layer(res, workload, corpus_bytes):
    """Per-layer metrics from the spans of the traced operations, per warm
    pass (summed over the traced warm passes, divided by their number).
    The traced cold passes give the cache ratio and the census. Also
    returns the census and the self times."""
    spans = [json.loads(line) for line in open(os.path.join(RUN, "spans.jsonl"))]
    ops = {o["id"]: o for o in res["ops"] if o["traced"]}
    warm_ids = {i for i, o in ops.items() if not o["cold"]}
    cold_ids = {i for i, o in ops.items() if o["cold"]}
    n_warm = len({ops[i]["round"] for i in warm_ids})
    n_cold = len({ops[i]["round"] for i in cold_ids})
    by_op, kids = {}, {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))

    def of(ids, kind, layers=("entry", "catalyst", "exec")):
        return [s for i in ids for s in by_op.get(i, [])
                if s["kind"] == kind and s["layer"] in layers]

    def dur(xs):
        return sum(x["end_us"] - x["start_us"] for x in xs) / 1e6

    def attr(xs, k):
        return sum(x["attrs"].get(k, 0.0) for x in xs)

    def self_s(parents):
        return sum((p["end_us"] - p["start_us"] -
                    covered(kids.get(p["id"], []), p["start_us"], p["end_us"])) / 1e6
                   for p in parents)

    windows = [(ops[i]["start_us"], ops[i]["start_us"] + ops[i]["wall_s"] * 1e6) for i in warm_ids]

    def in_window(s):
        return any(a <= s["start_us"] < b for a, b in windows)

    jobs, stages, tasks = of(warm_ids, "job"), of(warm_ids, "stage"), of(warm_ids, "task")
    entry, execs = of(warm_ids, "entry", ("entry",)), of(warm_ids, "exec", ("exec",))
    phases = [s for s in spans if s["kind"] == "phase" and in_window(s)]
    batches = [s for s in spans if s["kind"] == "microbatch" and in_window(s)]
    stream_entry = [e for e in entry
                    if any(e["start_us"] <= b["start_us"] < e["end_us"] for b in batches)]
    events = sorted([(j["start_us"], 1) for j in jobs] + [(j["end_us"], -1) for j in jobs])
    inflight = peak = 0
    for _, d in events:
        inflight += d
        peak = max(peak, inflight)
    is_mr = workload == "mr_wordindex"
    skews = []
    for st in stages:
        ts = [t["end_us"] - t["start_us"] for t in tasks if t["parent"] == st["id"]]
        if is_mr and len(ts) == 10 and median(ts) > 0:
            skews.append(max(ts) / median(ts))
    busy_s = sum(b - a for a, b in windows) / 1e6
    overhead, n_pairs = trace_overhead(res["ops"])
    core = (lambda x: x) if is_mr else (lambda x: 0.0)
    per = lambda x: x / n_warm
    m = {
        "core.wall_s": (core(per(busy_s)), "s"),
        "core.task_cpu_s": (core(per(attr(tasks, "cpu_s"))), "s"),
        "core.map_records": (core(per(attr(tasks, "sw_records"))), "count"),
        "core.shuffle_write_mb": (core(per(attr(tasks, "sw_bytes")) / 1e6), "MB"),
        "core.shuffle_bytes_per_input_byte":
            (core(per(attr(tasks, "sw_bytes")) / (2 * max(1, corpus_bytes))), "ratio"),
        "core.reduce_skew": (median(skews) if skews else 0.0, "ratio"),
        "entry.wall_s": (per(dur(entry)), "s"),
        "entry.self_s": (per(self_s(entry)), "s"),
        "entry.jobs": (per(sum(j["layer"] == "entry" for j in jobs)), "count"),
        "catalyst.analysis_s": (per(dur([p for p in phases if p["name"] == "analysis"])), "s"),
        "catalyst.optimization_s":
            (per(dur([p for p in phases if p["name"] == "optimization"])), "s"),
        "catalyst.planning_s": (per(dur([p for p in phases if p["name"] == "planning"])), "s"),
        "exec.wall_s": (per(dur(execs)), "s"),
        "exec.jobs": (per(sum(j["layer"] == "exec" for j in jobs)), "count"),
        "exec.stages": (per(len(stages)), "count"),
        "exec.tasks": (per(len(tasks)), "count"),
        "exec.task_cpu_s": (per(attr(tasks, "cpu_s")), "s"),
        "exec.task_run_s": (per(attr(tasks, "run_s")), "s"),
        "exec.gc_s": (per(attr(tasks, "gc_s")), "s"),
        "exec.shuffle_write_mb": (per(attr(tasks, "sw_bytes")) / 1e6, "MB"),
        "exec.spill_mb": (per(attr(tasks, "spill_bytes")) / 1e6, "MB"),
        "exec.cpu_util": (attr(tasks, "cpu_s") / (busy_s * CORES), "fraction"),
        "cache.persisted_rdds": (res["cache"]["persisted_rdds"], "count"),
        "cache.storage_mb": (res["cache"]["storage_mb"], "MB"),
        "cache.warm_over_cold_jobs":
            (per(len(jobs)) / max(1, len(of(cold_ids, "job")) / n_cold), "ratio"),
        "scheduler.task_wait_s": (attr(tasks, "wait_s") / max(1, len(tasks)), "s"),
        "scheduler.max_jobs_in_flight": (peak, "count"),
        "streaming.micro_batches": (per(len(batches)), "count"),
        "streaming.batch_s": (per(dur(batches)), "s"),
        "streaming.trigger_overhead_s": (per(dur(stream_entry) - dur(batches)), "s"),
        "trace.overhead_frac": (overhead, "fraction"),
    }
    extra = {
        "trace_overhead_pairs": n_pairs,
        "self_s": {k: per(self_s(of(warm_ids, k, (k,)))) for k in ("entry", "catalyst", "exec")},
        "census": census(by_op, ops, cold_ids, warm_ids),
    }
    return m, extra


def census(by_op, ops, cold_ids, warm_ids):
    """Per query: builder and sink wall time and job counts, cold and warm
    (medians over the traced cold and warm passes), and whether the
    host-independent counts repeated exactly across those passes."""
    rows = {}
    for i in sorted(cold_ids | warm_ids):
        ss = by_op.get(i, [])
        work = [s for s in ss if s["layer"] in ("entry", "catalyst", "exec")]
        tasks = [s for s in work if s["kind"] == "task"]
        rec = {
            "entry_s": sum(s["end_us"] - s["start_us"] for s in ss if s["kind"] == "entry") / 1e6,
            "exec_s": sum(s["end_us"] - s["start_us"] for s in ss if s["kind"] == "exec") / 1e6,
            "entry_jobs": sum(s["kind"] == "job" and s["layer"] == "entry" for s in ss),
            "exec_jobs": sum(s["kind"] == "job" and s["layer"] == "exec" for s in ss),
            "tasks": len(tasks),
            "map_records": sum(t["attrs"]["sw_records"] for t in tasks),
            "shuffle_bytes": sum(t["attrs"]["sw_bytes"] for t in tasks),
        }
        phase = "cold" if i in cold_ids else "warm"
        rows.setdefault(ops[i]["qid"], {"cold": [], "warm": []})[phase].append(rec)
    out, repeats = {}, {}
    for q, r in sorted(rows.items()):
        out[q] = {ph: {k: median([x[k] for x in recs]) for k in recs[0]}
                  for ph, recs in r.items() if recs}
        for ph, recs in r.items():
            for k in COUNT_KEYS:
                key = f"{ph}.{k}"
                repeats[key] = repeats.get(key, True) and len({x[k] for x in recs}) <= 1
    return {"queries": out, "counts_repeat_across_passes": repeats}


COUNT_KEYS = ("entry_jobs", "exec_jobs", "tasks", "map_records", "shuffle_bytes")


def repeat_across_runs(detail, workload, seed):
    """Whether each count repeated exactly in every earlier traced run of
    this checkout with the same inputs (the tables are fixed; the corpus
    depends on the seed)."""
    mine = detail["census"]["queries"]
    same = ("-seed*-" if workload == "iterative_cold_warm" else f"-seed{seed}-")
    earlier = sorted(glob.glob(os.path.join(WORK, "results", f"{workload}{same}trace1-*.json")))
    out = {"compared_runs": len(earlier)}
    for k in COUNT_KEYS:
        ok = True
        for f in earlier:
            theirs = json.load(open(f))["census"]["queries"]
            ok = ok and all(theirs.get(q, {}).get(ph, {}).get(k) == v[k]
                            for q, r in mine.items() for ph, v in r.items())
        out[k] = ok
    return out


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}; run from the root of a checkout")
    os.makedirs(WORK, exist_ok=True)
    cp = build(t_start + 880)
    t_run = time.time()
    load_before = os.getloadavg()
    expected = prepare(args.workload, args.seed)
    launch_us = int(time.time() * 1e6)
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(RUN, 'tmp')}", "-cp", cp,
            "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), RUN, str(launch_us)])
    log = os.path.join(RUN, "jvm.log")
    with open(log, "w") as out:
        rc = run_proc(cmd, timeout=165 - (time.time() - t_run), cwd=RUN, stdout=out,
                      stderr=subprocess.STDOUT)
    load_after = os.getloadavg()
    res_file = os.path.join(RUN, "jvm_result.json")
    if rc != 0 or not os.path.exists(res_file):
        sys.stderr.write(open(log).read()[-3000:])
        fail(f"benchmark process failed (rc={rc}); see {log}")
    res = json.load(open(res_file))

    # Output checks, outside every timed window: each MapReduce round's
    # outputs, or each query run's kept result.
    ops = res["ops"]
    if args.workload == "mr_wordindex":
        checks = {f"r{r}": check_mr(os.path.join(RUN, "out", f"r{r}"), expected)
                  for r in sorted({o["round"] for o in ops})}
        problems = {k: "; ".join(v) for k, v in checks.items() if v}
    else:
        checks = [(o["qid"], os.path.join(RUN, "out", f"r{o['round']}", o["qid"]))
                  for o in ops if o["error"] is None]
        problems = check_digests(checks)
    errors = [o for o in ops if o["error"] is not None]
    attempted = len(ops) + len(checks)
    failed = len(errors) + len(problems)

    metrics, info = end_to_end(res)
    corpus = sum(os.path.getsize(f) for f in glob.glob(os.path.join(RUN, "corpus", "*")))
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "end_to_end": {k: v[0] for k, v in metrics.items()}, **info,
              "failed_frac": failed / attempted, "problems": problems,
              "errors": {o["qid"]: o["error"] for o in errors},
              "setup_steps_s": res["setup_steps"],
              "ops": [{k: o[k] for k in ("qid", "round", "copy", "cold", "traced", "wall_s")}
                      for o in ops],
              "host": dict(res["host"], nproc=os.cpu_count(), load_before=load_before,
                           load_after=load_after)}
    if corpus:
        detail["mr_input_mb_per_s"] = corpus / 1e6 / metrics["warm_s"][0]
    if args.trace:
        metrics, extra = per_layer(res, args.workload, corpus)
        detail["per_layer"] = {k: v[0] for k, v in metrics.items()}
        detail.update(extra)
        detail["counts_repeat_across_runs"] = repeat_across_runs(
            detail, args.workload, args.seed)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    rec = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                       f"{int(t_start)}.json")
    with open(rec, "w") as f:
        json.dump(detail, f, indent=1)
    for k, (v, u) in metrics.items():
        print(f"{k:36s} {v:14.6f} {u}")
    for k, v in sorted(problems.items()):
        print(f"FAILED check {k}: {v}")
    for o in errors:
        print(f"FAILED op {o['qid']}: {o['error']}")
    print(f"record: {rec}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
