#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, two workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the harness
from source with sbt (first run only), generates the workload's input
tables from the seed (cached per seed), launches the harness JVM on
local[nproc] with one closed-loop client thread, and checks every op's
result against the query's DuckDB oracle (`SparkEntry.oracleSql`) in the
order-insensitive canonical form of tools/check_oracles.py, outside the
timed window. It prints every metric by name and unit; the last stdout
line is one JSON object carrying the end-to-end metrics of BENCHMARK.json
with --trace 0 and its per-layer metrics with --trace 1.

Every run gets a fresh java.io.tmpdir, Spark local dir and warehouse
under .bench_work/, deleted afterwards, so each run starts cold: the
engine's IndexStore root and staging directories live under tmpdir.

`--plant OP` drops one row of OP's result after it is produced; the
oracle check must then fail it. This is the checker's self-test.
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

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170  # a run must end within 180 s

# Op lists per workload; why each workload exists, and the measurements
# behind the choice of ops, are in perfbench/README.md.
#
# curation_session runs one oracled op from each of the five curation
# families (dedup, indexed, ann, text, corpus): the op with the family's
# median number of Spark jobs per warm call, except in indexed, whose
# median op (minhash_incremental_indexed, 12 jobs, 0.8-1.4 s warm) is
# replaced by neardup_clusters_indexed (5 jobs, about 0.25 s warm; it
# also publishes an IndexStore artifact and keeps a session memo). All 84
# oracled ops of the five families take 93 s cold and 37 s per warm pass
# at sf0.01 on a 4-core box: more than a run may last. With five ops of
# 0.15-0.3 s a warm pass takes about 1.1 s, so the warm phase holds 12-14
# samples of each op and the median and p90 lie among ops of similar
# latency instead of on one slow op. Pass times keep falling for about
# 12 s after the cold pass, so the settle passes last 12 s.
#
# mapreduce_ingest runs three legacy rounds per stream: a stream takes
# about ten times as long as a round, and the warm phase is two passes
# (8 ops), so the warm median falls among the rounds' samples and the
# p90 between the two streams', not on the boundary between the kinds.
# One settle pass comes first (settle=0: one pass, the minimum): without
# it the first warm stream runs about 20% slower than the second.
# settle: seconds of untimed whole passes (at least one) after the cold pass.
WORKLOADS = {
    "curation_session": dict(sf=0.01, ops=[
        "dedup_incremental", "neardup_clusters_indexed", "embedding_neardup_lsh",
        "train_eval_split_neardup", "bpe_pair_counts"], settle=12),
    "mapreduce_ingest": dict(sf=0.01, ops=["legacy_wordcount"] * 3 + ["ingest_stream"],
                             settle=0),
}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt when their sources changed;
    returns the runtime classpath."""
    srcs = (glob.glob(os.path.join(ROOT, "src/main/**/*.scala"), recursive=True)
            + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
            + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    stamp = tree_hash(srcs)
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "runtime-classpath.txt")
    stamp_file = os.path.join(target, "perfbench.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building engine and harness with sbt")
    t = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("sbt build failed", 3)
    log(f"built in {time.time() - t:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def gen_key():
    return tree_hash([os.path.join(HERE, "gen.py")])[:12]


def gen_data(sf, seed):
    """Generated tables for (sf, seed), cached; returns the directory."""
    sys.path.insert(0, HERE)
    import gen
    d = os.path.join(WORK, "data", f"sf{sf}-seed{seed}-{gen_key()}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        t = time.time()
        gen.write(d, sf, seed)
        gen.write_feed(d, os.path.join(d, "feed"))
        open(os.path.join(d, "_done"), "w").close()
        log(f"generated sf{sf} seed {seed} in {time.time() - t:.1f} s")
        # keep the cache bounded: the eight most recently generated inputs
        dirs = sorted(glob.glob(os.path.join(WORK, "data", "*")), key=os.path.getmtime)
        for old in dirs[:-8]:
            shutil.rmtree(old, ignore_errors=True)
    return d


def run_harness(cp, run_dir, args, deadline):
    """Run the harness JVM; returns seconds from launch until it printed
    READY (session up, warm-up query done)."""
    for sub in ("tmp", "work", "out"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + opens + ["-cp", cp, "perfbench.Main"] + [f"{k}={v}" for k, v in args.items()])
    err_path = os.path.join(run_dir, "stderr.log")
    ready = None
    with open(err_path, "w") as err:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=run_dir)
        try:
            for line in p.stdout:
                if ready is None and line.startswith("READY"):
                    ready = time.perf_counter() - t0
            p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            log("harness JVM ran past the deadline")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or ready is None:
        sys.stderr.write(open(err_path).read()[-6000:])
        fail(f"harness JVM failed (exit {p.returncode})", 4)
    return ready


def canon_summary(check_oracles, df):
    rows = check_oracles.canon(df)
    return {"cols": sorted(df.columns), "rows": len(rows),
            "hash": hashlib.sha256("\n".join(rows).encode()).hexdigest()}


def oracle_answers(data_dir, sf, sqls):
    """Canonical oracle answer per query name. The generated content does
    not depend on the seed (only row order does), so answers are cached
    per (scale, generator, oracle SQL) and computed on first use."""
    import check_oracles
    import duckdb
    cache_path = os.path.join(WORK, "oracle", f"sf{sf}-{gen_key()}.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    key = {n: n + ":" + hashlib.sha256(s.encode()).hexdigest()[:16] for n, s in sqls.items()}
    missing = [n for n in sorted(sqls) if key[n] not in cache]
    if missing:
        con = duckdb.connect()
        for t in check_oracles.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
        for n in missing:
            cache[key[n]] = canon_summary(check_oracles, con.sql(sqls[n]).df())
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        with open(cache_path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(cache_path + ".tmp", cache_path)
    return {n: cache[key[n]] for n in sqls}


def check_results(results, answers):
    """(oracle name, fingerprint) -> None when the dumped result equals
    the oracle's answer, else why not."""
    import check_oracles
    import duckdb
    con = duckdb.connect()
    verdict = {}
    for r in results:
        want = answers.get(r["check"])
        k = (r["check"], r["fp"])
        if want is None:
            verdict[k] = "no oracle"
            continue
        got = canon_summary(check_oracles, con.sql(f"SELECT * FROM '{r['dir']}/*.parquet'").df())
        bad = [f for f in ("cols", "rows", "hash") if got[f] != want[f]]
        verdict[k] = None if not bad else (
            f"{'/'.join(bad)} differ from the oracle (rows {got['rows']} vs {want['rows']})")
    return verdict


def pct(xs, q):
    """q-th percentile (0-100), linear interpolation between ranks."""
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--plant", default="")
    a = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.exists(os.path.join(ROOT, "tools", "check_oracles.py"))):
        fail(f"{ROOT} holds no engine sources (src/main/scala, tools/check_oracles.py)")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    wl = WORKLOADS[a.workload]
    cp = build()
    deadline = time.time() + DEADLINE_S  # counted after a first-run build
    data = gen_data(wl["sf"], a.seed)
    cores = os.cpu_count() or 4
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    out = os.path.join(run_dir, "out")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        setup_s = run_harness(cp, run_dir, dict(
            data=data, feed=os.path.join(data, "feed"), work=os.path.join(run_dir, "work"),
            out=out, cores=cores,
            ops=",".join(wl["ops"]), settle=wl["settle"],
            seed=a.seed, seconds=a.seconds, trace=a.trace,
            plant=a.plant), deadline)
        res = json.load(open(os.path.join(out, "result.json")))
        if a.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(os.path.join(out, "spans.json"),
                        os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json"))
        sqls = json.load(open(os.path.join(out, "oracle_sql.json")))
        verdict = check_results(res["results"], oracle_answers(data, wl["sf"], sqls))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = res["ops"]
    failed = [(o["name"], o["err"] or verdict.get((o["check"], o["fp"]), "not checked"))
              for o in ops if o["err"] or verdict.get((o["check"], o["fp"]), "not checked")]
    for name, why in sorted(set(failed)):
        log(f"FAILED {name}: {why}")
    for name in sorted({o["name"] for o in ops}):
        c = [o["ms"] for o in ops if o["name"] == name and o["phase"] == "cold"]
        w = [o["ms"] for o in ops if o["name"] == name and o["phase"] == "warm"]
        st = [o["ms"] for o in ops if o["name"] == name and o["phase"] == "settle"]
        log(f"op {name:32s} cold {sum(c):9.1f} ms  warm median "
            f"{statistics.median(w) if w else float('nan'):9.1f} ms  n={len(w)}  "
            f"settle {[round(x) for x in st]} warm {[round(x) for x in w]}")

    cold = [o["ms"] for o in ops if o["phase"] == "cold"]
    warm = [o["ms"] for o in ops if o["phase"] == "warm" and not o["traced"]]
    # warm ops come in whole passes; a traced run traces whole passes
    n = len(wl["ops"])
    warm_all = [o for o in ops if o["phase"] == "warm"]
    passes = [sum(o["ms"] for o in warm_all[i:i + n]) for i in range(0, len(warm_all), n)
              if not any(o["traced"] for o in warm_all[i:i + n])]
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": sum(cold) / 1000,
        "warm_ops_per_min": 60000 * n / statistics.median(passes),
        "warm_p50_ms": pct(warm, 50),
        "warm_p90_ms": pct(warm, 90),
        "error_rate": len(failed) / len(ops),
        "peak_live_heap_mb": res["peak_live_heap_mb"],
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units["error_rate"] = "ratio"
    log(f"live heap after the cold and the first settle pass: {res['heap_samples_mb']} MB")
    print(f"{a.workload}: sf {wl['sf']}, local[{cores}], seed {a.seed}, {len(cold)} cold ops, "
          f"{len(warm)} untraced warm ops (the percentile sample count), "
          f"{len(ops)} ops attempted, {len(failed)} failed")
    for k, v in e2e.items():
        print(f"  {k:36s} {v:14.4f} {units[k]}")
    layers = res["layers"]
    for k, v in sorted(layers.items()):
        unit = units.get(k) or ("ms" if "_ms" in k else "MB" if k.endswith("_mb") else
                                "ratio" if k.endswith("_per_input_byte") else "count")
        print(f"  layer {k:36s} {v:14.4f} {unit}")
    chosen = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = layers if a.trace else e2e
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in chosen}
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
