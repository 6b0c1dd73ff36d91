#!/usr/bin/env python3
"""graft benchmark: seeded workloads against the library's public entry
points, with every output checked.

Usage, from the repository root:

    python3 graftbench/run.py --workload olap --seed 1 --seconds 8 --trace 0

The first run in a checkout compiles the library and the harness
(`graftbench/build.sbt`) into `.bench_build/`. Each run generates its
datasets from the seed, starts one driver JVM (`graft.bench.Harness`),
checks the outputs against the DuckDB oracle and prints one JSON line
last: end-to-end metrics with `--trace 0`, per-layer metrics from a
traced run with `--trace 1`. Workloads and their op lists are in
`graftbench/workloads.json`; `graftbench/NOTES.md` explains them.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_LIMIT_S = 170.0
SETUP_ROUNDS = 2
CPUS = len(os.sched_getaffinity(0))
SBT_REPOS = os.path.expanduser("~/.sbt/repositories")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Content hash of everything the harness is compiled from."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath of this exact source tree
    is already built; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "graftbench.classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(SBT_REPOS):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={SBT_REPOS}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [ln for ln in proc.stdout.splitlines() if "scala-2.13/classes" in ln]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def input_bytes(data_dir):
    return sum(os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))
               for t in ("documents", "embeddings"))


def run_harness(cp, spec, data_dir, warm_dirs, args, out_dir, deadline):
    ops = spec["ops"]
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={os.path.join(out_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graft.bench.Harness",
            f"ops={','.join(ops)}",
            f"data={data_dir}", f"warm={','.join(warm_dirs)}",
            f"seconds={args.seconds}", f"trace={args.trace}", f"out={out_dir}",
            f"cpus={CPUS}"]
    os.makedirs(os.path.join(out_dir, "tmp"), exist_ok=True)
    with open(os.path.join(out_dir, "harness.log"), "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded the run limit (log: {log.name})")
    if proc.returncode != 0:
        with open(os.path.join(out_dir, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("harness failed")
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def check_outputs(res, data_dir, out_dir, seed42_rows, exempt):
    """Correctness verdict per op name: None when fine, else the reason."""
    measured = [p for p in res["passes"] if p["kind"] != "setup"]
    bad = {}
    for p in res["passes"]:
        for o in p["ops"]:
            if o["error"]:
                bad.setdefault(o["name"], f"{p['kind']} pass threw {o['error']}")
    for name in [o["name"] for o in measured[0]["ops"]]:
        runs = [o for p in measured for o in p["ops"] if o["name"] == name]
        hashes = {o["hash"] for o in runs if not o["error"]}
        if len(hashes) > 1:
            bad.setdefault(name, "output differs between passes")
        if seed42_rows.get(name, 0) > 0 and any(o["rows"] == 0 for o in runs):
            bad.setdefault(name, "returned no rows; seed-42 data returns rows")
    sqls = {}
    sql_path = os.path.join(out_dir, "oracle_sql.json")
    if os.path.exists(sql_path):
        with open(sql_path) as f:
            sqls = json.load(f)
    for name, why in oracle.compare_all(data_dir, out_dir, sqls, exempt).items():
        if why:
            bad.setdefault(name, why)
    for name, ok in res["checks"].items():
        if not ok:
            bad.setdefault(name, "served artifact differs from its rebuild")
    return bad


def end_to_end(res, gen_s):
    cold = [p for p in res["passes"] if p["kind"] == "cold"][0]
    warm = [p for p in res["passes"] if p["kind"] == "warm" and not p["traced"]]
    setups = [p for p in res["passes"] if p["kind"] == "setup"]
    # op percentiles are taken within each warm pass, then the median over
    # passes: pooled over all passes, the rank of p75 falls between two
    # ops, and one slow sample of the faster op moves it to the slower
    op_ms = [[o["build_ms"] + o["action_ms"] for o in p["ops"]] for p in warm]
    rounds = [g + r / 1000.0 for g, r in zip(gen_s, res["setup_round_ms"])]
    m = {
        "setup_s": ((res["session_ready_ms"] - res["jvm_start_ms"]) / 1000.0
                    + metrics.median(rounds)),
        "pass_s": metrics.median([p["wall_ms"] for p in warm]) / 1000.0,
        "cold_pass_s": cold["wall_ms"] / 1000.0,
        "op_s.p50": metrics.median([metrics.median(t) for t in op_ms]) / 1000.0,
        "op_s.p75": metrics.median([metrics.percentile(t, 75) for t in op_ms]) / 1000.0,
        "cpu_s": metrics.median([sum(o["cpu_ms"] for o in p["ops"]) for p in warm]) / 1000.0,
    }
    info = {"op_samples": sum(len(t) for t in op_ms), "warm_passes": len(warm),
            "setup_rounds": len(setups)}
    return m, info


def per_layer(res, data_dir):
    trace = metrics.Trace(res["spans"], res["jobs"], res["phases"])
    inb = input_bytes(data_dir)
    cold = [p for p in res["passes"] if p["kind"] == "cold"][0]
    traced = [p for p in res["passes"] if p["kind"] == "warm" and p["traced"]]
    plain = [p for p in res["passes"] if p["kind"] == "warm" and not p["traced"]]
    warm_layers = [metrics.pass_layers(trace, p, inb) for p in traced]
    m = {k: metrics.median([w[k] for w in warm_layers]) for k in warm_layers[0]}
    m.update({f"{k}.cold": v for k, v in metrics.pass_layers(trace, cold, inb).items()})
    m["trace.overhead_frac"] = (metrics.median([p["wall_ms"] for p in traced])
                                / metrics.median([p["wall_ms"] for p in plain]) - 1.0)
    m["trace.span_coverage"] = min(metrics.span_coverage(trace, p) for p in [cold] + traced)
    return m


def record_seed42(cp, spec, args, deadline):
    out_dir = os.path.join(BUILD, "runs", f"{args.workload}-seed42")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    res = run_harness(cp, spec, datagen.BASE, [], args, out_dir, deadline)
    path = os.path.join(HERE, "seed42_rows.json")
    with open(path) as f:
        rows = json.load(f)
    cold = [p for p in res["passes"] if p["kind"] == "cold"][0]
    rows.update({o["name"]: o["rows"] for o in cold["ops"] if not o["error"]})
    with open(path, "w") as f:
        json.dump(dict(sorted(rows.items())), f, indent=1)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-seed42", action="store_true",
                    help="run the workload once on the unmodified seed-42 base "
                         "tables and record each op's row count in seed42_rows.json")
    args = ap.parse_args()
    started = time.time()

    if not os.path.exists(os.path.join(LIB_SRC, "graft", "SparkEntry.scala")):
        fail(f"library sources not found under {LIB_SRC}")
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if args.workload not in cfg["workloads"]:
        fail(f"unknown workload {args.workload}")
    spec = cfg["workloads"][args.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]

    cp = build()
    built_s = time.time() - started
    deadline = time.time() + RUN_LIMIT_S - min(built_s, 10.0)
    if args.record_seed42:
        record_seed42(cp, spec, args, deadline)
        return

    # datasets: one measured, one per set-up round, each timed
    data_root = os.path.join(BUILD, "data", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(data_root, ignore_errors=True)
    data_dir = os.path.join(data_root, "measured")
    datagen.generate(args.seed, data_dir)
    warm_dirs, gen_s = [], []
    for r in range(SETUP_ROUNDS):
        d = os.path.join(data_root, f"warm{r}")
        t0 = time.time()
        datagen.generate(1_000_003 * (r + 1) + args.seed, d)
        gen_s.append(time.time() - t0)
        warm_dirs.append(d)

    out_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    t_harness = time.time()
    res = run_harness(cp, spec, data_dir, warm_dirs, args, out_dir, deadline)
    t_check = time.time()

    with open(os.path.join(HERE, "seed42_rows.json")) as f:
        seed42_rows = json.load(f)
    bad = check_outputs(res, data_dir, out_dir, seed42_rows, set(cfg["oracle_exempt"]))
    measured = [p for p in res["passes"] if p["kind"] != "setup"]
    attempted = sum(len(p["ops"]) for p in measured)
    failed = sum(1 for p in measured for o in p["ops"] if o["error"] or o["name"] in bad)

    if args.trace:
        values = per_layer(res, data_dir)
    else:
        values, info = end_to_end(res, gen_s)
        info.update(failed_frac=failed / attempted, attempted=attempted,
                    generate_s=t_harness - started - built_s,
                    harness_s=t_check - t_harness, check_s=time.time() - t_check)
        print(json.dumps({"info": info}))
    for name, why in sorted(bad.items()):
        print(json.dumps({"wrong": name, "why": why}))
    shutil.rmtree(data_root, ignore_errors=True)
    missing = sorted({m["name"] for m in declared} - set(values))
    if missing:
        fail(f"declared metrics not computed: {missing}")
    result = {
        "correct": not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
