#!/usr/bin/env python3
"""Benchmark runner for the KV store, its connector and its pipelines.

One run (what BENCHMARK.json's command does), from the repository root:

    python3 perfbench/run.py --workload kv --seed 1 --seconds 10 --trace 0

builds the engine and the benchmark from source (once per source state),
runs the workload in one JVM, checks every result, writes the record to
.bench_run/record.json and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. --trace 1 gives the
per-layer metrics instead and writes .bench_run/trace.jsonl.

Spread of one checkout over seeds:

    python3 perfbench/run.py --spread 10 --workloads kv,queries

A/B of two checkouts (parent and change), interleaved pairs:

    python3 perfbench/run.py --ab PARENT_DIR CHANGE_DIR --pairs 10
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
SCRATCH = os.path.join(ROOT, ".bench_run")
AB_DIR = os.path.join(ROOT, ".bench_ab")
RUN_LIMIT_S = 168
CHECK_LIMIT_S = 8
BUILD_LIMIT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "4g"


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build ----

def source_stamp():
    """Hash of everything the build reads from the repository."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark with sbt and caches the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no engine sources (build.sbt, src/main/scala) next to perfbench/")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            same, cp = f.read().strip() == stamp, g.read().strip()
        # a cleaned target/ invalidates the cache too
        if same and all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g").strip()
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (log: {log})", 1)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


# ---- one run ----

def head_sha():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(cp, args, deadline):
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(os.path.join(SCRATCH, "tmp"))
    out = os.path.join(SCRATCH, "result.json")
    # UsePerfData off: the JVM would otherwise write hsperfdata to /tmp
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={SCRATCH}/tmp",
            f"-Dderby.system.home={SCRATCH}/derby"]
           + [x for m in ADD_OPENS for x in ("--add-opens", m + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--scratch", SCRATCH, "--out", out])
    log = os.path.join(SCRATCH, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=SCRATCH, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"run exceeded its time limit (log: {log})", 1)
    if p.returncode != 0 or not os.path.isfile(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"benchmark JVM failed with code {p.returncode} (log: {log})", 1)
    with open(out) as f:
        return json.load(f)


def oracle_check(record):
    """queries: compares the dumped results with the engine's oracle SQL
    under tools/check.py; returns the names that did not pass."""
    verify = os.path.join(SCRATCH, "verify")
    if record["workload"] != "queries":
        return []
    if not os.path.isdir(verify):
        return ["<no result dump>"]
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        os.path.join(SCRATCH, "data"), verify],
                       capture_output=True, text=True, timeout=CHECK_LIMIT_S)
    with open(os.path.join(SCRATCH, "check.txt"), "w") as f:
        f.write(p.stdout + p.stderr)
    bad = []
    for line in p.stdout.splitlines():
        parts = line.split(None, 1)
        if len(parts) == 2 and not line.startswith(("#", "==")):
            if not (parts[1].startswith("OK") or parts[1].startswith("ROWS_ONLY rows")):
                bad.append(parts[0])
    if p.returncode != 0 and not bad:
        bad.append("<check.py failed>")
    return bad


def single(args):
    spec = bench_spec()
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {args.workload}")
    cp = build()
    # the first build may take long; the run after it keeps the 180 s limit
    rec = run_jvm(cp, args, time.time() + RUN_LIMIT_S)
    bad = oracle_check(rec)
    if bad:
        rec["correct"] = False
        rec["errors"].append("oracle mismatch: " + ", ".join(bad))
        rec["failed"] += sum(1 for o in rec["ops"] if o["kind"] in bad) or 1
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    got = rec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        die(f"metrics missing from the record: {missing}", 1)
    rec["head"] = head_sha()
    rec["utc"] = datetime.datetime.now(datetime.timezone.utc).isoformat()
    rec["argv"] = sys.argv[1:]
    with open(os.path.join(SCRATCH, "record.json"), "w") as f:
        json.dump(rec, f)
    for section in ("end_to_end", "detail") if not args.trace else ("per_layer",):
        for name, m in rec[section].items():
            print(f"{args.workload} {name} {m['value']} {m['unit']}")
    for e in rec["errors"]:
        print(f"{args.workload} ERROR {e}")
    result = {"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
              "failed": int(rec["failed"]),
              "metrics": {m["name"]: got[m["name"]] for m in wanted}}
    print(json.dumps(result))
    return 0 if result["correct"] else 1


# ---- spread and A/B ----

def run_side(root, workload, seed, seconds, tag):
    """One run of `root`'s benchmark. Its record is kept as
    .bench_ab/<tag>-<workload>-<seed>.json and returned; its
    "end_to_end" map holds every end-to-end metric, gated or not."""
    p = subprocess.run([sys.executable, os.path.join(root, "perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=root, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        die(f"run failed in {root}: {workload} seed {seed}", 1)
    os.makedirs(AB_DIR, exist_ok=True)
    kept = os.path.join(AB_DIR, f"{tag}-{workload}-{seed}.json")
    shutil.copy(os.path.join(root, ".bench_run", "record.json"), kept)
    with open(kept) as f:
        return json.load(f)


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return q1, statistics.median(xs), q3


def bounds():
    return {m["name"]: m["bound"] for m in bench_spec()["end_to_end"]}


def spread(args):
    bound = bounds()
    report = {}
    for w in args.workloads.split(","):
        vals = {}
        for i in range(args.spread):
            rec = run_side(ROOT, w, args.first_seed + i, args.seconds, "spread")
            for k, m in rec["end_to_end"].items():
                vals.setdefault(k, []).append(m["value"])
            print(f"{w} seed {args.first_seed + i}: " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in rec["end_to_end"].items()), flush=True)
        report[w] = {}
        for name, xs in vals.items():
            q1, med, q3 = quartiles(xs)
            rel = (q3 - q1) / med if med else float("inf")
            b = bound.get(name)
            report[w][name] = {"values": xs, "q1": q1, "median": med, "q3": q3,
                               "iqr_over_median": rel, "bound": b}
            gate = f"bound {b}, target < {b / 3:.3f}" if b else "not gated"
            print(f"{w:9s} {name:12s} median {med:.6g} IQR/median {rel:.3f} ({gate})",
                  flush=True)
    os.makedirs(AB_DIR, exist_ok=True)
    with open(os.path.join(AB_DIR, "spread.json"), "w") as f:
        json.dump(report, f, indent=1)


def ab(args):
    parent, change = (os.path.abspath(d) for d in args.ab)
    bound = bounds()
    report = {"parent": parent, "change": change, "pairs": args.pairs,
              "utc": datetime.datetime.now(datetime.timezone.utc).isoformat(),
              "workloads": {}}
    for w in args.workloads.split(","):
        runs = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = [("parent", parent), ("change", change)]
            if i % 2:
                order.reverse()
            for side, root in order:
                runs[side].append(run_side(root, w, seed, args.seconds, side))
            print(f"{w} pair {i + 1}/{args.pairs} done", flush=True)
        rows = {}
        # every end-to-end metric of this benchmark is lower-is-better
        for n in runs["parent"][0]["end_to_end"]:
            p = [r["end_to_end"][n]["value"] for r in runs["parent"]]
            c = [r["end_to_end"][n]["value"] for r in runs["change"]]
            wins = sum(1 for a, b in zip(p, c) if b < a)
            pq, cq = quartiles(p), quartiles(c)
            worse_by = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
            rows[n] = {"parent": {"q1": pq[0], "median": pq[1], "q3": pq[2], "values": p},
                       "change": {"q1": cq[0], "median": cq[1], "q3": cq[2], "values": c},
                       "change_won": wins / len(p),
                       "gain": (cq[1] < pq[1] and wins >= 0.9 * len(p)
                                and pq[1] - cq[1] > pq[2] - pq[0]),
                       "regression": bound.get(n) is not None and worse_by > bound[n]}
            print(f"{w:9s} {n:12s} parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]  "
                  f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
                  f"change won {wins}/{len(p)}", flush=True)
        report["workloads"][w] = {"metrics": rows, "runs": {
            side: [{k: r[k] for k in ("seed", "utc", "head", "end_to_end")} for r in rs]
            for side, rs in runs.items()}}
    os.makedirs(AB_DIR, exist_ok=True)
    path = os.path.join(AB_DIR, "report.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"report: {path}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--spread", type=int, metavar="N",
                    help="run N seeds per workload and report quartile spreads")
    ap.add_argument("--ab", nargs=2, metavar=("PARENT", "CHANGE"),
                    help="interleaved parent/change pairs over two checkouts")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", help="comma-separated (default: all in BENCHMARK.json)")
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    if not args.workloads:
        args.workloads = ",".join(w["name"] for w in bench_spec()["workloads"])
    if args.ab:
        ab(args)
    elif args.spread:
        spread(args)
    elif args.workload:
        sys.exit(single(args))
    else:
        ap.error("give --workload, --spread or --ab")


if __name__ == "__main__":
    main()
