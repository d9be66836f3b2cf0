"""graft's benchmark: one workload per invocation, or every workload with --all.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --all [--seed <n>] [--seconds <s>]

Builds the engine and the benchmark from source (build.py), makes the
workload's inputs from the seed, runs it in one JVM (src/PerfBench.scala),
checks every output against the oracle (oracle.py), and prints the
workload's end-to-end metrics by name and unit, its context (seeds, noise
probes), and as the last line one JSON object: the bounded metrics of
BENCHMARK.json (`--trace 0`) or its per-layer metrics (`--trace 1`).
Everything it writes stays under .bench_run/ and the build directory
($CARGO_TARGET_DIR, default .bench_build/) of the checkout. See README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
import querydata  # noqa: E402

WORKLOADS = ["stream_read", "query_suite", "replay_bulk"]
QUERY_SF = 0.005
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_one(a):
    spec = bench_spec()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build.build(os.path.join(os.path.abspath(build_dir), "perfbench-classes"))
    work = os.path.join(ROOT, ".bench_run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    lookup_seed = a.lookup_seed if a.lookup_seed is not None else a.seed * 7919 + 13
    cores = a.cores or os.cpu_count()
    try:
        t = time.time()
        if a.workload == "query_suite":
            querydata.main(os.path.join(work, "qdata"), a.seed, QUERY_SF)
        pre_setup_s = time.time() - t
        env = dict(os.environ, GRAFT_BENCH_TMP=os.path.join(work, "tmp"))
        cmd = (["java", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "graft.perfbench.PerfBench", a.workload, str(a.seed), str(a.seconds),
                  str(a.trace), str(cores), work, str(int(time.time() * 1000)), str(lookup_seed)])
        t = time.time()
        with open(os.path.join(work, "jvm.log"), "w") as log:
            p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, timeout=JVM_TIMEOUT_S)
        jvm_s = time.time() - t
        out = os.path.join(work, "out")
        if not os.path.exists(os.path.join(out, "result.json")):
            raise RuntimeError(f"the JVM wrote no result (exit {p.returncode}); see its log")
        res = json.load(open(os.path.join(out, "result.json")))
        notes = list(res["errors"])
        attempted, failed = res["attempted"], res["failed"]
        if oracle.self_test():
            failed += 1
            notes.append("oracle self-test failed")
        t = time.time()
        if os.path.exists(os.path.join(out, "check.json")):
            failed += oracle.check(out, notes)
        else:
            failed += 1
            notes.append("no outputs to check")
        attempted = max(attempted, failed, 1)
        res["context"]["oracle_s"] = round(time.time() - t, 3)
        res["context"]["jvm_s"] = round(jvm_s, 3)
    except Exception:
        keep = os.path.join(ROOT, ".bench_run", f"failed-{a.workload}.log")
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"), keep)
        shutil.rmtree(work, ignore_errors=True)
        raise
    shutil.rmtree(work, ignore_errors=True)

    ctx = res["context"]
    setup_s = pre_setup_s + ctx.get("setup_s", 0.0)
    named = dict(res["named"])
    named["setup_s"] = [setup_s, "s"]
    named["failed_frac"] = [failed / attempted, "fraction"]
    for k, (v, u) in named.items():
        print(f"metric {k} {v:.6g} {u}")
    print(f"context seed={a.seed} lookup_seed={lookup_seed} held_out_seed=9001 cores={cores} "
          f"seconds={a.seconds} trace={a.trace} attempted={attempted} failed={failed}")
    print("context " + " ".join(f"{k}={v}" for k, v in ctx.items() if not isinstance(v, (list, dict))))
    for n in notes:
        print(f"check {n}")
    if a.trace:
        layers = res["layers"]
        for k, v in layers.items():
            print(f"layer {k} {v:.6g}")
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(named[m["name"]][0]), "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


def run_all(a):
    """Every workload untraced and traced, plus the 1-core replay for the
    scaling diagnostic; prints tracing overhead per workload."""
    me = [sys.executable, os.path.abspath(__file__)]
    head = {}
    for w in WORKLOADS + ["replay_bulk@1"]:
        name, cores = (w.split("@") + [None])[:2]
        for trace in ([0, 1] if cores is None else [0]):
            cmd = me + ["--workload", name, "--seed", str(a.seed), "--seconds", str(a.seconds),
                        "--trace", str(trace)] + (["--cores", cores] if cores else [])
            print(f"== {name} trace={trace}" + (f" cores={cores}" if cores else ""), flush=True)
            p = subprocess.run(cmd, capture_output=True, text=True)
            sys.stdout.write(p.stdout)
            tp = [float(l.split()[2]) for l in p.stdout.splitlines() if l.startswith("metric ")
                  and l.split()[1] in ("replay_events_per_s", "stream_events_per_s", "queries_total_s")]
            if tp:
                head[(w, trace)] = tp[0]
            if p.returncode:
                sys.stderr.write(p.stderr)
    for w in WORKLOADS:
        if (w, 0) in head and (w, 1) in head:
            print(f"tracing_overhead {w} {head[(w, 1)] - head[(w, 0)]:.6g} "
                  f"(traced {head[(w, 1)]:.6g} - untraced {head[(w, 0)]:.6g}, headline metric)")
    if ("replay_bulk", 0) in head and ("replay_bulk@1", 0) in head:
        eff = head[("replay_bulk", 0)] / (os.cpu_count() * head[("replay_bulk@1", 0)])
        print(f"diagnostic scaling.replay_eff_1to4 {eff:.4f}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench_spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=0)
    ap.add_argument("--lookup-seed", type=int, default=None)
    ap.add_argument("--all", action="store_true")
    a = ap.parse_args()
    if a.all:
        run_all(a)
    elif a.workload:
        run_one(a)
    else:
        ap.error("give --workload or --all")


if __name__ == "__main__":
    main()
