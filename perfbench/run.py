#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload chat|search|curate --seed N \
        --seconds S --trace 0|1

Builds the program and the benchmark's Scala side from source (once per
source state), generates the workload's inputs from the seed, runs the
benchmark JVM for
`--seconds` of closed-loop operations after set-up and warm-up, checks
every output, and prints a report followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
# the primary operation kinds whose latency is the end-to-end metric
PRIMARY = {"chat": {"chat", "followup"}, "search": {"read"}, "curate": {"curate"}}
SETUP_REPS = 2
JVM_TIMEOUT_S = 150


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources():
    roots = [os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME, else the one whose
    spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        sys.exit("perfbench: no Spark installation (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build():
    """Compile graft plus the benchmark's Scala side with sbt, unless the
    sources are unchanged since the last build."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, REPO).encode())
        h.update(open(f, "rb").read())
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    log("perfbench: building graft and the benchmark's Scala side with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dspark.jars.dir={spark_jars()}",
                        "compile"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        sys.exit("perfbench: build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def box():
    """Cores, memory, and the heap and off-heap sizes derived from them:
    heap a fifth of MemTotal (1-4 GB), off-heap a sixteenth (0.5-2 GB)."""
    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    mem_mb = 4096
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_mb = int(line.split()[1]) // 1024
    heap = min(4096, max(1024, mem_mb // 5))
    offheap = min(2048, max(512, mem_mb // 16))
    return cores, mem_mb, heap, offheap


def java_cmd(heap_mb, work):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
              "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
              "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return ["java", *opens, f"-Xmx{heap_mb}m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
            "-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Main"]


def pct(values, q):
    return float(np.percentile(values, q)) if values else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        sys.exit("perfbench: graft sources not found next to the benchmark directory")
    build()

    cores, mem_mb, heap_mb, offheap_mb = box()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        props = gen.generate(args.workload, args.seed, work)
        gen_s = time.time() - t0
        cmd = java_cmd(heap_mb, work) + [
            "--workload", args.workload, "--work", work, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores), "--offheap-mb", str(offheap_mb),
            "--setup-reps", str(SETUP_REPS)]
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            r = subprocess.run(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        if r.returncode != 0:
            log(open(os.path.join(work, "jvm.log")).read()[-4000:])
            sys.exit(f"perfbench: benchmark JVM exited with {r.returncode}")
        out = json.load(open(os.path.join(work, "out.json")))
        log(f"perfbench: benchmark JVM ran {time.time() - t0 - gen_s:.1f}s")
        report(args, props, gen_s, out, work, cores, mem_mb)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, props, gen_s, out, work, cores, mem_mb):
    ops = out["ops"]
    live_after = {}
    if args.workload == "chat":
        failed, chk = checks.check_chat(work, ops)
    elif args.workload == "search":
        failed, chk, live_after = checks.check_search(work, ops)
    else:
        failed, chk = checks.check_curate(work, ops)
    timed = [o for o in ops if o["timed"]]
    primary = PRIMARY[args.workload]
    # a failed operation sorts above every successful one in the
    # latency samples, so it misses any latency bound
    worst = max((o["wall_ms"] for o in timed), default=0.0)

    def walls(kinds, traced=False):
        return [(worst * 10 if o["i"] in failed else o["wall_ms"]) for o in timed
                if o["traced"] == traced and o["kind"] in kinds]

    lat = walls(primary)
    n_failed = sum(o["i"] in failed for o in timed)
    e2e = {
        "setup_s": (float(np.median(out["setup_s"])), "s", len(out["setup_s"])),
        "op_ms_p50": (pct(lat, 50), "ms", len(lat)),
        "op_ms_p90": (pct(lat, 90), "ms", len(lat)),
        "mem_mb_peak": (max(out["mem_mb"]), "MB", len(out["mem_mb"])),
    }
    extra = {"fail_frac": (n_failed / max(1, len(timed)), "ratio", len(timed))}
    if args.workload == "search":
        w = walls({"append", "delete", "update"})
        c = walls({"compact"})
        extra["write_ms_p50"] = (pct(w, 50), "ms", len(w))
        extra["compact_s"] = (pct(c, 50) / 1e3, "s", len(c))
    if args.workload == "curate":
        extra["curate_docs_per_s"] = (props["docs"] / (pct(lat, 50) / 1e3) if lat else 0.0,
                                      "docs/s", len(lat))
    log(f"perfbench: workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} cores={cores} mem_total_mb={mem_mb} env={json.dumps(out['env'])}")
    log(f"perfbench: inputs {json.dumps(props)} (generated in {gen_s:.1f}s)")
    log(f"perfbench: checks {json.dumps(chk)}; failed ops {sorted(failed)[:10]}")
    log(f"perfbench: setup reps {[round(x, 3) for x in out['setup_s']]} s; "
        f"window {out['window_s']:.1f}s; ops {len(timed)} timed, {len(ops) - len(timed)} warm-up; "
        f"memory samples {[round(x, 1) for x in out['mem_mb']]} MB")
    kinds = {}
    for o in ops:
        kinds.setdefault(("" if o["timed"] else "warm-up ") + o["kind"], []).append(o["wall_ms"])
    log("perfbench: median op wall ms " + ", ".join(
        f"{k} {np.median(v):.0f} (n={len(v)})" for k, v in sorted(kinds.items())))
    for name, (v, unit, n) in {**e2e, **extra}.items():
        log(f"perfbench:   {name:<22} {v:12.4f} {unit:<7} n={n}")
    if args.trace:
        spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
        m = layers.per_layer(os.path.join(work, "spans.json"), ops, primary, cores, live_after)
        for k in sorted(m):
            log(f"perfbench:   {k:<46} {m[k]:14.4f}")
        metrics = {x["name"]: {"value": m[x["name"]], "unit": x["unit"]} for x in spec["per_layer"]}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    print(json.dumps({"correct": not failed, "attempted": len(timed), "failed": n_failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
