#!/usr/bin/env python3
"""Nightly-window and corpus benchmark for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source (sbt, in perfbench/); later runs reuse the build
while no source file changed. A run generates its input tables from the
seed, starts one JVM that sets up and measures the workload (Main.scala),
checks the outputs, and prints one JSON line as the last line of stdout:
every end-to-end metric of BENCHMARK.json with `--trace 0`, every
per-layer metric with `--trace 1`. Everything it writes stays under
perfbench/.work and perfbench/target. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import statistics
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, "target", "perfbench-build")
THREADS = max(1, min(4, os.cpu_count() or 1))
RUN_LIMIT_S = 165  # a run, build aside, must end within 180 s
# CPU (in cores) busy outside the benchmark over the timed section above
# which a run is flagged contended; it is still reported and recorded
CONTENDED_CORES = 0.25

# Input sizes. `sf` scales the TPC-H-like tables (orders = 150,000 * sf)
# that the nightly pipelines' source builders read; the corpus tables are
# sized for the corpus operators.
SIZES = {
    "nightly-incremental": dict(sf=0.002, n_docs=200, n_vecs=200),
    "corpus-ops": dict(sf=0.001, n_docs=300, n_vecs=300),
}

JVM_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
     "-Dspark.ui.enabled=false"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    # keep sbt's temporary files and server socket out of the system tmp
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
                       " -Dsbt.server.autostart=false -XX:-UsePerfData")
    return env


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the engine's sources (src/main/scala/graft) are "
                 "missing; run from the root of a repository checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building (sbt compile)")
    t = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    sys.stderr.write(p.stdout[-4000:])
    lines = [ln.strip() for ln in p.stdout.splitlines()]
    cps = [ln for ln in lines if ".jar" in ln and ":" in ln
           and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.exit(f"perfbench: build failed (sbt exit {p.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    open(cp_file, "w").write(cps[-1])
    open(stamp_file, "w").write(stamp)
    log(f"built in {time.time() - t:.0f} s")
    return cps[-1]


def run_jvm(cmd, cwd, deadline):
    """Runs the JVM to completion (killed at `deadline`); returns
    (exit code, its peak RSS in MB)."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr)
    while True:
        pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            proc.returncode = os.waitstatus_to_exitcode(status)
            return proc.returncode, usage.ru_maxrss / 1024.0
        if time.time() > deadline:
            proc.kill()
            proc.wait()
            sys.exit("perfbench: the workload overran its time limit")
        time.sleep(0.1)


def trace_overhead_pct(workload, res):
    """Traced units' median wall over the untraced one's, as a percentage:
    untraced units of this run when it has them, else the untraced runs of
    the same workload recorded in this checkout (0 when there are none)."""
    units = res["detail"]["units"]
    traced = [u["seconds"] for u in units if u["traced"]]
    plain = [u["seconds"] for u in units if not u["traced"]]
    if not plain:
        try:
            with open(os.path.join(WORK, "runs.jsonl")) as f:
                plain = [r["metrics"]["unit_s"] for r in map(json.loads, f)
                         if r["workload"] == workload and not r["trace"]
                         and "unit_s" in r["metrics"]]
        except OSError:
            plain = []
    if not traced or not plain:
        log("no untraced units to set the tracing overhead against")
        return 0.0
    return 100.0 * (statistics.median(traced) / statistics.median(plain) - 1.0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    classpath = build()

    t0_ms = int(time.time() * 1000)  # set-up starts here
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    sys.dont_write_bytecode = True  # keep the checkout clean
    sys.path.insert(0, HERE)
    import datagen
    import oracle
    data = os.path.join(work, "data")
    rows = datagen.generate(data, args.seed, **SIZES[args.workload])
    log(f"inputs for seed {args.seed}: {rows}")

    out = os.path.join(work, "result.json")
    cmd = (["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/tmp",
        f"-Dspark.sql.warehouse.dir={work}/spark-warehouse",
        "-Dspark.hadoop.fs.file.impl=graft.perfbench.RedirectFs",
        f"-Dperfbench.oracle.dir={work}/oracle",
        f"-Dderby.system.home={work}",
        "-cp", classpath, "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--work", work, "--out", out,
        "--threads", str(THREADS), "--t0", str(t0_ms)])
    code, peak_rss_mb = run_jvm(cmd, work, t0_ms / 1000 + RUN_LIMIT_S)
    if code != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: the workload exited with code {code}")
    res = json.load(open(out))

    failures = list(res["failures"])
    sql = json.load(open(os.path.join(work, "oracle_sql.json")))
    checker = oracle.Checker(data, os.path.join(work, "oracle"),
                             os.path.join(work, "tmp", "duckdb"))
    c0 = time.time()
    if args.workload == "corpus-ops":
        bad = oracle.corpus(checker, work, res["detail"]["order"], sql)
    else:
        bad = oracle.nightly(checker, work, res["detail"]["pipelines"], sql)
    checker.close()
    bad = [b for b in bad if b]
    log(f"output checks: {len(bad)} failed ({time.time() - c0:.1f} s)")
    for b in bad:
        log(f"FAIL {b}")
    failures += bad

    metrics = dict(res["metrics"])
    host = res["host"]
    if args.trace:
        metrics["host.other_busy_cores"] = host["other_busy_cores"]
        metrics["trace.overhead_pct"] = trace_overhead_pct(args.workload, res)
    else:
        metrics["peak_rss_mb"] = peak_rss_mb
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    missing = sorted(set(units) - set(metrics))
    if missing:
        sys.exit(f"perfbench: metrics not measured: {missing}")

    contended = host["other_busy_cores"] > CONTENDED_CORES
    log(f"host: {host['other_busy_cpu_s']:.1f} CPU s busy outside the "
        f"benchmark over {host['timed_wall_s']:.1f} s timed "
        f"({host['other_busy_cores']:.2f} cores)"
        + (" -- CONTENDED run, kept in the record" if contended else ""))
    record = {"time": started, "workload": args.workload, "seed": args.seed,
              "trace": args.trace, "contended": contended, "host": host,
              "metrics": metrics, "failures": failures,
              "detail": res["detail"]}
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")

    failed = len(failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u}
                    for n, u in units.items()},
    }))


if __name__ == "__main__":
    main()
