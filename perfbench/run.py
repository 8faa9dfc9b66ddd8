#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload in a
fresh JVM, check its outputs, print its metrics.

    python3 perfbench/run.py --workload habits_daily --seed 1 --seconds 3 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`). The full result,
with raw op timings, spans, checks and host context, is written to
`.bench_build/results/` in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("habits_daily", "stream_ticks", "corpus_batch")
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs the module opens the root
# build passes to its forked JVMs.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
ORACLES = ["q_dedup_minhash", "q_curation", "q_lang_id_ngram", "q_html_blocks",
           "q_cluster_incremental", "q_knn_ivf"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads, to reuse a build only when
    nothing it depends on changed."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark JVM code with sbt (once per source
    state) and return the runtime classpath."""
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("the library sources (src/main/scala, build.sbt) are not in this checkout")
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"], digest
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    # sbt's own state and temp files stay inside the checkout
    local = [f"-Dsbt.global.base={BUILD}/sbt-global", f"-Dsbt.ivy.home={BUILD}/ivy",
             f"-Djna.tmpdir={BUILD}/tmp", f"-Djava.io.tmpdir={BUILD}/tmp"]
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *local,
                             "export Runtime/fullClasspath"], cwd=HERE, env=env,
                            stdout=out, stderr=subprocess.STDOUT, timeout=840).returncode
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = next((ln for ln in reversed(lines) if ".jar" in ln and not ln.startswith("[")), None)
    if rc != 0 or cp is None:
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp, digest


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def generate(workload, seed, inputs):
    params = {}
    if workload == "habits_daily":
        gen.gen_sheets(seed, os.path.join(inputs, "sheets"))
        params.update(sheet_users=gen.SHEET_USERS, sheet_history_days=gen.SHEET_HISTORY_DAYS,
                      sheet_start=gen.Sheet(seed).start.isoformat(),
                      max_ingests=gen.MAX_INGESTS)
    elif workload == "stream_ticks":
        gen.gen_ticks(seed, os.path.join(inputs, "ticks"))
        params.update(ticks=gen.STREAM_TICKS, cms_values=",".join(gen.CMS_VALUES))
    else:
        gen.gen_corpus(seed, os.path.join(inputs, "corpus"))
        params.update(corpus_docs=gen.CORPUS_DOCS)
    return params


def run_jvm(classpath, params, work, timeout):
    path = os.path.join(work, "params.properties")
    with open(path, "w") as f:
        for k, v in params.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", *ADD_OPENS,
           "-cp", classpath, "perfbench.Main", path]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited with {rc}")
    with open(params["result"]) as f:
        return json.load(f)


def run_workload(workload, seed, seconds, trace, classpath, digest):
    cores = min(4, os.cpu_count() or 1)
    work = os.path.join(BUILD, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    try:
        params = generate(workload, seed, inputs)
        params.update(workload=workload, seed=seed, seconds=seconds, trace=trace,
                      cores=cores, inputs=inputs, work=work,
                      result=os.path.join(work, "result.json"),
                      oracles=",".join(ORACLES), oracles_out=os.path.join(work, "oracles.json"))
        load_start, cpu0 = loadavg(), cpu_times()
        res = run_jvm(classpath, params, work, timeout=seconds + 150)
        load_end, cpu1 = loadavg(), cpu_times()
        used = [b - a for a, b in zip(cpu0, cpu1)]
        oracles = check.load_oracles(params["oracles_out"])
        if workload == "habits_daily":
            checks = check.check_habits(res, seed, work)
        elif workload == "stream_ticks":
            checks = check.check_stream(res, inputs, oracles, work)
        else:
            checks = check.check_corpus(res, inputs, oracles, work)
        store = {"habits_daily": [res.get("store", "")],
                 "stream_ticks": [os.path.join(work, "out"), os.path.join(work, "cp")],
                 "corpus_batch": [os.path.join(res.get("out", ""), "p1")]}[workload]
        res["disk_mb"] = sum(os.path.getsize(os.path.join(d, f))
                             for s in store for d, _, fs in os.walk(s) for f in fs) / 1e6
        if workload == "stream_ticks":      # per tick, tick 0 included
            res["disk_mb"] /= res["ticks"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = metrics.summarize(workload, res, checks, trace)
    out["host"] = {"nproc": os.cpu_count(), "master": f"local[{cores}]",
                   "shuffle_partitions": res.get("shuffle_partitions"),
                   "heap": f"-Xmx{HEAP}", "load1m_start": load_start,
                   "load1m_end": load_end,
                   # share of CPU time the hypervisor gave to other guests
                   # while the JVM ran: a contaminated run shows here
                   "cpu_steal_share": used[7] / max(sum(used), 1),
                   "git_commit": git_commit(),
                   "source_digest": digest, "seed": seed, "seconds": seconds}
    out["checks"] = [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks]
    out["raw"] = {k: v for k, v in res.items() if k not in ("panels_last",)}
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    untraced = os.path.join(results, f"{workload}-seed{seed}-trace0.json")
    if trace and os.path.isfile(untraced):
        # tracing overhead: the traced minus the untraced value of each
        # end-to-end metric, same workload and seed
        with open(untraced) as f:
            base = json.load(f)["e2e"]
        out["tracing_overhead"] = {k: out["e2e"][k] - base[k] for k in base}
    with open(os.path.join(results, f"{workload}-seed{seed}-trace{trace}.json"), "w") as f:
        json.dump(out, f, indent=1, default=str)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=3)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()
    classpath, digest = build()
    print(f"perfbench: build ready in {time.time() - t0:.1f} s", file=sys.stderr)
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    outs = {w: run_workload(w, a.seed, a.seconds, a.trace, classpath, digest) for w in names}
    for w, o in outs.items():
        for n, ok, d in ((c["name"], c["ok"], c["detail"]) for c in o["checks"]):
            if not ok:
                print(f"{w}: CHECK FAILED {n}: {d}")
        for name, m in o["metrics"].items():
            print(f"{w}: {name} = {m['value']:.6g} {m['unit']}")
        for name, m in o.get("named", {}).items():
            print(f"{w}: ({name} = {m['value']:.6g} {m['unit']})")
        for name, v in o.get("tracing_overhead", {}).items():
            print(f"{w}: tracing overhead on {name} = {v:+.6g}")
    if len(outs) == 1:
        o = next(iter(outs.values()))
        last = {k: o[k] for k in ("correct", "attempted", "failed", "metrics")}
    else:
        last = {"correct": all(o["correct"] for o in outs.values()),
                "attempted": sum(o["attempted"] for o in outs.values()),
                "failed": sum(o["failed"] for o in outs.values()),
                "metrics": {f"{w}.{k}": v for w, o in outs.items() for k, v in o["metrics"].items()}}
    print(json.dumps(last))


if __name__ == "__main__":
    main()
