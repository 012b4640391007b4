#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload chain-tip|analytics \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark's JVM side from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. The last line of standard
output is one JSON object: correct, attempted, failed, and the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1). The line before it
carries the workload's own named metrics with their sample counts, the
queries a seed chose and the host state. Exits non-zero, without that line,
when the program cannot be built or run.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(HERE, "target")
WORKLOADS = ("chain-tip", "analytics")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for top in (PROGRAM_SRC, os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program with the benchmark; returns the classpath."""
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {PROGRAM_SRC}")
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if not (os.path.exists(stamp) and os.path.exists(cp_file)
            and open(stamp).read() == digest):
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "writeClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850, text=True)
        if r.returncode != 0 or not os.path.exists(cp_file):
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed")
        with open(stamp, "w") as f:
            f.write(digest)
    return open(cp_file).read().strip()


def java(cp, heap, main, args):
    # C1 only: a run lasts about a minute, and with C2 its compilations were
    # still landing in the measured round, moving timings by up to half
    # between runs; with C1 only they settle during set-up.
    cmd = ["java", f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main] + [str(a) for a in args]


def draw_queries(seed):
    """The seed's sample of each pool, in run order.

    short: one query from each of `short_sample` equal-count strata of the
    pool ordered by warm time on these tables, taking in each stratum the family drawn
    least so far (ties by a seeded family order), so every seed gets the
    same cost profile over varied families.
    iterative: one query from each of the first `iterative_sample` families,
    in seeded order, among the members that fit a run (`in_run`).
    """
    pools = json.load(open(os.path.join(HERE, "pools.json")))
    rng = random.Random(seed)
    size = pools["short_sample"]
    members = sorted(pools["short"], key=lambda q: (q["warm_s"], q["name"]))
    families = sorted({q["family"] for q in members})
    rng.shuffle(families)
    rank = {f: i for i, f in enumerate(families)}
    used = {f: 0 for f in families}
    short = []
    for k in range(size):
        stratum = members[k * len(members) // size:
                          (k + 1) * len(members) // size]
        fam = min({q["family"] for q in stratum},
                  key=lambda f: (used[f], rank[f]))
        used[fam] += 1
        short.append(rng.choice(
            [q["name"] for q in stratum if q["family"] == fam]))
    rng.shuffle(short)
    by_family = {}
    for q in pools["iterative"]:
        if q["in_run"]:
            by_family.setdefault(q["family"], []).append(q["name"])
    families = sorted(by_family)
    rng.shuffle(families)
    iterative = [rng.choice(sorted(by_family[f]))
                 for f in families[:pools["iterative_sample"]]]
    return {"short": short, "iterative": iterative}


def host_state(result):
    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
        commit = r.stdout.strip() or commit
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg": list(os.getloadavg()), "git_commit": commit,
            "jvm_heap_max_mb": result.get("heap_max_mb")}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_file):
        fail(f"{spec_file} not found")
    spec = json.load(open(spec_file))
    cp = build()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    log = open(os.path.join(work, "jvm.log"), "w")
    stub = None
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds}
    try:
        if a.workload.startswith("chain"):
            port_file = os.path.join(work, "stub.port")
            stub = subprocess.Popen(
                java(cp, "384m", "perfbench.StubNode",
                     [a.seed, 0, cpus, port_file]),
                stdin=subprocess.PIPE, stdout=log, stderr=log)
            extra = [port_file]
        else:
            sys.path.insert(0, HERE)
            import gen_tables
            data = os.path.join(work, "data")
            t0 = time.time()
            gen_tables.generate(data, a.seed)
            detail["data_gen_s"] = time.time() - t0
            picked = draw_queries(a.seed)
            detail["queries"] = picked
            extra = [data, ",".join(picked["short"]),
                     ",".join(picked["iterative"])]
        t_jvm = time.time()
        r = subprocess.run(
            java(cp, "3g", "perfbench.Bench",
                 [a.workload, a.seed, a.seconds, a.trace, cpus, work,
                  result_file] + extra),
            stdin=subprocess.DEVNULL, stdout=log, stderr=log, timeout=150)
        if r.returncode != 0 or not os.path.exists(result_file):
            log.flush()
            sys.stderr.write(open(log.name).read()[-4000:])
            fail(f"benchmark JVM exited with {r.returncode}")
        detail["jvm_s"] = time.time() - t_jvm
    finally:
        if stub is not None:
            stub.stdin.close()
            try:
                stub.wait(timeout=10)
            except subprocess.TimeoutExpired:
                stub.kill()
                stub.wait()
        log.close()

    res = json.load(open(result_file))
    attempted, failed = res["attempted"], res["failed"]
    failures = list(res["failures"])
    if a.workload == "analytics":
        import oracle
        t0 = time.time()
        checked, bad = oracle.check(data, os.path.join(work, "outputs"),
                                    res["oracle_sql"],
                                    picked["short"] + picked["iterative"])
        attempted += checked
        detail["oracle_s"] = time.time() - t0
        failed += len(bad)
        failures += bad
    e2e = dict(res["e2e"], setup_s=res["setup_s"])
    detail.update(
        named=res["named"], setup_s=res["setup_s"],
        timing={k: v for k, v in res.items() if k.endswith("_s") or
                k.startswith("setup_")},
        error_rate={"value": failed / attempted, "unit": "ratio",
                    "samples": attempted},
        failures=failures[:20], host=host_state(res))
    if a.trace:
        layers = res["layers"]
        detail["tracing_overhead"] = {
            k: res["e2e_traced"][k] - res["e2e"][k] for k in res["e2e"]}
        detail["spans"] = res.get("spans")
        out = {m["name"]: {"value": layers.get(m["name"], 0.0),
                           "unit": m["unit"]} for m in spec["per_layer"]}
        for k, v in detail["tracing_overhead"].items():
            out[f"trace.overhead.{k}"]["value"] = v
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        shutil.copy(res["spans_file"], os.path.join(
            HERE, "out", f"spans-{a.workload}-{a.seed}.json"))
        with open(os.path.join(HERE, "out",
                               f"layers-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"layers": out, "detail": detail}, f, indent=1)
    else:
        out = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
               for m in spec["end_to_end"]}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
