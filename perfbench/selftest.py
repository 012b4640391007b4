#!/usr/bin/env python3
"""The benchmark's self-tests. Run from the repository root:

    python3 perfbench/selftest.py [--no-smoke]

1. The analytics tables are byte-identical for one seed and differ across
   seeds.
2. perfbench.SelfTest (JVM): the chain generator is deterministic per seed
   and its payloads validate against HeliumSchemas; the node stub's counters
   match a hand-counted three-block chain.
3. Unless --no-smoke: each workload runs for two seconds and its
   correctness check passes.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_tables  # noqa: E402
import run  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(open(os.path.join(d, f), "rb").read())
    return h.hexdigest()


def main():
    failed = 0
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        a, b, c = (os.path.join(tmp, x) for x in "abc")
        gen_tables.generate(a, 5)
        gen_tables.generate(b, 5)
        gen_tables.generate(c, 6)
        same, other = digest(a) == digest(b), digest(a) != digest(c)
        print(f"{'ok  ' if same else 'FAIL'} analytics tables byte-identical "
              f"for one seed")
        print(f"{'ok  ' if other else 'FAIL'} another seed gives other tables")
        failed += (not same) + (not other)
    cp = run.build()
    r = subprocess.run(run.java(cp, "1g", "perfbench.SelfTest", []),
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    print(r.stdout, end="")
    failed += r.returncode != 0
    if "--no-smoke" not in sys.argv:
        for w in run.WORKLOADS:
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", "3",
                                "--seconds", "2"],
                               stdout=subprocess.PIPE, text=True)
            last = r.stdout.strip().splitlines()[-1:] or ["{}"]
            ok = r.returncode == 0 and json.loads(last[0]).get("correct")
            print(f"{'ok  ' if ok else 'FAIL'} smoke run of {w}: {last[0][:200]}")
            failed += not ok
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
