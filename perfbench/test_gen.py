#!/usr/bin/env python3
"""The benchmark's own test: the seeded generator gives byte-identical inputs
for the same seed and different inputs for a different seed.

    python3 perfbench/test_gen.py        (from the root of a checkout)
"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    jars = run.spark_jars()
    classes = run.build(jars)
    cp = f"{classes}:{os.path.join(jars, '*')}"
    for a, b in ((1, 2), (7, 8), (123456789, 123456790)):
        outs = []
        for _ in range(2):  # two processes: the digest must not depend on the JVM
            r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.GenCheck", str(a), str(b)],
                               capture_output=True, text=True, timeout=120)
            sys.stdout.write(r.stdout)
            if r.returncode != 0:
                sys.stderr.write(r.stderr[-2000:])
                sys.exit(1)
            outs.append(r.stdout)
        if outs[0] != outs[1]:
            print(f"FAILED: seed {a} digests differ between processes")
            sys.exit(1)
    print("generator determinism: ok")


if __name__ == "__main__":
    main()
