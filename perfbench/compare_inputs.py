#!/usr/bin/env python3
"""Compares the generated input with a reference copy of the engine's
testdata, query by query, over the whole catalog.

    python3 perfbench/compare_inputs.py --reference <testdata>/sf0.1 --sf 0.1

Run from the root of a checkout. It runs the harness over all catalog
queries (two warm-up rounds, two timed passes) on the reference directory
and on the input `gen.base(sf)` writes, checks every answer against the
DuckDB oracle on its own input, and prints one row per query: the median
wall time on each input, their ratio and any oracle mismatch, then the
totals per family. The catalog sample in `run.py` was chosen from these
rows at sf0.1 and sf0.001. Takes about 10 minutes at sf0.1 on 4 cores.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import run  # noqa: E402


def measure(root, classes, data, out):
    """Median wall time per query and the queries whose answer differs
    from the oracle or raised."""
    os.makedirs(out, exist_ok=True)
    cmd = build.java_cmd(root, classes, "perfbench.Harness", [data, "all", "1", "2", "0", out])
    with open(os.path.join(out, "harness.log"), "w") as log:
        if subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT).returncode != 0:
            sys.exit(f"perfbench: harness failed, see {out}/harness.log")
    with open(os.path.join(out, "run.json")) as f:
        execs = json.load(f)["untraced"]["execs"]
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sql = json.load(f)
    oracle = check.oracle(data, sql, os.path.join(out, "oracle.json"))
    answered = sorted(q for q in sql if os.path.isdir(os.path.join(out, "answers", q)))
    answers = check.answers(os.path.join(out, "answers"), answered)
    walls = {}
    for e in execs:
        walls.setdefault(e["q"], []).append(e["wall_s"])
    bad = {q for q in sql if oracle[q] != answers.get(q)}
    bad |= {e["q"] for e in execs if "error" in e}
    return {q: statistics.median(v) for q, v in walls.items()}, bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--reference", required=True, help="directory of the ten reference tables")
    ap.add_argument("--sf", type=float, required=True, help="scale factor of the reference")
    a = ap.parse_args()
    root = os.getcwd()
    classes = build.build(root)
    out = os.path.join(root, build.BUILD_DIR, "compare", f"sf{a.sf}")
    ref, ref_bad = measure(root, classes, os.path.abspath(a.reference), os.path.join(out, "reference"))
    gen, gen_bad = measure(root, classes, run.make_input(root, {"sf": a.sf}), os.path.join(out, "generated"))

    print(f"{'query':18s} {'reference_s':>11s} {'generated_s':>11s} {'ratio':>6s}  oracle mismatch")
    for q in sorted(ref, key=lambda q: -ref[q]):
        miss = ",".join(n for n, b in (("reference", ref_bad), ("generated", gen_bad)) if q in b)
        print(f"{q:18s} {ref[q]:11.3f} {gen[q]:11.3f} {gen[q] / ref[q]:6.2f}  {miss}")
    fams = {}
    for q in ref:
        f = fams.setdefault(run.family(q), [0.0, 0.0])
        f[0] += ref[q]
        f[1] += gen[q]
    for f, (r, g) in sorted(fams.items()):
        print(f"family {f:12s} {r:11.3f} {g:11.3f} {g / r:6.2f}")
    r, g = sum(ref.values()), sum(gen.values())
    print(f"{'total':18s} {r:11.3f} {g:11.3f} {g / r:6.2f}")


if __name__ == "__main__":
    main()
