#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload catalog_sf01 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program from source
(`perfbench/build.py`), generates the workload's fixed input
(`perfbench/gen.py`), runs the harness JVM (`perfbench/harness`) with the
seed drawing each pass's query order, checks every answer against the
DuckDB oracle SQL the catalog carries (`perfbench/check.py`) and prints,
as its last stdout line, one JSON object with the end-to-end metrics
(`--trace 0`) or the per-layer metrics (`--trace 1`). The line before it is a detail record: the tail percentile
and its sample count, failing queries by name, and the host context.
Everything it writes goes under `.bench_build/` in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# One sample of the catalog, one query per family, shared by the two
# catalog workloads so that their difference isolates data size. A full
# 88-query pass plus one warm-up round takes about 65 s at sf0.001 and
# 135 s at sf0.1 on 4 cores, more than one run of the benchmark may take.
# The sample was searched from per-query times of the full catalog on the
# engine's testdata so that its sf0.001/sf0.1 time ratio is the catalog's
# (0.44), among queries whose times on the generated input are within
# 0.8-1.25x of those on the testdata. perfbench/README.md gives the
# measurements.
CATALOG = ["a4_wavg", "b1_backtest", "e_tumbling", "f1_dates", "g_ecc",
           "j6_range", "q1_agg", "s_lsh", "t_embdup", "w6_islands"]

# Passes per run at the reference run length; a run of `--seconds` makes
# passes * seconds / REFERENCE_SECONDS of them, so every run of a workload
# has the same sample count.
REFERENCE_SECONDS = 10
WORKLOADS = {
    "catalog_sf01": dict(sf=0.1, queries=CATALOG, passes=3),
    "floor_sf0001": dict(sf=0.001, queries=CATALOG, passes=3),
}

# Query-name prefix -> catalog family (the module the query exercises).
FAMILIES = [("a", "agg"), ("b", "backtest"), ("e_", "events"), ("f", "dates"),
            ("g_", "graph"), ("j", "join"), ("s_", "sim"), ("t_", "text"),
            ("w", "window"), ("", "relational")]

STALL_RATIO, STALL_FLOOR_S = 1.5, 0.25
# Limit on the harness alone. Build and input generation run before it
# and are bounded by their own work: a cold build compiles the program.
HARNESS_LIMIT_S = 150


def family(q):
    return next(f for p, f in FAMILIES if q.startswith(p))


def make_input(root, wl):
    """The workload's input directory, generated once per scale factor and
    generator version."""
    path = os.path.join(root, build.BUILD_DIR, "data", f"sf{wl['sf']}-v{gen.VERSION}")
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.base(wl["sf"], tmp)
        os.replace(tmp, path)
    return path


def tail(walls):
    """Highest percentile with at least 10 samples beyond it."""
    s = sorted(walls)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def stall_frac(execs):
    """Share of executions at least 1.5x and 0.25 s slower than the same
    query's fastest execution in the run."""
    best = {}
    for e in execs:
        best[e["q"]] = min(best.get(e["q"], e["wall_s"]), e["wall_s"])
    slow = sum(1 for e in execs
               if e["wall_s"] >= STALL_RATIO * best[e["q"]]
               and e["wall_s"] - best[e["q"]] >= STALL_FLOOR_S)
    return slow / len(execs)


def verdicts(run, oracle, answers):
    """Failing executions per query: exceptions, answers that differ from
    the oracle, and answers that differ from the checked one."""
    ok_answer = {q: oracle.get(q) == answers.get(q) for q in answers}
    fails = {}
    execs = [e for k in ("untraced", "traced", "untraced_after") for e in run.get(k, {}).get("execs", [])]
    for e in execs:
        q = e["q"]
        why = None
        if "error" in e:
            why = "exception: " + e["error"]
        elif not e.get("same_as_checked", False):
            why = "answer differs from the checked execution"
        elif not ok_answer.get(q, False):
            why = "answer differs from the DuckDB oracle"
        if why:
            fails.setdefault(q, []).append(why)
    return len(execs), fails


def metric(v, unit):
    return {"value": v, "unit": unit}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    wl = WORKLOADS[a.workload]

    classes = build.build(root)
    data = make_input(root, wl)
    t_inputs = time.time()
    out = os.path.join(root, build.BUILD_DIR, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    passes = max(1, round(wl["passes"] * a.seconds / REFERENCE_SECONDS))
    if a.trace:
        passes = max(1, passes // 2)  # a traced run measures three windows
    cmd = build.java_cmd(root, classes, "perfbench.Harness",
                         [data, ",".join(wl["queries"]), str(a.seed), str(passes),
                          str(a.trace), out])
    with open(os.path.join(out, "harness.log"), "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                timeout=HARNESS_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: harness timed out, see {out}/harness.log")
    if rc != 0:
        sys.exit(f"perfbench: harness exited with {rc}, see {out}/harness.log")
    t_harness = time.time()
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sql = json.load(f)

    sql_key = hashlib.sha256(json.dumps(sql, sort_keys=True).encode()).hexdigest()[:16]
    oracle = check.oracle(data, sql, os.path.join(data, f"oracle-{sql_key}.json"))
    answers = check.answers(os.path.join(out, "answers"),
                            sorted(q for q in wl["queries"]
                                   if os.path.isdir(os.path.join(out, "answers", q))))
    attempted, fails = verdicts(run, oracle, answers)
    failed = sum(len(v) for v in fails.values())

    w = run["untraced"]
    walls = [e["wall_s"] for e in w["execs"]]
    tail_s, tail_pct, n = tail(walls)
    detail = {
        "workload": a.workload, "seed": a.seed, "input": os.path.relpath(data, root),
        "queries": len(wl["queries"]), "cores": run["cores"],
        "passes": w["passes"], "query_tail_percentile": round(tail_pct, 2),
        "query_samples": n, "fail_frac": failed / attempted,
        "failing": {q: sorted(set(v)) for q, v in sorted(fails.items())},
        "calibration": run["calibration"], "stall_frac": stall_frac(w["execs"]),
        "run_s": {"build_and_inputs": t_inputs - t_start, "harness": t_harness - t_inputs,
                  "check": time.time() - t_harness},
    }
    if a.trace == 0:
        metrics = {
            "setup_s": metric(run["setup_s"], "s"),
            "pass_s": metric(statistics.median(w["pass_s"]), "s"),
            "query_p50_s": metric(statistics.median(walls), "s"),
            "query_tail_s": metric(tail_s, "s"),
            "ok_frac": metric(1 - failed / attempted, "ratio"),
            "heap_peak_mb": metric(run["heap_peak_mb"], "MB"),
        }
    else:
        t = run["traced"]
        base_pass = statistics.median(w["pass_s"] + run["untraced_after"]["pass_s"])
        metrics = {
            "setup.session_s": metric(run["setup.session_s"], "s"),
            "setup.warmup_s": metric(run["setup.warmup_s"], "s"),
        }
        for k, v in run["layers"].items():
            metrics[k] = metric(v, _unit(k))
        passes = t["passes"]
        for _, fam in FAMILIES:
            s = sum(e["wall_s"] for e in t["execs"] if family(e["q"]) == fam)
            metrics[f"family.{fam}.wall_s"] = metric(s / passes, "s")
        metrics["fail_frac"] = metric(failed / attempted, "ratio")
        metrics["host.calib_ratio"] = metric(run["calibration"]["ratio"], "ratio")
        metrics["host.stall_frac"] = metric(detail["stall_frac"], "ratio")
        metrics["trace.overhead_frac"] = metric(
            (statistics.median(t["pass_s"]) - base_pass) / base_pass, "ratio")
        detail["layer_rows"] = os.path.relpath(os.path.join(out, "layers.jsonl"), root)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def _unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("cpu_util"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
