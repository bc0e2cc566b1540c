#!/usr/bin/env python3
"""Self-tests of the graft benchmark.

    python3 graftbench/selftest.py

1. Inputs: the same seed writes byte-identical inputs, another seed
   different ones (every workload).
2. Counts: two traced single-client runs of the same seed (one table_dml
   round) report identical per-operation Spark job and task counts and
   data files per commit, and identical shuffle bytes wherever rows do
   not carry the commit time (every format but Hudi).
3. Checks: the output checks reject deliberately corrupted results --
   a wrong read answer and a wrong final snapshot (table_dml, through
   the model), and a sink that lost a data file (ingest, end to end).
4. Metric names: BENCHMARK.json lists exactly the metrics run.py prints.

Runs the benchmark three times (about three minutes on 4 cores).
Exit code 0 when every test passes.
"""
import copy
import filecmp
import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work", "selftest")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import model  # noqa: E402
import run  # noqa: E402

failures = []


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    if mismatch or errors:
        return False
    return all(same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_inputs():
    for w in run.WORKLOADS:
        a, b, c = (os.path.join(WORK, f"{w}-{x}") for x in "abc")
        gen.generate(w, 7, 10, a)
        gen.generate(w, 7, 10, b)
        gen.generate(w, 8, 10, c)
        check(same_tree(a, b), f"{w}: same seed gives byte-identical inputs")
        check(not same_tree(a, c), f"{w}: another seed gives different inputs")


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last), p.stderr


def test_counts_and_model():
    results = os.path.join(HERE, ".work", "results", "table_dml-seed7-trace1.json")
    runs = []
    for i in range(2):
        code, out, err = bench("--workload", "table_dml", "--seed", "7", "--seconds", "1",
                               "--trace", "1", "--max-steps", "3", "--keep")
        check(code == 0 and out.get("correct") is True, f"table_dml traced run {i + 1} is correct")
        if code != 0:
            sys.stderr.write(err[-3000:])
            return
        with open(results) as f:
            runs.append(json.load(f))
    a, b = runs
    key = lambda c: (c["kind"], c["step"])  # noqa: E731
    ca = {key(c): (c["jobs"], c["tasks"]) for c in a["counts"]}
    cb = {key(c): (c["jobs"], c["tasks"]) for c in b["counts"]}
    check(len(ca) > 0 and ca == cb, f"jobs and tasks repeat for {len(ca)} operations")
    fa = {key(c): c["data_files"] for c in a["io"]}
    fb = {key(c): c["data_files"] for c in b["io"]}
    check(len(fa) > 0 and fa == fb, f"data files per commit repeat for {len(fa)} commits")
    # bytes repeat exactly except where rows carry the commit time (Hudi)
    sa = {key(c): c["shuffle_bytes"] for c in a["counts"] if not c["kind"].startswith("hudi")}
    sb = {key(c): c["shuffle_bytes"] for c in b["counts"] if not c["kind"].startswith("hudi")}
    check(len(sa) > 0 and sa == sb, f"shuffle bytes repeat for {len(sa)} non-Hudi operations")

    # the model must reject a wrong read answer and a wrong final snapshot
    work = sorted(glob.glob(os.path.join(HERE, ".work", "run-table_dml-7-*")))[-1]
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(work, "inputs", "manifest.json")) as f:
        manifest = json.load(f)
    inputs = os.path.join(work, "inputs")
    d = res["details"]
    samples, checks = model.check(manifest, inputs, copy.deepcopy(res["samples"]),
                                  d["final"], d["executed_steps"])
    check(all(s["correct"] for s in samples) and all(c["ok"] for c in checks),
          "model accepts the real results")
    bad = copy.deepcopy(res["samples"])
    target = next(s for s in bad if s["op"] in ("range", "time_travel"))
    target["result"]["count"] += 1
    samples, _ = model.check(manifest, inputs, bad, d["final"], d["executed_steps"])
    check(sum(not s["correct"] for s in samples) == 1, "model rejects a read off by one row")
    finals = copy.deepcopy(d["final"])
    finals["delta"]["sum_ver"] += 1
    _, checks = model.check(manifest, inputs, copy.deepcopy(res["samples"]), finals,
                            d["executed_steps"])
    check([c["fmt"] for c in checks if not c["ok"]] == ["delta"],
          "model rejects a final snapshot with one changed version")
    for w in glob.glob(os.path.join(HERE, ".work", "run-table_dml-7-*")):
        shutil.rmtree(w, ignore_errors=True)


def test_ingest_corruption():
    code, out, _ = bench("--workload", "ingest", "--seed", "7", "--seconds", "4",
                         "--trace", "0", "--corrupt", "parquet")
    check(code == 0 and out.get("correct") is False and out.get("failed", 0) > 0,
          "ingest read-back check rejects a sink that lost a data file")


def test_metric_names():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return
    with open(path) as f:
        b = json.load(f)
    check([m["name"] for m in b["end_to_end"]] == [n for n, _ in run.END_TO_END],
          "BENCHMARK.json end_to_end matches run.py")
    check([(m["name"], m["unit"]) for m in b["per_layer"]] ==
          [(n, u) for n, u, _ in run.per_layer_names()],
          "BENCHMARK.json per_layer matches run.py")
    check([w["name"] for w in b["workloads"]] == run.WORKLOADS,
          "BENCHMARK.json workloads match run.py")


def main():
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        test_metric_names()
        test_inputs()
        test_counts_and_model()
        test_ingest_corruption()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
