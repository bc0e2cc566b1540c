#!/usr/bin/env python3
"""graft benchmark: one command, two seeded workloads, checked outputs.

    python3 graftbench/run.py --workload {ingest,table_dml}
                              --seed N --seconds S --trace {0,1}

Builds the engine from this checkout's sources (once; the build is
reused while the sources are unchanged), generates the workload's inputs
from the seed, runs them against graft on `local[<cores>]`, checks every
output, and prints:

* one `report` line per workload metric, named as in METRICS.md, with
  its unit and sample count;
* as the last line, one JSON object with `correct`, `attempted`,
  `failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
  per-layer metrics with `--trace 1`.

The full result (samples, checks, details, layers) is kept under
`graftbench/.work/results/` for `compare.py`.  Exit code 0 only when a
result was printed.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import model  # noqa: E402

WORKLOADS = ["ingest", "table_dml"]
GEN_REPS = 3
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 700

# ------------------------------------------------------------ metric names

# gated, on every workload (METRICS.md: definitions and bounds)
END_TO_END = [
    ("setup_s", "s"),
    ("busy_ms_per_op", "ms"),
    ("cpu_ms_per_op", "ms"),
    ("space_amp", "ratio"),
    ("peak_rss_mb", "MB"),
]

INGEST_FORMATS = gen.INGEST_FORMATS
DML_FORMATS = gen.DML_FORMATS
LAYERS = ["queue", "stream", "ops", "sinks", "spark"]


def per_layer_names():
    """(name, unit, better) of every per-layer metric, in report order."""
    out = [("queue.latest_offset_ms", "ms", "lower"), ("queue.get_batch_ms", "ms", "lower"),
           ("queue.backlog_files_max", "count", "lower"),
           ("queue.accepted_per_delivered", "ratio", "higher"),
           ("stream.add_batch_ms", "ms", "lower"), ("stream.wal_commit_ms", "ms", "lower"),
           ("stream.commit_offsets_ms", "ms", "lower"), ("stream.trigger_ms", "ms", "lower"),
           ("stream.restart_ms", "ms", "lower")]
    for f in INGEST_FORMATS:
        out += [(f"sinks.{f}.append_ms", "ms", "lower"),
                (f"sinks.{f}.jobs_per_commit", "count", "lower"),
                (f"sinks.{f}.tasks_per_commit", "count", "lower")]
    for f in DML_FORMATS:
        out += [(f"sinks.{f}.{op}_ms", "ms", "lower") for op in gen.SUPPORTS[f] if op != "vacuum"]
        out += [(f"sinks.{f}.driver_ms", "ms", "lower"),
                (f"sinks.{f}.label.probe_ms", "ms", "lower"),
                (f"sinks.{f}.label.stage_ms", "ms", "lower"),
                (f"sinks.{f}.label.other_ms", "ms", "lower"),
                (f"sinks.{f}.bytes_written_per_user_byte", "ratio", "lower"),
                (f"sinks.{f}.files_per_commit", "count", "lower"),
                (f"sinks.{f}.log_bytes_per_commit", "B", "lower"),
                (f"sinks.{f}.read_ms", "ms", "lower"),
                (f"sinks.{f}.rows_read_per_row_returned", "ratio", "lower")]
    out += [("ops.enrich_ms", "ms", "lower"), ("ops.jobs", "count", "lower"), ("ops.tasks", "count", "lower"),
            ("ops.task_s", "s", "lower"), ("ops.shuffle_mb", "MB", "lower"),
            ("ops.spill_mb", "MB", "lower"), ("ops.driver_ms", "ms", "lower"),
            ("spark.gc_s", "s", "lower"), ("spark.deser_s", "s", "lower")]
    for layer in LAYERS:
        out += [(f"self.{layer}_s", "s", "lower"), (f"spans.{layer}", "count", "lower")]
    return out


# ----------------------------------------------------------------- build


def fail(msg):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine + bench driver with sbt; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to the benchmark")
    out = os.path.join(WORK, "build")
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Xmx3g", "-Dsbt.offline=true", "-Dsbt.server.forcestart=false"]
    if os.path.exists(repo_cfg):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_cfg}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not finish: {e}")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = [l for l in p.stdout.splitlines() if "graftbench" in l and "classes" in l and ":" in l]
    if not cp:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
              "java.base/java.io", "java.base/java.net", "java.base/java.nio",
              "java.base/java.util", "java.base/java.util.concurrent",
              "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
              "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]


def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation keep the resident set comparable
    # between runs (peak_rss_mb)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + args
    launched = time.time()
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = -1
    log.close()
    return code, launched


# ------------------------------------------------------------ statistics


def tail(xs):
    """The highest percentile with at least ten samples beyond it."""
    s = sorted(xs)
    if not s:
        return float("nan"), 0.0
    if len(s) < 11:
        return s[-1], 1.0
    return s[len(s) - 11], (len(s) - 10) / len(s)


def geomean(xs):
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def lat(samples):
    """Latencies; a failed or incorrect operation misses every limit (+inf)."""
    return [s["ms"] if s.get("correct") and s["ms"] is not None else math.inf for s in samples]


def kind_medians(samples):
    by = {}
    for s, ms in zip(samples, lat(samples)):
        by.setdefault(s["kind"], []).append(ms)
    return {k: statistics.median(v) for k, v in by.items()}


def finite(v):
    """JSON has no infinity: a latency every failure pushed past any
    limit prints as 1e12."""
    return v if math.isfinite(v) else 1e12


def metric(value, unit, n):
    return {"value": value, "unit": unit, "samples": n}


# ----------------------------------------------------------------- checks


def check_ingest(res):
    bad = {c["fmt"] for c in res["checks"] if not c["ok"]}
    samples = res["samples"]
    for s in samples:
        s["correct"] = bool(s["ok"]) and s["fmt"] not in bad
    return samples, res["checks"]


def check_table_dml(res, manifest, inputs):
    d = res["details"]
    return model.check(manifest, inputs, res["samples"], d["final"], d["executed_steps"])


# ---------------------------------------------------------------- metrics


def workload_report(workload, res, samples, checks, setup_s):
    """Every end-to-end metric of the workload, named as in METRICS.md."""
    xs = lat(samples)
    attempted = len(samples) + len(checks)
    failed = sum(1 for s in samples if not s.get("correct")) + \
        sum(1 for c in checks if not c["ok"])
    if workload == "ingest":
        # an operation is one file committed to one sink; the program is
        # busy for the micro-batches that carried rows
        batches = [b for bs in res["details"]["batches"].values() for b in bs]
        ops = sum(res["details"]["accepted"].values())
        busy_ms = sum(ms for _, ms in batches)
    else:
        ops, busy_ms = len(xs), sum(xs)
    busy = busy_ms / ops if ops and not failed else math.inf
    rep = {"setup_s": metric(setup_s, "s", 1),
           "busy_ms_per_op": metric(busy, "ms", ops),
           "cpu_ms_per_op": metric(res["measure_cpu_s"] * 1000.0 / max(1, ops), "ms", ops),
           "peak_rss_mb": metric(res["peak_rss_mb"], "MB", 1)}
    rep["failed_ratio"] = metric(failed / max(1, attempted), "ratio", attempted)
    if workload == "ingest":
        rep["freshness_p50_ms"] = metric(statistics.median(xs), "ms", len(xs))
        t, p = tail(xs)
        rep["freshness_tail_ms"] = metric(t, "ms", len(xs)) | {"percentile": p}
        cu = res["details"]["catchup"]
        rows = sum(v["rows"] for v in cu.values())
        ms = sum(v["ms"] for v in cu.values())
        rep["catchup_rows_per_s"] = metric(rows / (ms / 1000.0) if ms else 0.0, "1/s", len(cu))
        rep["generator_late_ms"] = metric(res["details"]["generator_late_ms"]["max"], "ms", 1)
    else:
        w = [s for s in samples if s["op"] in ("upsert", "merge", "delete", "compact", "vacuum")]
        r = [s for s in samples if s["op"] in ("range", "point", "time_travel")]
        for name, grp in (("commit", w), ("read", r)):
            xs = lat(grp)
            rep[f"{name}_p50_ms"] = metric(statistics.median(xs) if xs else float("nan"), "ms", len(xs))
            t, p = tail(xs)
            rep[f"{name}_tail_ms"] = metric(t, "ms", len(xs)) | {"percentile": p}
    rep["space_amp"] = space_amp(res)
    for f, v in sorted(res["details"]["space_amp"].items()):
        rep[f"space_amp.{f}"] = metric(v, "ratio", 1)
    return rep, attempted, failed


def space_amp(res):
    """Geometric mean over formats of bytes on disk per plain-parquet byte;
    a format whose size could not be measured counts as +inf."""
    amps = list(res["details"]["space_amp"].values())
    v = geomean(amps) if amps and all(a > 0 for a in amps) else math.inf
    return metric(v, "ratio", len(amps))


def end_to_end(report):
    return {name: report[name] for name, _ in END_TO_END}


# ------------------------------------------------------------------- main


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--max-steps", type=int, default=0,
                    help="stop after this many steps/passes (self-tests)")
    ap.add_argument("--keep", action="store_true", help="keep the run's work dir")
    ap.add_argument("--corrupt", default="",
                    help="self-tests: drop one data file of this ingest sink before its check")
    a = ap.parse_args()

    cp = build()
    cores = max(1, min(8, os.cpu_count() or 4))
    work = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        gen_s = []
        for _ in range(GEN_REPS):
            shutil.rmtree(inputs, ignore_errors=True)
            t0 = time.perf_counter()
            manifest = gen.generate(a.workload, a.seed, a.seconds, inputs)
            gen_s.append(time.perf_counter() - t0)
        out = os.path.join(work, "result.json")
        code, launched = run_jvm(cp, [
            "--workload", a.workload, "--inputs", inputs, "--work", work, "--out", out,
            "--trace", str(a.trace), "--cores", str(cores),
            "--max-steps", str(a.max_steps),
            "--corrupt", a.corrupt], work)
        if code != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"benchmark process exited with {code}")
        with open(out) as f:
            res = json.load(f)
        boot_s = res["main_ms"] / 1000.0 - launched
        setup_s = statistics.median(gen_s) + max(0.0, boot_s) + res["setup_s"] + res["warmup_s"]

        if a.workload == "ingest":
            samples, checks = check_ingest(res)
        else:
            samples, checks = check_table_dml(res, manifest, inputs)

        report, attempted, failed = workload_report(a.workload, res, samples, checks, setup_s)
        e2e = end_to_end(report)
        layers = {}
        for name, unit, _ in per_layer_names():
            layers[name] = metric(float(res["layers"].get(name, 0.0)), unit, 1)
        for c in checks:
            if not c["ok"]:
                print(f"[graftbench] check failed: {json.dumps(c)[:600]}", file=sys.stderr)
        for name, m in report.items():
            print(json.dumps({"report": name, "workload": a.workload} | m | {"value": finite(m["value"])}))
        print(json.dumps({"report": "host_probe", "workload": a.workload} | res["host_probe"]))

        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        keep = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                "report": report, "end_to_end": e2e, "layers": res["layers"],
                "kinds": kind_medians(samples),
                "samples": [[x["kind"], x["ms"], x.get("correct")] for x in samples],
                "counts": res.get("counts", []), "io": res["details"].get("io", []),
                "details": {k: v for k, v in res["details"].items() if k != "io"},
                "checks": checks, "host_probe": res["host_probe"],
                "setup": {"gen_s": gen_s, "boot_s": boot_s, "session_and_setup_s": res["setup_s"],
                          "warmup_s": res["warmup_s"]}}
        with open(os.path.join(WORK, "results",
                               f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(keep, f, indent=1, default=str)
        if a.trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(WORK, "results",
                                                f"{a.workload}-seed{a.seed}-spans.jsonl"))

        chosen = layers if a.trace else e2e
        final = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                 "metrics": {k: {"value": finite(v["value"]), "unit": v["unit"]}
                             for k, v in chosen.items()}}
        print(json.dumps(final))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
