#!/usr/bin/env python3
"""Workload benchmark of graft: one workload, one seed, one run.

    python3 wlbench/run.py --workload dql_dashboard --seed 1 --seconds 8 --trace 0

Builds graft and the harness from source (once per checkout), writes the
inputs, runs the workload on a local[nproc] Spark session in one JVM, checks
the outputs, and prints one JSON line last:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones.  See README.md.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("dql_dashboard", "curate_batch", "stream_ingest")
SETUP_REPS = 3
WARMUP_PASSES = {"dql_dashboard": 2, "curate_batch": 1, "stream_ingest": 0}
HEAP = "2g"
DEADLINE_S = 170
JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-XX:-UsePerfData",
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m"]


def say(msg):
    print(f"[wlbench] {msg}", flush=True)


def duck_compare(checks, data_dir):
    """Compare the panel rows the JVM returned with DuckDB on the same
    parquet files; returns the names that differ."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{data_dir}/events.parquet'")
    bad = []
    for c in checks:
        exp = con.execute(c["sql"])
        cols = [d[0] for d in exp.description]
        if sorted(cols) != sorted(c["cols"]):
            bad.append(f"{c['name']}: columns {c['cols']} vs {cols}")
            continue
        order = sorted(cols)

        def canon(rows, names):
            idx = [names.index(k) for k in order]
            return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)
        got, want = canon(c["rows"], c["cols"]), canon(exp.fetchall(), cols)
        if got != want:
            bad.append(f"{c['name']}: {len(got)} rows vs {len(want)} expected")
    return bad


def _norm(v):
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, int):
        return ("f", repr(float(v)))
    return ("s", "" if v is None else str(v))


def make_plan(workload, seed, seconds, trace, base, run_dir):
    """Write the run's plan (and its generated inputs) under `run_dir`."""
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    plan = {"workload": workload, "seed": seed, "seconds": seconds,
            "trace": bool(trace), "cores": os.cpu_count() or 1,
            "min_ops": stats.MIN_OPS[workload], "setup_reps": SETUP_REPS,
            "warmup_passes": WARMUP_PASSES[workload],
            "data_dir": str(base), "run_dir": str(run_dir),
            "tmp_dir": str(run_dir / "tmp")}
    if workload == "dql_dashboard":
        plan["dashboard"] = gen.dashboard_plan(seed)
        plan["check_pass"] = seed % len(gen.TYPES)
    elif workload == "curate_batch":
        plan["curate"] = gen.curate_plan(seed, str(base), str(run_dir))
    else:
        plan["stream"] = gen.stream_plan(seed)
    gen.write_plan(run_dir / "plan.json", plan)
    return run_dir / "plan.json"


def run_jvm(classes, plan, out, cwd, timeout):
    """Run wlbench.Main on one plan; JVM log in `cwd`.  Returns the exit
    code; kills the JVM at the timeout."""
    cmd = [build.java(), *JVM_FLAGS, f"-Djava.io.tmpdir={cwd / 'tmp'}",
           "-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*",
           "wlbench.Main", str(plan), str(out)]
    with open(cwd / "jvm.out", "w") as o, open(cwd / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=o, stderr=log, cwd=str(cwd))
        try:
            proc.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for line in (cwd / "jvm.out").read_text().splitlines():
        if line.startswith("[wlbench]"):
            print(line, flush=True)
    return proc.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (raw samples, JVM log)")
    a = ap.parse_args()

    classes = build.ensure()
    base = build.WORK / "data" / gen.BASE_VERSION
    gen.write_base(str(base))
    t_start = time.monotonic()
    run_dir = build.WORK / "runs" / f"{a.workload}-{a.seed}-{a.trace}"
    plan = make_plan(a.workload, a.seed, a.seconds, a.trace, base, run_dir)
    gen_s = time.monotonic() - t_start

    raw_path = run_dir / "raw.json"
    t0 = time.monotonic()
    rc = run_jvm(classes, plan, raw_path, run_dir,
                 DEADLINE_S - (time.monotonic() - t_start))
    jvm_s = time.monotonic() - t0
    if rc != 0 or not raw_path.exists():
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        print(tail, file=sys.stderr)
        raise SystemExit(f"wlbench: the JVM run failed (exit {rc})")
    raw = json.loads(raw_path.read_text())

    checks = dict(raw.get("checks", {}))
    if a.workload == "dql_dashboard":
        bad = duck_compare(raw["duck_checks"], str(base))
        for c in raw["duck_checks"]:
            checks[f"duckdb:{c['name']}"] = not any(
                b.startswith(c["name"] + ":") for b in bad)
        for b in bad:
            say(f"check failed: {b}")
    # every operation kind must return rows on every pass
    empty = sorted({o["kind"] for o in raw["ops"] if o["rows_out"] == 0})
    if a.workload != "dql_dashboard":
        checks["ops_return_rows"] = not empty
    failed_checks = [k for k, ok in checks.items() if not ok]

    h = raw["health"]
    to_first = (min(o["start"] for o in raw["ops"]) - raw["session_ready_ms"]) / 1000
    say(f"times: gen {gen_s:.2f} s, jvm+session {raw['session_start_s']:.2f} s, "
        f"jvm total {jvm_s:.1f} s, session to first timed op {to_first:.2f} s, "
        "setup reps (first is cold) "
        + " ".join(f"{x:.3f}" for x in raw["setup_reps_s"]) + " s")
    t = raw["session_ready_ms"]
    phases = []
    for name, at in raw["marks"]:
        phases.append(f"{name} {(at - t) / 1000:.1f}")
        t = at
    say("phase seconds: " + ", ".join(phases))
    say("health: steal {steal_pct:.2f}%, load {load_start:.2f}->{load_end:.2f}, "
        "gc {gc_count} collections {gc_pause_ms} ms, calibration "
        "{calib_before_ms:.1f}->{calib_after_ms:.1f} ms".format(**h))
    say("pass medians ms, warm-up: "
        + " ".join(f"{x:.1f}" for x in raw["warmup_pass_median_ms"])
        + "; timed: " + " ".join(f"{x:.1f}" for x in stats.pass_medians(raw["ops"])))
    per_pass = stats.rows_per_pass(raw["ops"])
    say(f"rows scanned per pass: {per_pass:.0f}"
        + (f"; operations returning no rows: {', '.join(empty)}" if empty else ""))
    if a.trace:
        metrics = {k: {"value": stats.per_layer(a.workload, raw)[k], "unit": u}
                   for k, u in stats.PER_LAYER}
    else:
        m, info = stats.end_to_end(a.workload, raw)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
        say("tail: {tail} over {ops} ops, {beyond_tail} beyond; "
            "freshness: {fresh}".format(**info))
        if info["beyond_tail"] < stats.MIN_BEYOND:
            failed_checks.append("tail_samples")
    if failed_checks:
        say("failed checks: " + ", ".join(failed_checks))
    ops = len(raw["ops"])
    bad_values = [k for k, v in metrics.items()
                  if not isinstance(v["value"], (int, float))
                  or math.isnan(v["value"])]
    if not a.keep:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not failed_checks and not bad_values,
                      "attempted": ops + len(checks),
                      "failed": len(failed_checks),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
