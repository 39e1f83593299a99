#!/usr/bin/env python3
"""Steadiness tool: runs one workload several times and reports, for each
end-to-end metric, the median, quartiles and spread (IQR / median), and
between two sets of runs the set-to-set change of the median.

    # ten runs, each with another seed; two such sets
    python3 wlbench/steady.py --workload dql_dashboard --seeds 1-10 --sets 2
    # five runs at one seed
    python3 wlbench/steady.py --workload curate_batch --seeds 7 --repeat 5
    # summarise runs recorded earlier; each file is one set
    python3 wlbench/steady.py --workload curate_batch --load a.jsonl b.jsonl

A metric is flagged when its spread is not below a third of its bound in
BENCHMARK.json, or when the second set's median is worse than the first's
by more than the bound.  Quartiles are those of statistics.quantiles(n=4).
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import stats  # noqa: E402


def parse_seeds(text):
    out = []
    for part in text.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out += list(range(int(lo), int(hi) + 1))
        else:
            out.append(int(part))
    return out


def bounds():
    path = ROOT / "BENCHMARK.json"
    if not path.exists():
        return {}
    spec = json.loads(path.read_text())
    return {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}


def run_once(workload, seed, seconds):
    r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload",
                        workload, "--seed", str(seed), "--seconds",
                        str(seconds), "--trace", "0"], cwd=str(ROOT),
                       stdout=subprocess.PIPE, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"run failed: seed {seed}, exit {r.returncode}")
    out = json.loads(lines[-1])
    out["seed"] = seed
    out["health"] = [x for x in lines if x.startswith("[wlbench] health")]
    return out


def summarize(runs):
    """metric -> (median, q1, q3, spread) over the runs."""
    names = runs[0]["metrics"].keys()
    table = {}
    for n in names:
        vals = [r["metrics"][n]["value"] for r in runs]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        table[n] = (statistics.median(vals), q1, q3, stats.spread(vals))
    return table


def report(workload, sets):
    bnd = bounds()
    firsts = summarize(sets[0])
    print(f"{workload}: {len(sets)} set(s) of {len(sets[0])} runs")
    flagged = []
    for i, runs in enumerate(sets):
        t = summarize(runs)
        print(f"  set {i + 1}: correct "
              f"{sum(r['correct'] for r in runs)}/{len(runs)}")
        for n, (med, q1, q3, sp) in t.items():
            b, better = bnd.get(n, (None, "lower"))
            mark = ""
            if b is not None and n != "setup_s" and sp >= b / 3:
                mark = "  <-- spread not below bound/3"
                flagged.append((n, i, "spread"))
            print(f"    {n:20s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}"
                  f"  spread {sp:.4f}" + (f"  bound {b}" if b else "") + mark)
        if i > 0:
            for n, (med, *_rest) in t.items():
                m0 = firsts[n][0]
                b, better = bnd.get(n, (None, "lower"))
                worse = (med - m0) / m0 if better == "lower" else (m0 - med) / m0
                mark = ""
                if b is not None and worse > b:
                    mark = "  <-- worse than bound"
                    flagged.append((n, i, "drift"))
                print(f"    {n:20s} set {i + 1} vs set 1: {100 * (med - m0) / m0:+.2f}%"
                      + mark)
    # live heap must not grow with the op count: the least-squares slope of
    # heap on attempted ops, as the change a doubled op count would make
    runs = [r for rs in sets for r in rs]
    ops = [r["attempted"] for r in runs]
    if len(set(ops)) == 1:
        print(f"    live_heap_mb vs ops: every run attempted {ops[0]} operations")
    elif "live_heap_mb" in runs[0]["metrics"]:
        heap = [r["metrics"]["live_heap_mb"]["value"] for r in runs]
        mo, mh = statistics.mean(ops), statistics.mean(heap)
        slope = sum((o - mo) * (h - mh) for o, h in zip(ops, heap)) / \
            sum((o - mo) ** 2 for o in ops)
        effect = slope * statistics.median(ops) / statistics.median(heap)
        b = bnd.get("live_heap_mb", (0.1, "lower"))[0]
        mark = ""
        if effect > b / 3:
            mark = "  <-- heap grows with the op count"
            flagged.append(("live_heap_mb", 0, "ops"))
        print(f"    live_heap_mb vs ops: {slope:+.4f} MB/op over ops "
              f"{min(ops)}-{max(ops)}; doubled ops would add {100 * effect:+.2f}%"
              + mark)
    print("flagged: " + (", ".join(f"{n} ({k}, set {i + 1})" for n, i, k in flagged)
                         if flagged else "none"))
    return flagged


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--repeat", type=int, default=1,
                    help="runs per seed (a fixed-seed study with one seed)")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--record", help="append each run as a JSON line here")
    ap.add_argument("--load", nargs="+",
                    help="summarise recorded runs instead of running; "
                         "each file is one set")
    a = ap.parse_args()
    if a.load:
        sets = [[r for r in map(json.loads, Path(f).read_text().splitlines())
                 if r.get("workload", a.workload) == a.workload]
                for f in a.load]
    else:
        seconds = a.seconds
        if seconds is None:
            seconds = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
        sets = []
        for s in range(a.sets):
            runs = []
            for seed in parse_seeds(a.seeds):
                for _ in range(a.repeat):
                    r = run_once(a.workload, seed, seconds)
                    r.update(set=s, workload=a.workload)
                    runs.append(r)
                    print(f"  set {s + 1} seed {seed}: " + ", ".join(
                        f"{k} {v['value']:.4f}" for k, v in r["metrics"].items()),
                        flush=True)
                    if a.record:
                        with open(a.record, "a") as f:
                            f.write(json.dumps(r) + "\n")
            sets.append(runs)
    flagged = report(a.workload, sets)
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
