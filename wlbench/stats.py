"""Arithmetic on the raw samples a run writes: percentiles and the tail
rule, interval unions, span self time, spread, and the metric tables."""
import math
import statistics

# The tail percentile of each workload, fixed: the highest percentile at
# which every run has at least MIN_BEYOND samples beyond it.  A run keeps
# measuring whole passes until it has MIN_OPS operations, which makes the
# rule hold whatever the host speed.
MIN_BEYOND = 10
TAIL_GRID = (99, 98, 95, 90, 85, 80, 75, 70, 65, 60)
MIN_OPS = {"dql_dashboard": 36, "curate_batch": 30, "stream_ingest": 30}
FRESH_TAIL_P = 90  # stream_ingest: hundreds of emitted windows per run


def tail_percentile(n_min, min_beyond=MIN_BEYOND, grid=TAIL_GRID):
    """Highest grid percentile p with at least `min_beyond` of `n_min`
    samples strictly above the p-th percentile."""
    for p in grid:
        if n_min - math.floor(n_min * p / 100.0) - 1 >= min_beyond:
            return p
    raise ValueError(f"{n_min} samples cannot give {min_beyond} beyond any tail")


TAIL_P = {w: tail_percentile(n) for w, n in MIN_OPS.items()}


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def median(xs):
    return statistics.median(xs)


def beyond(xs, p):
    """How many samples lie strictly above the p-th percentile."""
    q = percentile(xs, p)
    return sum(1 for x in xs if x > q)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_times(spans):
    """Self time of each span: its duration minus the time its children
    cover.  `spans` are (name, op, parent_index, start, end) rows."""
    children = {}
    for i, sp in enumerate(spans):
        children.setdefault(sp[2], []).append(i)
    out = []
    for i, (_, _, _, s, e) in enumerate(spans):
        kids = [(spans[j][3], spans[j][4]) for j in children.get(i, [])]
        out.append((e - s) - union_length(clip(kids, s, e)))
    return out


def spread(values):
    """IQR over median, with quartiles as statistics.quantiles gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def pass_medians(ops):
    """Median operation latency of each timed pass, in pass order."""
    by = {}
    for o in ops:
        by.setdefault(o["pass"], []).append(o["end"] - o["start"])
    return [median(v) for _, v in sorted(by.items())]


def rows_per_pass(ops):
    """Median over passes of the rows the pass's operations scanned."""
    by = {}
    for o in ops:
        by[o["pass"]] = by.get(o["pass"], 0) + o.get("rows_scanned", 0)
    return median(list(by.values())) if by else 0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def in_window(raw):
    w = raw["window"]
    return w.get("start", 0), w.get("end", float("inf"))


def drain_rates(raw):
    """Events per second of each backlog drain: from the moment the backlog
    was added to the end of the last batch, over both queries, that read
    rows after it."""
    prog = raw["stream"]["progress"]
    drains = raw["stream"]["drains"]
    out = []
    for d in drains:
        t = d["start_ms"]
        ends = [p[2] + p[3] for p in prog
                if p[9] > 0 and t - 20 <= p[2] < d["end_ms"]]
        if ends:
            out.append(d["events"] / ((max(ends) - t) / 1000.0))
    return out


def freshness(raw):
    """Stream: emit time minus the creation time of the window's last
    event, for windows emitted inside the timed window."""
    lo, hi = in_window(raw)
    return [e - c for e, c in raw["stream"]["freshness"] if lo <= e <= hi]


def end_to_end(workload, raw):
    """End-to-end metrics of one untraced run, plus tail bookkeeping."""
    ops = raw["ops"]
    lat = [o["end"] - o["start"] for o in ops]
    p = TAIL_P[workload]
    win = raw["window"]
    if workload == "stream_ingest":
        # events per second over the backlog drains; freshness of windows
        fresh = freshness(raw)
        tput = median(drain_rates(raw))
        fr, fr_tail = median(fresh), percentile(fresh, FRESH_TAIL_P)
        fresh_info = f"p{FRESH_TAIL_P} over {len(fresh)} windows, " \
            f"{beyond(fresh, FRESH_TAIL_P)} beyond"
    else:
        # queries per second, or corpus documents per second, over whole
        # passes; freshness is the time one whole refresh takes (every
        # panel, or one curation pass), its tail the slowest one
        units = len(ops) if workload == "dql_dashboard" \
            else raw["corpus_docs"] * win["passes"]
        walls = win["pass_wall_ms"]
        tput = units / (sum(walls) / 1000.0)
        fr, fr_tail = median(walls), max(walls)
        fresh_info = f"pass walls, slowest of {len(walls)}"
    m = {
        "setup_s": (median(raw["setup_reps_s"]), "s"),
        "latency_ms": (median(lat), "ms"),
        "latency_tail_ms": (percentile(lat, p), "ms"),
        "throughput_per_s": (tput, "1/s"),
        "freshness_ms": (fr, "ms"),
        "freshness_tail_ms": (fr_tail, "ms"),
        "live_heap_mb": (raw["live_heap_mb"], "MB"),
    }
    info = {"tail": f"p{p}", "ops": len(lat), "beyond_tail": beyond(lat, p),
            "fresh": fresh_info}
    return m, info


PIPELINE_STEPS = ["dedup_exact", "dedup_minhash", "dedup_ngram", "quality",
                  "langid", "fingerprint", "scrub", "sim_topk"]

PER_LAYER = [
    ("dql.parse_ms", "ms"), ("dql.compile_ms", "ms"),
    ("dql.eager_jobs", "count"), ("dql.eager_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("codegen.classes", "count"), ("codegen.compile_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.stage_busy_ms", "ms"), ("exec.orchestration_ms", "ms"),
    ("exec.task_cpu_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.shuffle_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.task_failures", "count"),
    ("store.rows_scanned", "rows"), ("store.bytes_scanned", "bytes"),
    ("store.rows_scanned_per_row_returned", "ratio"),
    ("artifacts.builds", "count"), ("artifacts.reads", "count"),
    ("artifacts.hit_ratio", "ratio"), ("artifacts.build_ms", "ms"),
    ("artifacts.refresh_ms", "ms"), ("artifacts.storage_mb", "MB"),
] + [(f"pipeline.{s}_ms", "ms") for s in PIPELINE_STEPS] + [
    ("pipeline.pairs_out_per_candidate", "ratio"),
    ("stream.batches", "count"), ("stream.batch_ms", "ms"),
    ("stream.planning_ms", "ms"), ("stream.add_batch_ms", "ms"),
    ("stream.offsets_ms", "ms"), ("stream.commit_ms", "ms"),
    ("stream.state_rows", "rows"), ("stream.state_mb", "MB"),
    ("stream.backlog_rows", "rows"),
    ("layout.files_written", "count"), ("layout.bytes_written", "bytes"),
    ("layout.files_per_read", "count"),
    ("gen.lateness_ms", "ms"),
    ("setup.cold_s", "s"),
    ("other_ms", "ms"), ("trace.overhead_ms", "ms"),
]


def per_layer(workload, raw):
    """Per-layer metrics of one traced run: per-operation means over the
    traced operations; layers a workload does not have read 0."""
    ops = [o for o in raw["ops"] if o["traced"]]
    plain = [o["end"] - o["start"] for o in raw["ops"] if not o["traced"]]
    ids = {o["id"] for o in ops}
    tr = raw["trace"]
    spans = [s for s in tr["spans"] if s[1] in ids]
    jobs = [j for j in tr["jobs"] if j[1] in ids]
    stages = [s for s in tr["stages"] if s[1] in ids]
    # jobs run while a frame is constructed are children of the compile
    # span, so the compile self time excludes them
    eager = [j for j in jobs if j[2] == "construct"]
    compile_idx = {sp[1]: i for i, sp in enumerate(spans)
                   if sp[0] == "dql.compile"}
    spans += [["dql.eager", j[1], compile_idx.get(j[1], -1), j[3], j[4]]
              for j in eager]
    selfs = self_times(spans)
    by_op = {}
    for sp, st in zip(spans, selfs):
        by_op.setdefault(sp[1], []).append((sp, st))
    n = max(1, len(ops))

    def span_total(name, self_time=False):
        return sum(st if self_time else sp[4] - sp[3]
                   for v in by_op.values() for sp, st in v
                   if sp[0] == name) / n

    stage_busy, layer_cover = [], []
    for o in ops:
        st_iv = [(s[3], s[4]) for s in stages if s[1] == o["id"]]
        busy = union_length(clip(st_iv, o["start"], o["end"]))
        stage_busy.append(busy)
        # layer spans only: "op" and "exec.action" are harness wrappers
        leaf = [(sp[3], sp[4]) for sp, _ in by_op.get(o["id"], [])
                if sp[0] not in ("op", "exec.action")]
        layer_cover.append(union_length(clip(leaf + st_iv, o["start"], o["end"])))
    wall = [o["end"] - o["start"] for o in ops]
    rows_scanned = sum(o.get("rows_scanned", 0) for o in ops)
    rows_out = sum(o.get("rows_out", 0) for o in ops)
    reads = sum(o.get("artifact_reads", 0) for o in ops)
    builds = sum(o.get("artifact_builds", 0) for o in ops)
    m = {k: 0.0 for k, _ in PER_LAYER}
    m.update({
        "dql.parse_ms": span_total("dql.parse"),
        # compile self time: minus the final frame's Catalyst analysis
        # and the eager jobs, which are reported on their own
        "dql.compile_ms": span_total("dql.compile", self_time=True),
        "dql.eager_jobs": len(eager) / n,
        "dql.eager_ms": sum(union_length([(j[3], j[4]) for j in eager
                                          if j[1] == o["id"]])
                            for o in ops) / n,
        "catalyst.analysis_ms": span_total("catalyst.analysis"),
        "catalyst.optimization_ms": span_total("catalyst.optimization"),
        "catalyst.planning_ms": span_total("catalyst.planning"),
        "codegen.classes": sum(o.get("codegen_n", 0) for o in ops) / n,
        "codegen.compile_ms": sum(o.get("codegen_ms", 0) for o in ops) / n,
        "exec.jobs": len(jobs) / n,
        "exec.stages": len(stages) / n,
        "exec.tasks": sum(s[5] for s in stages) / n,
        "exec.stage_busy_ms": _mean(stage_busy),
        "exec.orchestration_ms": _mean([w - b for w, b in zip(wall, stage_busy)]),
        "exec.task_cpu_ms": sum(s[6] for s in stages) / n,
        "exec.gc_ms": sum(s[7] for s in stages) / n,
        "exec.shuffle_bytes": sum(s[8] for s in stages) / n,
        "exec.spill_bytes": sum(s[9] for s in stages) / n,
        "exec.task_failures": sum(s[11] for s in stages) / n,
        "store.rows_scanned": rows_scanned / n,
        "store.bytes_scanned": sum(s[10] for s in stages) / n,
        "store.rows_scanned_per_row_returned": rows_scanned / max(1, rows_out),
        "artifacts.builds": builds / n,
        "artifacts.reads": reads / n,
        "artifacts.hit_ratio": reads / (reads + builds) if reads + builds else 0.0,
        "other_ms": _mean([w - c for w, c in zip(wall, layer_cover)]),
        "trace.overhead_ms": (median(wall) - median(plain)) if wall and plain else 0.0,
    })
    m["setup.cold_s"] = raw["setup_reps_s"][0]
    art = raw.get("artifacts", {})
    m["artifacts.build_ms"] = art.get("build_ms", 0.0)
    m["artifacts.storage_mb"] = art.get("storage_mb", 0.0)
    if workload == "curate_batch":
        refresh = [sp[4] - sp[3] for v in by_op.values() for sp, _ in v
                   if sp[0] == "artifacts.refresh"]
        m["artifacts.refresh_ms"] = _mean(refresh)
        for s in PIPELINE_STEPS:
            xs = [o["end"] - o["start"] for o in ops if o["kind"] == s]
            m[f"pipeline.{s}_ms"] = median(xs) if xs else 0.0
        pair_ops = [o for o in ops if o["kind"] in ("dedup_minhash", "dedup_ngram")]
        cand = sum(o.get("join_rows_max", 0) for o in pair_ops)
        m["pipeline.pairs_out_per_candidate"] = \
            sum(o["rows_out"] for o in pair_ops) / cand if cand else 0.0
    if workload == "stream_ingest":
        m.update(stream_layers(raw, ops))
    return m


def stream_layers(raw, ops):
    """Micro-batch, state, layout and generator figures of the timed window.
    Progress rows: name, batch, start, trigger, planning, addBatch, offsets,
    walCommit, commitOffsets, input rows, state rows, state bytes."""
    lo, hi = in_window(raw)
    st = raw["stream"]
    prog = [p for p in st["progress"] if lo <= p[2] <= hi]
    busy = [p for p in prog if p[9] > 0]

    def med(i, rows=busy):
        return median([p[i] for p in rows]) if rows else 0.0

    def per_query(i):
        by = {}
        for p in prog:
            by.setdefault(p[0], []).append(p[i])
        return sum(median(v) for v in by.values())

    return {
        "stream.batches": float(len(prog)),
        "stream.batch_ms": med(3),
        "stream.planning_ms": med(4),
        "stream.add_batch_ms": med(5),
        "stream.offsets_ms": median([p[6] + p[7] for p in busy]) if busy else 0.0,
        "stream.commit_ms": med(8),
        "stream.state_rows": per_query(10),
        "stream.state_mb": per_query(11) / 1048576.0,
        "stream.backlog_rows": float(max((p[9] for p in prog if p[0] is None),
                                         default=0)),
        "layout.files_written": float(st["layout"]["files"]),
        "layout.bytes_written": float(st["layout"]["bytes"]),
        "layout.files_per_read": _mean([o.get("files_read", 0) for o in ops]),
        "gen.lateness_ms": _mean(st["lateness_ms"]),
    }
