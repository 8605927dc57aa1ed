"""The benchmark's arithmetic: percentiles, interval unions, self time,
pass assembly and the per-layer summary of a traced run.

Everything here is pure Python over the runner's JSON record, so it is
unit-tested in test_stats.py without a JVM.
"""
import math
import random
import statistics

MIN_BEYOND = 10


def percentile(values, p, min_beyond=MIN_BEYOND):
    """The p-quantile (0 < p < 1, nearest rank), or None when fewer than
    `min_beyond` samples lie above it: a p90 needs at least 100 samples."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(p * n))
    if n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def median(values):
    return statistics.median(values) if values else None


def quartile_spread(values):
    """(q1, median, q3, (q3 - q1) / median) as statistics.quantiles gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def union(intervals):
    """Merged, sorted, non-overlapping intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def union_length(intervals):
    return sum(e - s for s, e in union(intervals))


def covered(span, intervals):
    """Length of `span` covered by the union of `intervals`."""
    s0, e0 = span
    return union_length([(max(s, s0), min(e, e0)) for s, e in intervals])


def self_time(span, children):
    """A span's wall time minus the part its child spans cover."""
    return (span[1] - span[0]) - covered(span, children)


def pass_orders(members, seed, n):
    """n seeded orders of the mix, one per pass: the same seed always
    gives the same passes."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        order = list(members)
        rng.shuffle(order)
        out.append(order)
    return out


def assemble_passes(ops, kind="window"):
    """Pass wall times (sum of the op walls; the untimed work between ops
    is excluded) of every pass of `kind`, in run order."""
    passes = {}
    for op in ops:
        if op["kind"] == kind:
            passes.setdefault(op["pass"], 0.0)
            passes[op["pass"]] += (op["end_ms"] - op["start_ms"]) / 1e3
    return [passes[p] for p in sorted(passes)]


def _by_op(items):
    out = {}
    for it in items:
        out.setdefault(it["op"], []).append(it)
    return out


def layers(rec, nproc, names=None):
    """Per-layer metrics of a traced record, over the timed window's ops
    (only those named in `names`, when given).

    Per-op quantities are reported as the mean over the window's ops
    (counts, seconds, bytes); shares are ratios of window sums; p50s are
    medians; peaks are maxima. Also returns the self-time split of op wall.
    """
    t = rec["trace"]
    window = [o for o in rec["ops"]
              if o["kind"] == "window" and (names is None or o["name"] in names)]
    n = len(window)
    jobs, stages, qes = _by_op(t["jobs"]), _by_op(t["stages"]), _by_op(t["qes"])
    batches, cache = _by_op(t["batches"]), _by_op(t["cache"])
    codegen = _by_op(t["codegen"])
    empty = median(rec["empty_job_s"]) or 0.0

    acc = {}

    def add(k, v):
        acc[k] = acc.get(k, 0.0) + v

    iter_s, batch_s = [], []
    peak_mem = cache_peak = 0
    for o in window:
        span = (o["start_ms"], o["end_ms"])
        wall = (span[1] - span[0]) / 1e3
        js, ss, qs = jobs.get(o["id"], []), stages.get(o["id"], []), qes.get(o["id"], [])
        job_iv = [(j["start_ms"], j["end_ms"]) for j in js]
        phase_iv = [tuple(p) for q in qs for p in q["phases"].values()]
        stage_iv = [(s["submit_ms"], s["complete_ms"]) for s in ss if s["submit_ms"]]
        add("op.wall_s", wall)
        add("op.driver_gap_s", self_time(span, job_iv + phase_iv) / 1e3)
        add("catalyst.queries", len(qs))
        for ph, key in (("analysis", "catalyst.analysis_s"),
                        ("optimization", "catalyst.optimization_s"),
                        ("planning", "catalyst.planning_s")):
            add(key, sum(q["phases"][ph][1] - q["phases"][ph][0]
                         for q in qs if ph in q["phases"]) / 1e3)
        add("plan.operators", sum(q["operators"] for q in qs))
        add("plan.exchanges", sum(q["exchanges"] for q in qs))
        add("plan.broadcasts", sum(q["broadcasts"] for q in qs))
        cg = codegen.get(o["id"], [{"compiles": 0, "compile_ns": 0}])[0]
        add("codegen.compiles", cg["compiles"])
        add("codegen.compile_s", cg["compile_ns"] / 1e9)
        add("sched.jobs", len(js))
        add("sched.stages", len(ss))
        add("sched.tasks", sum(s["tasks"] for s in ss))
        add("sched.job_s", union_length(job_iv) / 1e3)
        add("sched.job_self_s", sum(self_time((j["start_ms"], j["end_ms"]),
                                              stage_iv) for j in js) / 1e3)
        add("exec.run_s", sum(s["run_ms"] for s in ss) / 1e3)
        add("exec.cpu_s", sum(s["cpu_ns"] for s in ss) / 1e9)
        add("exec.gc_s", sum(s["gc_ms"] for s in ss) / 1e3)
        add("exec.ser_s", sum(s["ser_ms"] for s in ss) / 1e3)
        peak_mem = max([peak_mem] + [s["peak_mem"] for s in ss])
        add("scan.bytes", sum(s["in_bytes"] for s in ss))
        add("scan.rows", sum(s["in_rows"] for s in ss))
        add("shuffle.write_bytes", sum(s["shuffle_write"] for s in ss))
        add("shuffle.read_bytes", sum(s["shuffle_read"] for s in ss))
        add("shuffle.fetch_wait_s", sum(s["fetch_wait_ms"] for s in ss) / 1e3)
        add("spill.bytes", sum(s["spill"] for s in ss))
        add("sink.bytes", sum(s["out_bytes"] for s in ss))
        add("sink.rows", sum(s["out_rows"] for s in ss))
        cs = cache.get(o["id"], [])
        cache_peak = max([cache_peak] + [c["peak_bytes"] for c in cs])
        add("cache.blocks", sum(c["blocks"] for c in cs))
        bs = batches.get(o["id"], [])
        add("stream.batches", len(bs))
        add("stream.rows", sum(b["rows"] for b in bs))
        batch_s += [b["ms"] / 1e3 for b in bs]
        if o["name"] == "em_fit":
            execs = {}
            for j in js:
                execs.setdefault(j["exec"], []).append((j["start_ms"], j["end_ms"]))
            spans = [(min(s for s, _ in iv), max(e for _, e in iv))
                     for _, iv in sorted(execs.items())]
            # the first execution is the moments pass; the rest iterate
            iter_s += [(e - s) / 1e3 for s, e in spans[1:]]
            add("gmm.iterations", o["detail"].get("iterations", 0))
            add("gmm.loglik", o["detail"].get("loglik", 0.0))

    out = {k: v / n for k, v in acc.items()} if n else {}
    wall = acc.get("op.wall_s", 0.0)
    out["sched.empty_job_s"] = empty
    out["sched.floor_share"] = acc.get("sched.jobs", 0) * empty / wall if wall else 0.0
    out["exec.busy_share"] = acc.get("exec.run_s", 0.0) / (wall * nproc) if wall else 0.0
    out["exec.peak_mem_mb"] = peak_mem / 1048576.0
    out["cache.peak_mb"] = cache_peak / 1048576.0
    out["stream.batch_s_p50"] = median(batch_s) or 0.0
    out["gmm.iter_s_p50"] = median(iter_s) or 0.0
    out["op.traced_pass_s"] = median(assemble_passes(rec["ops"])) or 0.0
    cold = [codegen.get(o["id"], [{"compiles": 0, "compile_ns": 0}])[0]
            for o in rec["ops"] if o["kind"] == "cold"]
    out["codegen.setup_compiles"] = sum(c["compiles"] for c in cold)
    out["codegen.setup_compile_s"] = sum(c["compile_ns"] for c in cold) / 1e9
    points = rec.get("points", 0)
    out["gmm.points_per_s"] = (points * len(iter_s) / sum(iter_s)) if iter_s else 0.0
    out.setdefault("gmm.iterations", 0.0)
    out.setdefault("gmm.loglik", 0.0)
    # self-time split of op wall (window sums, seconds)
    catalyst = sum(acc.get(k, 0.0) for k in (
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s"))
    split = {
        "op_wall_s": wall,
        "driver_gap_s": acc.get("op.driver_gap_s", 0.0),
        "catalyst_s": catalyst,
        "job_union_s": acc.get("sched.job_s", 0.0),
        "job_self_s": acc.get("sched.job_self_s", 0.0),
        "empty_job_floor_s": acc.get("sched.jobs", 0) * empty,
    }
    return out, split
