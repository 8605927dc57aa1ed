#!/usr/bin/env python3
"""Engine benchmark: one closed-loop, single-client workload per run.

    python3 enginebench/run.py --workload em_fit --seed 1 --seconds 10 --trace 0

builds the engine together with the benchmark runner (once per source
change), writes the seed's inputs, runs the workload in one driver JVM at
local[nproc], checks every output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
attaches the tracer and reports the per-layer ones. A failed output check
makes the command exit 1 (after printing the line); a missing engine, a
failed build or a JVM that would run past the run's time limit exits 2
without a result.

    python3 enginebench/run.py --workload em_fit --steadiness 10 --seed 100

runs the workload back to back with seeds 100..109 and prints each
end-to-end metric's values, median, quartiles, spread and range.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
TARGET = os.path.join(BENCH, "target")
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import stats  # noqa: E402

EM_POINTS = 1_000_000
# the queries (SparkEntry names) each pass of a workload runs
WORKLOADS = {
    "em_fit": ["em_fit"],
    "catalog_mix": [
        "q1_pricing_summary", "q3_shipping_priority", "q18_large_volume_orders",
        "events_sessionize", "text_quality_score",
        "dedup_containment", "stream_ann_ingest"],
}
# untimed warm passes before the window; fixed, so every run measures the
# same stretch of the JVM's warm-up
WARM_PASSES = {"em_fit": 2, "catalog_mix": 1}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# a run must end within 180 s of its start (a build excepted); the JVM is
# stopped where it would leave too little of that for the oracle check,
# since the run has failed by then anyway and must not leave it behind
RUN_LIMIT_S = 180
CHECK_RESERVE_S = 12
# the repo's DuckDB oracle compare, run on the results the JVM writes
VERIFY = os.path.join(ROOT, "tools", "verify_local.py")


def metric_units(kind):
    """{metric: unit} of one metric list in BENCHMARK.json, in its order."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return {m["name"]: m["unit"] for m in json.load(f)[kind]}
    except (OSError, ValueError, KeyError) as e:
        fail(f"cannot read {kind} from BENCHMARK.json: {e}")


def log(msg):
    print(f"[enginebench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    """Exit 2 without a result line: the benchmark could not run."""
    log(msg)
    raise SystemExit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def heap_size():
    """Half of MemTotal in whole GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def _sources():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    return files


def build():
    """Compile engine + runner unless the sources are unchanged since the
    last build; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found next to the benchmark")
    h = hashlib.sha256()
    for f in _sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, cp_file = os.path.join(TARGET, "sources.sha256"), os.path.join(TARGET, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                with open(cp_file) as f:
                    return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + runner with sbt")
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                           capture_output=True, text=True, timeout=850)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return lines[-1]


def inputs(workload, seed):
    """The seed's input dir; made once, and the only one kept."""
    kind = "points" if workload == "em_fit" else "tables"
    d = os.path.join(WORK, "data", f"{kind}-{seed}")
    done = os.path.join(d, "_done")
    if not os.path.exists(done):
        for old in glob.glob(os.path.join(WORK, "data", "*")):
            shutil.rmtree(old, ignore_errors=True)
        if kind == "points":
            datagen.points(d, seed, EM_POINTS)
        else:
            datagen.tables(d, seed)
        open(done, "w").close()
    return d


def _cpu_jiffies():
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def oracle_check(data, results, oracle_sql):
    """{query: None if it matches its oracle, else the reason}, from the
    repo's own compare (column names, dtype parity, values to 1e-9)."""
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, "oracle_sql.json"), "w") as f:
        json.dump(oracle_sql, f)
    p = subprocess.run([sys.executable, VERIFY, results], cwd=os.path.dirname(results),
                       env=dict(os.environ, SF_DIR=data), capture_output=True, text=True)
    out = {q: None for q in oracle_sql}
    for line in p.stdout.splitlines():
        if line.startswith("FAIL "):  # "FAIL <query>: <reason>"
            q, _, why = line[5:].partition(": ")
            out[q] = why or "failed"
        elif line.startswith("FAIL-"):  # "FAIL-float maxrel=… <query> rows=<n>"
            out[line.split()[-2]] = line.split(" ", 1)[0]
    finished = ("ALL OK" in p.stdout) == (p.returncode == 0) and p.returncode in (0, 1)
    if not finished:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        out = {q: f"oracle compare exited {p.returncode}" for q in oracle_sql}
    return out


def run_jvm(workload, seed, seconds, trace, cp, data, deadline):
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    orders = os.path.join(run_dir, "orders.txt")
    with open(orders, "w") as f:
        for order in stats.pass_orders(WORKLOADS[workload], seed, 64):
            f.write(",".join(order) + "\n")
    rec_file = os.path.join(run_dir, "record.json")
    results = os.path.join(run_dir, "results")
    mem = heap_size()
    args = [f"workload={workload}", f"data={data}", f"orders={orders}", f"out={rec_file}",
            f"results={results}", f"seconds={seconds}", f"warm={WARM_PASSES[workload]}",
            f"trace={trace}", f"cpus={nproc()}"]
    if workload == "em_fit":
        _, means, _ = datagen.mixture(seed)
        args += [f"points={EM_POINTS}", "means=" + ",".join(repr(float(m)) for m in means),
                 f"mean_tol={0.01 * (means[1] - means[0])!r}"]
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Xms{mem}", f"-Xmx{mem}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              "-cp", cp, "enginebench.Main"] + args)
    t0, cpu0 = time.time(), _cpu_jiffies()
    with open(os.path.join(run_dir, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=err, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM or Ctrl-C: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(rec_file):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"runner JVM failed ({rc})")
    cpu1 = _cpu_jiffies()
    log(f"runner JVM done in {time.time() - t0:.1f} s")
    with open(rec_file) as f:
        rec = json.load(f)
    # share of the machine's CPU time the hypervisor gave to others meanwhile
    rec["steal_share"] = (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))
    t0 = time.time()
    checks = oracle_check(data, results, rec["oracle"]) if rec["oracle"] else {}
    log(f"oracle check done in {time.time() - t0:.1f} s")
    if trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        shutil.copy(rec_file, os.path.join(WORK, "traces", f"{workload}-{seed}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    return rec, checks


def end_to_end(rec, checks):
    """(metrics, sample counts, summary extras, attempted, failed) of a run.
    An op fails when it threw, failed its in-JVM check, or its query's
    written result did not match the oracle."""
    window = [o for o in rec["ops"] if o["kind"] == "window"]
    bad = {q for q, why in checks.items() if why}
    failed = sum(1 for o in window if not o["ok"] or o["name"] in bad)
    op_s = [(o["end_ms"] - o["start_ms"]) / 1e3 for o in window]
    passes = stats.assemble_passes(rec["ops"])
    m = {"setup_s": rec["setup_s"], "pass_s": stats.median(passes),
         "heap_live_mb": rec["heap_live_mb"]}
    n = {"setup_s": 1, "pass_s": len(passes), "heap_live_mb": 1}
    # printed, not bounded: fail_share is 0 on a correct engine, a p90
    # needs 100 ops, and the median op of a one-pass mix of unlike queries
    # is whichever query ranks in the middle
    extra = {"fail_share": failed / len(window),
             "op_s_p50": {"value": stats.median(op_s), "unit": "s", "n": len(op_s)},
             "op_s_p90": {"value": stats.percentile(op_s, 0.9), "unit": "s", "n": len(op_s)},
             "window_passes": passes, "warm_passes": rec["warm_passes"],
             "session_s": rec["session_s"], "steal_share": rec["steal_share"]}
    return m, n, extra, len(window), failed


def single(a):
    e2e_units = metric_units("end_to_end")
    if not os.path.exists(VERIFY):
        fail("the engine's oracle compare (tools/verify_local.py) not found")
    cp = build()
    deadline = time.time() + RUN_LIMIT_S - CHECK_RESERVE_S
    data = inputs(a.workload, a.seed)
    rec, checks = run_jvm(a.workload, a.seed, a.seconds, a.trace, cp, data, deadline)
    m, n, extra, attempted, failed = end_to_end(rec, checks)
    for q, why in sorted(checks.items()):
        if why:
            log(f"output check failed: {q}: {why}")
    for o in rec["ops"]:
        if not o["ok"]:
            log(f"op failed: {o['name']} (pass {o['pass']}): {o['detail']}")
    # every end-to-end metric with its unit and sample count, then the
    # printed-only ones
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      **{k: {"value": v, "unit": e2e_units[k], "n": n[k]} for k, v in m.items()},
                      **extra}))
    if a.trace:
        metrics, split = stats.layers(rec, rec["cpus"])
        out = {k: {"value": metrics[k], "unit": u}
               for k, u in metric_units("per_layer").items()}
        print(json.dumps({"workload": a.workload, "self_time_split": split}))
        for q in WORKLOADS[a.workload]:
            qm, qsplit = stats.layers(rec, rec["cpus"], names={q})
            print(json.dumps({"query": q, "self_time_split": qsplit, **{
                k: round(v, 6) for k, v in qm.items() if not k.startswith("gmm.")}}))
    else:
        out = {k: {"value": m[k], "unit": u} for k, u in e2e_units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}), flush=True)
    return 1 if failed else 0


def steadiness(a):
    """Back-to-back runs of one workload with seeds seed..seed+n-1; reports
    the bounded end-to-end metrics and the printed-only op_s_p50."""
    values = {k: [] for k in list(metric_units("end_to_end")) + ["op_s_p50"]}
    for i in range(a.steadiness):
        seed = a.seed + i
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                           capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2 or not json.loads(lines[-1]).get("correct"):
            sys.stderr.write(p.stderr[-3000:])
            log(f"run with seed {seed} failed")
            return 1
        summary = json.loads(lines[-2])
        for k in values:
            values[k].append(summary[k]["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4f}" for k, v in values.items())
              + f" ({time.time() - t0:.0f} s)", flush=True)
    print(f"workload {a.workload}, {a.steadiness} runs, --seconds {a.seconds}")
    for k, vs in values.items():
        q1, q2, q3, spread = stats.quartile_spread(vs)
        print(f"{k:>13}: median {q2:.4f}  q1 {q1:.4f}  q3 {q3:.4f}  spread {spread:.4f}"
              f"  min {min(vs):.4f}  max {max(vs):.4f}  values "
              + " ".join(f"{v:.4f}" for v in vs))
    return 0


def main():
    # a SIGTERM unwinds like Ctrl-C, so the runner JVM is stopped with us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(2))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steadiness", type=int, default=0,
                    help="run the workload this many times back to back and summarize")
    a = ap.parse_args()
    return steadiness(a) if a.steadiness else single(a)


if __name__ == "__main__":
    sys.exit(main())
