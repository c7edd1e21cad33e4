#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness (sbt, offline) and reuses that build while the sources are
unchanged. Each run makes its inputs (the text from the seed, the
suite's tables from the fixture kept beside this file) or reuses them
after a content-hash check, sets the engine up in a fresh JVM, runs the
workload's operations in a closed loop for `--seconds`, checks every
output, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones; README.md says what each means and which it should move.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS, CPUS, HEAP, SETTLE_PASSES  # noqa: E402

STATE = ".perfbench"          # build stamp, inputs, oracle cache, traces
RUN_LIMIT_S = 170             # every run ends within this, build excluded
BUILD_LIMIT_S = 700


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def _tree_files(*roots):
    """Files under `roots`, in a stable order, skipping build outputs."""
    for r in roots:
        if os.path.isfile(r):
            yield r
        for base, dirs, files in os.walk(r):
            dirs[:] = sorted(d for d in dirs if d not in ("target", "project"))
            for f in sorted(files):
                yield os.path.join(base, f)


def _kill_group(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def run_bounded(cmd, limit, **kw):
    """Run `cmd` in its own process group; kill the group past `limit`."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        _kill_group(proc)
        return None
    except BaseException:
        _kill_group(proc)
        raise


def build():
    """Compile engine + harness once per source state; return the JVM
    launch arguments the engine's build ships."""
    sources = list(_tree_files("build.sbt", "project", "src/main",
                               os.path.join(HERE, "build.sbt"),
                               os.path.join(HERE, "project"), os.path.join(HERE, "src")))
    h = hashlib.sha256(HEAP.encode())
    for f in sources:
        h.update(os.path.relpath(f).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()
    stamp = os.path.join(STATE, "build.key")
    launch = os.path.join(HERE, "target", "launch.txt")
    if os.path.exists(stamp) and os.path.exists(launch):
        with open(stamp) as fh:
            if fh.read() == key:
                with open(launch) as lf:
                    return lf.read().split("\n")[:-1]
    log("building engine and harness (sbt, offline)")
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_"))}
    env["SPARK_DRIVER_MEM"] = HEAP
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.repository.config={repos}"] if os.path.exists(repos) else [])))
    os.makedirs(STATE, exist_ok=True)
    with open(os.path.join(STATE, "build.log"), "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "launch"],
                         BUILD_LIMIT_S, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {STATE}/build.log")
    with open(stamp, "w") as fh:
        fh.write(key)
    with open(launch) as lf:
        return lf.read().split("\n")[:-1]


def inputs(name, w, seed):
    """The workload's input directory for `seed`, made or reused after
    its content hash checks out."""
    h = hashlib.sha256(json.dumps([name, w["shape"], seed]).encode())
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        h.update(fh.read())
    d = os.path.join(STATE, "inputs", f"{name}-{seed}-{h.hexdigest()[:12]}")
    data, stamp = os.path.join(d, "data"), os.path.join(d, "sha256")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == gen.digest(data):
                return os.path.abspath(data), gen.digest(data)
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.time()
    getattr(gen, w["gen"])(seed, data, w["shape"])
    digest = gen.digest(data)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"made {name} inputs for seed {seed} in {time.time() - t0:.1f} s")
    return os.path.abspath(data), digest


def warm_passes(w, seconds):
    """Warm passes for a run of `seconds`: fixed by the workload's
    nominal pass time, not measured, so every run does the same work."""
    return max(3, round(seconds / w["pass_s"]))


def new_run_dir():
    """A fresh per-run directory; those left by runs whose process has
    gone (killed mid-run) are removed first."""
    runs = os.path.join(STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    for d in os.listdir(runs):
        pid = d.split("-")[1] if d.startswith("run-") else ""
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=runs)


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, from /proc/stat;
    None where that cannot be read. A virtual machine's host taking
    CPU time from it (steal) slows a run alike in every op."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return f[7], sum(f)


def read_once(path):
    for f in _tree_files(path):
        with open(f, "rb") as fh:
            while fh.read(1 << 20):
                pass


def end_to_end(res, ops):
    records = res["ops"]
    cold, warm = stats.split_passes(records)
    meds = stats.op_medians(warm, ops)
    warm_passes = [p for p in res["passes"] if p["phase"] == "warm"]
    return {
        "setup_s": (stats.median([s["total_s"] for s in stats.warm_setups(res["setup"])]), "s"),
        "cold_s": (sum(r["wall_s"] for r in cold), "s"),
        "wall_s": (sum(meds.values()), "s"),
        "op_p50_s": (stats.median(list(meds.values())), "s"),
        "cpu_s": (stats.median([p["cpu_s"] for p in warm_passes]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


SUMMED = [  # (metric, record field, unit)
    ("query.build_s", "build_s", "s"), ("query.eager_jobs", "eager_jobs", "count"),
    ("plan.analysis_s", "analysis_s", "s"),
    ("plan.optimization_s", "optimization_s", "s"),
    ("plan.planning_s", "planning_s", "s"),
    ("codegen.compiles", "codegen_compiles", "count"),
    ("sched.jobs", "jobs", "count"), ("sched.stages", "stages", "count"),
    ("sched.tasks", "tasks", "count"),
    ("exec.task_s", "task_s", "s"), ("exec.task_cpu_s", "task_cpu_s", "s"),
    ("exec.gc_s", "gc_s", "s"),
    ("exec.shuffle_write_mb", "shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "shuffle_read_mb", "MB"),
    ("exec.spill_mb", "spill_mb", "MB"),
]
JOB_SUMMED = [
    ("mr.map_stage_s", "map_stage_s", "s"), ("mr.reduce_stage_s", "reduce_stage_s", "s"),
    ("mr.commit_s", "commit_s", "s"), ("mr.subprocesses", "subprocesses", "count"),
    ("mr.shuffle_write_mb", "shuffle_write_mb", "MB"), ("mr.output_mb", "output_mb", "MB"),
]


def per_layer(res, ops, jobs):
    """Layer metrics: set-up ones as medians over the second half of the
    set-up rounds, the rest summed over a traced warm pass and reported
    as the median over traced warm passes. The scheduler and executor
    shares are taken over each op's whole call, the span its jobs'
    stages are counted over."""
    setup = stats.warm_setups(res["setup"])
    m = {
        "session.build_s": (stats.median([s["session_s"] for s in setup]), "s"),
        "tables.open_s": (stats.median([s["tables_s"] for s in setup]), "s"),
        "tables.fingerprint_ms": (res["fingerprint_ms"], "ms"),
    }
    art = res["artifacts"] or {"build_s": 0.0, "trees": 0, "mb": 0.0}
    m["artifacts.build_s"] = (art["build_s"], "s")
    m["artifacts.trees"] = (art["trees"], "count")
    m["artifacts.mb"] = (art["mb"], "MB")
    ok = [r for r in res["ops"] if r["ok"]]
    traced = sorted({r["pass"] for r in ok if r["traced"] and r["phase"] == "warm"})
    per_pass = {}
    for p in traced:
        rs = [r for r in ok if r["pass"] == p]
        v = {name: sum(r.get(f, 0) for r in rs) for name, f, _ in SUMMED}
        for name, f, _ in JOB_SUMMED:
            v[name] = sum(r.get(f, 0) for r in rs) if jobs else 0.0
        window = sum(r["wall_s"] for r in rs)
        v["sched.gap_s"] = sum(r["wall_s"] - r["stage_busy_s"] for r in rs)
        v["sched.op_wall_s"] = window
        v["exec.busy_share"] = v["exec.task_s"] / (window * res["cpus"])
        v["exec.skew"] = stats.median([r["skew"] for r in rs]) if rs else 1.0
        per_pass[p] = v
    units = {n: u for n, _, u in SUMMED + JOB_SUMMED}
    units.update({"sched.gap_s": "s", "sched.op_wall_s": "s", "exec.busy_share": "ratio",
                  "exec.skew": "ratio"})
    for name, unit in units.items():
        m[name] = (stats.median([v[name] for v in per_pass.values()]), unit)
    m["artifacts.cold_trees"] = (res["cold_artifact_trees"], "count")
    m["codegen.cold_compiles"] = (res["cold_codegen_compiles"], "count")
    # tracing overhead, measured in-run: traced vs untraced warm passes
    warm = [r for r in ok if r["phase"] == "warm"]
    on = stats.op_medians([r for r in warm if r["traced"]], ops)
    off = stats.op_medians([r for r in warm if not r["traced"]], ops)
    m["trace.wall_s"] = (sum(on.values()), "s")
    m["trace.untraced_wall_s"] = (sum(off.values()), "s")
    m["trace.overhead"] = (m["trace.wall_s"][0] / m["trace.untraced_wall_s"][0], "ratio")
    return m


def checks(w, res, run_dir, input_dir, digest):
    """Names of ops whose output is wrong, with the reason for each."""
    import check  # needs the checkout's tools/compare.py
    bad = {}
    if w["kind"] == "queries":
        cache = os.path.join(STATE, "oracle")
        for op in w["ops"]:
            sql = res["oracle"].get(op)
            rdir = os.path.join(run_dir, "results", op)
            if sql is None:
                bad[op] = "no oracle SQL"
            elif not os.path.isdir(rdir):
                bad[op] = "no cold-pass result to check"
            else:
                why = check.check_query(rdir, input_dir, sql, cache, digest)
                if why:
                    bad[op] = why
    else:
        expected = check.expected_outputs(input_dir, gen.GREP_TERM)
        for r in res["ops"]:
            if r["ok"]:
                out = os.path.join(run_dir, "jobs", f"p{r['pass']}", r["op"])
                why = check.check_job(out, r["op"], w["reducers"], expected)
                if why:
                    bad[f"{r['op']}@p{r['pass']}"] = why
    return bad


def run_workload(launch, a):
    """One run of workload `a.workload`; returns the result object."""
    w = WORKLOADS[a.workload]
    t_run = time.time()
    ticks0 = cpu_ticks()
    input_dir, digest = inputs(a.workload, w, a.seed)
    read_once(input_dir)
    run_dir = os.path.abspath(new_run_dir())
    try:
        for d in ("artifacts", "local", "tmp"):
            os.makedirs(os.path.join(run_dir, d))
        spec = {
            "kind": w["kind"], "input": input_dir, "out": run_dir,
            "ops": ",".join(w["ops"]), "trace": a.trace,
            "settle_passes": SETTLE_PASSES, "warm_passes": warm_passes(w, a.seconds),
            "cpus": CPUS, "setup_rounds": w["setup_rounds"],
            "reducers": w.get("reducers", 0), "mappers": w.get("mappers", 0),
            "grep_term": gen.GREP_TERM, "exec_dir": os.path.join(HERE, "exec"),
        }
        spec_path = os.path.join(run_dir, "spec.properties")
        with open(spec_path, "w") as fh:
            for k, v in spec.items():
                fh.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
        env = {k: v for k, v in os.environ.items()
               if not k.startswith(("SPARK_GRAFT_", "GRAFT_", "SPARK_"))}
        env["SPARK_GRAFT_ARTIFACT_DIR"] = os.path.join(run_dir, "artifacts")
        env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
        cmd = (["java"] + launch +
               [f"-Djava.io.tmpdir={run_dir}/tmp", "graft.perfbench.Harness", spec_path])
        limit = RUN_LIMIT_S - (time.time() - t_run) - 15
        log(f"{a.workload} seed={a.seed}: engine JVM local[{CPUS}], heap {HEAP}")
        with open(os.path.join(run_dir, "engine.log"), "w") as lf:
            rc = run_bounded(cmd, limit, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=run_dir)
        if rc != 0:
            with open(os.path.join(run_dir, "engine.log")) as lf:
                tail = lf.read()[-3000:]
            fail(f"engine run {'timed out' if rc is None else f'exited {rc}'}:\n{tail}", 1)
        with open(os.path.join(run_dir, "result.json")) as fh:
            res = json.load(fh)
        bad = checks(w, res, run_dir, input_dir, digest)
        bad.update({f"{r['op']}@p{r['pass']}": r["err"] for r in res["ops"]
                    if r.get("differs")})
        for op, why in bad.items():
            log(f"CHECK FAILED {op}: {why}")
        for r in res["ops"]:
            if not r["ok"]:
                log(f"op failed p{r['pass']} {r['op']}: {r['err']}")
            elif r["op"] in bad or f"{r['op']}@p{r['pass']}" in bad:
                r["ok"] = False
        attempted, failed = stats.counts(res["ops"])
        os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
        with open(os.path.join(STATE, "results", f"{a.workload}-seed{a.seed}"
                               f"-trace{a.trace}.json"), "w") as fh:
            json.dump({k: v for k, v in res.items() if k != "spans"}, fh)
        if a.trace:
            metrics = per_layer(res, w["ops"], w["kind"] == "jobs")
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            trace_path = os.path.join(
                STATE, "traces", f"{a.workload}-seed{a.seed}-{int(time.time())}.json")
            with open(trace_path, "w") as fh:
                json.dump({"workload": a.workload, "seed": a.seed,
                           "metrics": {k: v[0] for k, v in metrics.items()},
                           "engine": res}, fh)
            log(f"trace written to {trace_path}")
        else:
            metrics = end_to_end(res, w["ops"])
        passes = len(res["passes"])
        cold, warm = stats.split_passes(res["ops"])
        meds = stats.op_medians(warm, w["ops"])
        for r in cold:
            log(f"  {r['op']:<28} cold {r['wall_s']:7.3f} s  warm median "
                f"{meds.get(r['op'], float('nan')):7.3f} s")
        tail = stats.tail_percentile([r["wall_s"] for r in warm if r["ok"]])
        if tail:
            log(f"warm op runs: p{tail[0]:.0f} {tail[1]:.3f} s (ten beyond it)")
        log("set-up rounds (total/session/tables): " + "; ".join(
            "/".join(f"{s[k]:.3f}" for k in ("total_s", "session_s", "tables_s"))
            for s in res["setup"]) + " s")
        ticks1 = cpu_ticks()
        steal = (f", CPU steal {(ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]):.1%}"
                 if ticks0 and ticks1 and ticks1[1] > ticks0[1] else "")
        log(f"{passes} passes ({len(warm)} warm op runs), memprobe "
            f"{res['memprobe_ms'][0]:.2f}/{res['memprobe_ms'][1]:.2f} ms, "
            f"JVM start to ready {res['jvm_to_ready_s']:.1f} s, "
            f"run {time.time() - t_run:.1f} s{steal}")
        return {"correct": not bad, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"],
                    help="one workload, or 'all' to run each in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        fail("run from the root of a graft checkout: build.sbt and "
             "src/main/scala are missing here")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")
    launch = build()
    if a.workload != "all":
        print(json.dumps(run_workload(launch, a)), flush=True)
        return
    # every workload in turn: a table on stderr, one JSON line each
    results = {}
    for name in WORKLOADS:
        results[name] = run_workload(launch, argparse.Namespace(**dict(
            vars(a), workload=name)))
        print(json.dumps(dict(workload=name, **results[name])), flush=True)
    for name, r in results.items():
        log(f"{name}: correct={r['correct']} attempted={r['attempted']} "
            f"failed={r['failed']}")
        for k, m in r["metrics"].items():
            log(f"  {k:<24} {m['value']:>14.4f} {m['unit']}")
    if not all(r["correct"] for r in results.values()):
        sys.exit(1)


if __name__ == "__main__":
    main()
