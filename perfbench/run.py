#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop client driving the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and the
harness (perfbench/build.sbt) with sbt; later runs reuse the build while no
source file has changed. Each run then:

  1. makes its inputs from the seed (ingest_pp: a generated pp-complete CSV,
     cross-checked with DuckDB; mix_heavy: a seed-chosen query order over the
     committed tables in perfbench/data/sf0.1);
  2. starts one JVM with a private java.io.tmpdir and Spark local dir, so the
     engine's staged input layouts are always built inside this run's set-up;
  3. sets up (session start plus one checked pass over every operation), then
     times whole passes for --seconds;
  4. prints the metrics: every end-to-end metric with --trace 0, every
     per-layer metric with --trace 1 (listeners attached, spans written to
     perfbench/.out/). The last stdout line is one JSON object.

Workloads:
  ingest_pp  one full-refresh Ingest.run of a 1 M-row pp-complete CSV per op
  mix_heavy  declared queries with materialized joins and a micro-batch replay
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
DATA = os.path.join(HERE, "data", "sf0.1")
MIXES = os.path.join(HERE, "mixes.json")

INGEST_ROWS = 1_000_000
HEAP = "4g"
# A run must end within 180 s; keep a margin for start-up and clean-up.
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 700

WORKLOADS = ("ingest_pp", "mix_heavy")

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
}

PER_LAYER = {  # name -> unit
    "ingest.fetch_s": "s", "ingest.write_s": "s", "ingest.driver_s": "s",
    "ingest.provenance_excess_s": "s",
    "ops.build_s": "s", "ops.exec_s": "s",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.stages_skipped": "count",
    "sched.tasks": "count", "sched.tasks_failed": "count", "sched.driver_gap_s": "s",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.busy_share": "share",
    "exec.peak_mem_mb": "MB",
    "shuffle.exchanges": "count", "shuffle.read_mb": "MB", "shuffle.write_mb": "MB",
    "shuffle.fetch_wait_s": "s", "spill.disk_mb": "MB",
    "storage.resident_mb_after_op": "MB",
    "staging.builds_timed": "count", "staging.build_s": "s", "staging.mb": "MB",
    "stream.batches": "count", "stream.batch_s": "s",
    "jvm.heap_after_gc_mb": "MB",
    "host.canary_s": "s",
    "trace.setup_s": "s", "trace.pass_s": "s",
}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp() -> str:
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(r)
            for f in fs if "target" not in os.path.relpath(d, r).split(os.sep)
            and f.endswith((".scala", ".java", ".sbt", ".properties")))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build() -> str:
    """Builds engine and harness when sources changed; returns the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, f"classpath-{stamp[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is needed to build the engine")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_DEADLINE_S)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 1)
    for old in os.listdir(BUILD):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD, old))
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def make_ingest_input(work: str, seed: int) -> dict:
    sys.path.insert(0, HERE)
    import gen_pp
    csv = os.path.join(work, "pp-complete.csv")
    con = gen_pp.connect(os.path.join(work, "duckdb_tmp"))
    expected = gen_pp.generate(con, csv, INGEST_ROWS, seed)
    parsed = gen_pp.cross_check(con, csv)
    con.close()
    if parsed != expected:
        fail(f"generated CSV parses as {parsed}, generator expected {expected}", 1)
    return {"csv": csv, "rows": str(expected["rows"]), "max-date": expected["max_date"]}


def make_mix_input(work: str, workload: str) -> dict:
    with open(MIXES) as f:
        expected = json.load(f)["workloads"][workload]
    path = os.path.join(work, "expected.tsv")
    with open(path, "w") as f:
        for name, (rows, hsum) in sorted(expected.items()):
            f.write(f"{name}\t{rows}\t{hsum}\n")
    return {"data": DATA, "expected": path}


def java_cmd(classpath: str, work: str, main: str, args: list) -> list:
    """A JVM for `main` whose scratch state all lives under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"]
    for m in JAVA_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, main] + args


def run_jvm(classpath: str, args: dict, work: str, deadline: float) -> dict:
    cmd = java_cmd(classpath, work, "perfbench.Harness",
                   [x for k, v in args.items() for x in (f"--{k}", str(v))])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the engine did not finish within the run's deadline", 1)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not result:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"the harness exited with code {proc.returncode} and no result", 1)
    return json.loads(result[-1][len("PERFBENCH "):])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(raw: dict) -> dict:
    passes = raw["passes"]
    per_op = {n: median([p["ops"][n] for p in passes]) for n in passes[0]["ops"]}
    return {
        "setup_s": (raw["setup_s"], 1),
        "pass_s": (median([p["wall_s"] for p in passes]), len(passes)),
        "query_geomean_s": (geomean(list(per_op.values())), len(passes) * len(per_op)),
    }


def per_layer(raw: dict, cpus: int) -> dict:
    passes = raw["passes"]

    def over_passes(f):
        return median([f(p) for p in passes])

    def layer(k):
        return over_passes(lambda p: p["layers"].get(k, 0.0))

    def part(k):
        return over_passes(lambda p: p["parts"].get(k, 0.0))

    m = {k: layer(k) for k in PER_LAYER if k.split(".")[0] in (
        "plan", "sched", "exec", "shuffle", "spill", "storage", "stream")}
    m["plan.analysis_s"] = over_passes(
        lambda p: p["layers"].get("plan.analysis_s", 0.0) + p["parts"].get("analysis", 0.0))
    m["exec.busy_share"] = over_passes(
        lambda p: p["layers"].get("exec.task_s", 0.0) / (p["wall_s"] * cpus))
    m["ops.build_s"], m["ops.exec_s"] = part("build"), part("exec")
    m["ingest.fetch_s"], m["ingest.write_s"] = part("fetch"), part("write")
    m["ingest.driver_s"] = over_passes(
        lambda p: p["wall_s"] - p["parts"]["fetch"] - p["parts"]["write"]
        if "fetch" in p["parts"] else 0.0)
    m["ingest.provenance_excess_s"] = over_passes(
        lambda p: p["parts"]["read"] - p["parts"]["write"] if "read" in p["parts"] else 0.0)
    # A layout's build cost: its op's set-up time minus the same op warm.
    warm = {n: median([p["ops"][n] for p in passes]) for n in passes[0]["ops"]}
    m["staging.build_s"] = sum(max(0.0, s["wall_s"] - warm[n])
                               for n, s in raw["setup"].items() if s["staged"] > 0)
    m["staging.builds_timed"] = raw["staging_builds_timed"]
    m["staging.mb"] = raw["staging_mb"]
    m["jvm.heap_after_gc_mb"] = raw["heap_after_gc_mb"]
    m["host.canary_s"] = max(raw["canary_s"])
    e2e = end_to_end(raw)
    m["trace.setup_s"], m["trace.pass_s"] = e2e["setup_s"][0], e2e["pass_s"][0]
    return {k: (m[k], len(passes)) for k in PER_LAYER}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the root of a full checkout: the engine's sources are missing")
    if not (os.path.isdir(DATA) and os.path.isfile(MIXES)):
        fail("the benchmark's committed data is missing")

    classpath = build()
    deadline = time.time() + RUN_DEADLINE_S
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if a.workload == "ingest_pp":
            inputs = make_ingest_input(work, a.seed)
        else:
            inputs = make_mix_input(work, a.workload)
        os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
        trace_out = os.path.join(HERE, ".out", f"trace-{a.workload}-seed{a.seed}.jsonl")
        raw = run_jvm(classpath, dict(
            inputs, workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
            cpus=cpus, work=work, **{"t0-ms": int(time.time() * 1000), "trace-out": trace_out}),
            work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    errors = raw["errors"]
    failed = sum(1 for e in errors if not e.startswith("staged layouts"))
    attempted = raw["attempted"]
    if a.trace:
        metrics, units = per_layer(raw, cpus), PER_LAYER
    else:
        metrics, units = end_to_end(raw), END_TO_END
    for e in errors:
        print(f"error: {e}")
    for k, (v, n) in metrics.items():
        print(f"{a.workload} {k} = {v:.6g} {units[k]} (n={n})")
    print(f"{a.workload} failed_frac = {failed / attempted:.6g} (n={attempted})")
    if a.workload == "ingest_pp":
        per_run = median([p["ops"]["ingest"] for p in raw["passes"]])
        print(f"{a.workload} ingest_rows_per_s = {INGEST_ROWS / per_run:.6g} rows/s "
              f"(n={len(raw['passes'])})")
    if a.trace:
        print(f"{a.workload} trace written to {os.path.relpath(trace_out, ROOT)}")
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, (v, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
