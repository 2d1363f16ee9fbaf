#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps:
 1. build graft and the harness (perfbench/harness, its own sbt build)
    when their sources changed since the last build in this checkout;
 2. make the seeded inputs (perfbench/gen_inputs.py), cached by seed;
 3. run graftbench.Harness on local[nproc]: the session set-up, one
    cold pass, then whole warm passes until --seconds are used;
 4. check the outputs of the cold pass against computations made apart
    from the program (perfbench/checks.py), off the clock;
 5. print {"correct", "attempted", "failed", "metrics"} as the last line:
    the end-to-end metrics with --trace 0, the per-layer metrics with
    --trace 1 (BENCHMARK.json lists both).

Exits non-zero, without a result line, when the build, the inputs or the
harness fail. A failed output check, or an operation that throws in the
cold pass (its output cannot be checked), prints a result with
correct=false and exits 1.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
# the read-only sf0.1 test data (TESTDATA.md), or another directory
SOURCE_DATA = os.environ.get("GRAFT_BENCH_SOURCE", os.path.expanduser("~/testdata/sf0.1"))
RUN_LIMIT_S = 170  # the whole run, build excluded

sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen_inputs  # noqa: E402

# Operations per workload. Query workloads name SparkEntry queries;
# `publish` is run through graft.sinks instead of as a bare query.
# Pipeline operations are graft.examples.DataPipeline routes; `{out}` is
# the pass's output directory. README.md gives the rule that picks the
# curation queries: per family, the query whose full evaluation exceeds
# its count() time the most, among those whose DuckDB oracle runs within
# 10 s (so the checks fit in a run).
WORKLOADS = {
    "curation-sf0.1": dict(
        mode="queries", tables=["documents", "embeddings"],
        ops=["t01_lang_id", "d18_span_removal", "s16_ann_recall", "e03_norm_outliers"],
        publish="m05_thumbnail_grid"),
    "pipeline-sf0.01": dict(
        mode="pipeline", tables=["documents"], docs=500,
        ops=["docs.langstats.en", "docs.sinks.{out}"]),
}

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp() -> str:
    """Content hash of everything the build compiles."""
    h = hashlib.sha1()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HARNESS, "project", "build.properties")]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build() -> str:
    """Compile graft and the harness; return the harness classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dsbt.ipcsocket.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = open(log).read().splitlines()
    cps = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (see {log})")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def inputs(name: str, wl: dict, seed: int) -> str:
    """The workload's seeded input set, generated once per seed."""
    base = os.path.join(WORK, "inputs")
    out = os.path.join(base, f"{name}-s{seed}")
    if not os.path.isdir(out):
        if not os.path.isfile(os.path.join(SOURCE_DATA, "documents.parquet")):
            fail(f"source data not found at {SOURCE_DATA}")
        os.makedirs(base, exist_ok=True)
        # keep the input sets bounded: the most recent one per workload
        for d in os.listdir(base):
            if d.startswith(f"{name}-s"):
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        gen_inputs.generate(SOURCE_DATA, out, seed, wl["tables"], wl.get("docs"))
    return out


def heap() -> str:
    """Driver heap: a quarter of memory, between 2 and 6 GiB."""
    try:
        kb = next(int(ln.split()[1]) for ln in open("/proc/meminfo")
                  if ln.startswith("MemTotal:"))
        gb = max(2, min(6, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"{gb}g"


def run_harness(cp: str, wl: dict, inp: str, seconds: int, trace: bool,
                cores: int, work: str, deadline: float) -> dict:
    args = ["--mode", wl["mode"], "--inputs", inp, "--work", work,
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cores", str(cores), "--ops", ",".join(wl["ops"]),
            "--publish", wl.get("publish", "")]
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{heap()}", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}"]
           + opens + ["-cp", cp, "graftbench.Harness"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "harness.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = p.communicate(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded the run limit (see {log})")
    res = [ln for ln in out.splitlines() if ln.startswith("GRAFTBENCH ")]
    if p.returncode != 0 or not res:
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail(f"harness failed with code {p.returncode} (see {log})")
    return json.loads(res[-1][len("GRAFTBENCH "):])


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(raw: dict) -> dict:
    warm = [p for p in raw["passes"] if p["kind"] == "warm"]
    cold = raw["passes"][0]
    ops = [o["s"] for p in warm for o in p["ops"] if o["ok"]]
    return {
        "setup_s": (raw["setup_s"], "s"),
        "cold_wall_s": (cold["wall_s"], "s"),
        "wall_s": (median([p["wall_s"] for p in warm]), "s"),
        "op_p50_s": (median(ops), "s"),
        "shuffle_write_mb": (median([p["shuffle_write_bytes"] for p in warm]) / 1e6, "MB"),
        "written_mb": (median([p["written_bytes"] for p in warm]) / 1e6, "MB"),
    }


LAYER_UNITS = {
    "core.route_ms": "ms", "core.resolve_ms": "ms", "core.resolve_jobs": "count",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "operators.build_tasks": "count", "operators.build_result_mb": "MB",
    "sources.load_jobs": "count", "sources.input_mb": "MB", "sources.input_rows": "count",
    "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "plan.nodes": "count", "plan.exchanges": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.idle_slot_ms": "ms", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.task_retries": "count",
}


def per_layer(raw: dict) -> dict:
    """Medians over the warm passes; codegen from the cold pass, where
    compilation happens; the traced warm wall for the tracing overhead."""
    warm = [p for p in raw["passes"] if p["kind"] == "warm"]
    cold = raw["passes"][0]
    m = {k: (median([float(p[k]) for p in warm]), u) for k, u in LAYER_UNITS.items()}
    m["functions.codegen_ms"] = (float(cold["codegen_ms"]), "ms")
    m["functions.codegen_compiles"] = (float(cold["codegen_compiles"]), "count")
    m["materialize.persisted_left"] = (median([p["persisted_left"] for p in warm]), "count")
    m["materialize.cached_mb_peak"] = (median([p["cached_bytes_peak"] for p in warm]) / 1e6, "MB")
    m["sinks.write_s"] = (median([p["sinks.write_s"] for p in warm]), "s")
    m["sinks.files"] = (median([p["written_files"] for p in warm]), "count")
    m["sinks.mb"] = (median([p["written_bytes"] for p in warm]) / 1e6, "MB")
    m["trace.wall_s"] = (median([p["wall_s"] for p in warm]), "s")
    return m


def main() -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources next to perfbench/ (run from a repository checkout)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    wl = WORKLOADS[a.workload]
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    t_inputs = time.time()
    inp = inputs(a.workload, wl, a.seed)
    t_harness = time.time()
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    raw = run_harness(cp, wl, inp, a.seconds, bool(a.trace), cores, work, deadline)

    n_ops = len(raw["passes"][0]["ops"])
    attempted = n_ops * len(raw["passes"])
    failed = sum(1 for p in raw["passes"] for o in p["ops"] if not o["ok"])
    for name, err in raw["errors"].items():
        print(f"operation {name} failed: {err}", file=sys.stderr)
    t_checks = time.time()
    ok_cold = {o["name"] for o in raw["passes"][0]["ops"] if o["ok"]}
    with open(os.path.join(work, "run.json"), "w") as fh:
        json.dump({"workload": a.workload, "inputs": inp, "ok_cold": sorted(ok_cold)}, fh)
    problems = [f"{o['name']}: failed in the cold pass, its output is unchecked"
                for o in raw["passes"][0]["ops"] if not o["ok"]]
    problems += checks.check(wl, inp, work, ok_cold)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)

    metrics = per_layer(raw) if a.trace else end_to_end(raw)
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(f"run took {time.time() - t_start:.1f} s: inputs {t_harness - t_inputs:.1f} s, "
          f"harness {t_checks - t_harness:.1f} s (set-up {raw['setup_s']:.2f} s, measured "
          f"{raw['measured_s']:.1f} s in {len(raw['passes'])} passes), "
          f"checks {time.time() - t_checks:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
