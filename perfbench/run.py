#!/usr/bin/env python3
"""Benchmark of the graft library: one closed-loop workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the library
and the benchmark program in ``perfbench/`` with sbt (later runs reuse the build while
the sources are unchanged), generates the workload's inputs from the seed,
runs one JVM on ``local[N]`` (N = min(4, nproc)), checks every output, and
prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones; the
line before it carries provenance, input properties and sample counts, and
a traced run also writes its spans to ``.perfbench/work/trace.json``.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import analyze  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

STATE = ROOT / ".perfbench"
WORK = STATE / "work"
RUN_LIMIT_S = 170

# Inputs per workload: sized so that set-up, the timed seconds and the
# check together stay well inside the per-run time limit on a 4-core host.
PARAMS = {
    "interval_skew": {"events": 150_000, "users": 2_000, "warm_events": 10_000},
    # the chain's cost is fixed overhead (~57 jobs), so its warm-up runs
    # over the timed corpus: that warms every connected-components round
    "curation_chain": {"docs": 400},
    # the cases' warm-up runs them all: each (config, marker type) pair
    # has its own plan shape, and a cold one would compile in a timed op.
    # Eight cases hold each pair once and keep a pass near three seconds.
    "interval_cases": {"cases": 8},
    "interval_stream": {"batches": 6, "batch_size": 250, "groups": 32,
                        "lateness": 40, "warm_batches": 2},
}
STEP_MS = 10

# The metrics a run reports: end-to-end with --trace 0, per-layer with
# --trace 1 (name -> unit). A traced run computes a few more (the
# streaming layer) and shows them on the info line.
# The op tail stays on the info line: with the 3-40 ops a run affords, the
# highest percentile with ten samples beyond it is near or below the median.
END_TO_END = {"setup_s": "s", "run_s": "s", "op_p50_ms": "ms"}
PER_LAYER = {
    "sources.read_s": "s", "sources.write_s": "s", "sources.files_written": "count",
    "operators.build_s": "s", "operators.build_jobs": "count", "operators.exec_s": "s",
    **{f"pipeline.stage.{label}.{k}": u for label in analyze.STAGES
       for k, u in (("build_s", "s"), ("jobs", "count"))},
    "testing.todf_ms": "ms", "testing.compare_ms": "ms", "core.transform_ms": "ms",
    "exec_ms": "ms",
    "spark.plan_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.task_wait_s": "s", "spark.fixed_overhead_s": "s",
    "spark.executor_cpu_s": "s", "spark.executor_run_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.peak_task_mem_mb": "MB", "spark.max_task_s": "s",
    "spark.useful_task_ratio": "ratio", "spark.result_mb": "MB",
    "spark.failed_tasks": "count", "trace.overhead_ratio": "ratio",
}

# JDK 17 module access Spark needs outside spark-submit (same list as the
# library's own build).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def source_digest():
    files = []
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += [p for p in base.rglob("*") if p.is_file()]
    files += [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "build.sbt", HERE / "project" / "build.properties"]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def ensure_build():
    """Classpath of the compiled library and benchmark program, building if needed."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise BenchError(f"no library sources (build.sbt, src/main/scala) under {ROOT}")
    digest = source_digest()
    stamp = STATE / "build.json"
    if stamp.is_file():
        built = json.loads(stamp.read_text())
        if built["digest"] == digest and all(os.path.exists(p) for p in built["classpath"]):
            return built["classpath"], digest
    tmp = STATE / "sbt-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # keep sbt's scratch files inside the checkout, and start no server
    opts = f"{os.environ.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false"
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850, env=dict(os.environ, SBT_OPTS=opts.strip()))
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and ":" in l and " " not in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise BenchError(f"build failed (sbt exit {proc.returncode})")
    classpath = lines[-1].split(os.pathsep)
    stamp.write_text(json.dumps({"digest": digest, "classpath": classpath}))
    return classpath, digest


# --------------------------------------------------------------- inputs

def make_inputs(workload, seed, inputs):
    p = PARAMS[workload]
    props = {}
    if workload == "interval_skew":
        table, props = gen.events(seed, "events", p["events"], p["users"])
        pq.write_table(table, inputs / "events.parquet")
        warm, _ = gen.events(seed, "warm_events", p["warm_events"], p["users"] // 10)
        pq.write_table(warm, inputs / "warm_events.parquet")
    elif workload == "curation_chain":
        rows, props = gen.docs(seed, "docs", p["docs"])
        gen.write_jsonl(rows, inputs / "docs")
    elif workload == "interval_cases":
        lines, props = gen.cases(seed, "cases", p["cases"])
        gen.write_lines(lines, inputs / "cases.tsv")
    elif workload == "interval_stream":
        args = (p["batch_size"], p["groups"], p["lateness"])
        lines, props = gen.stream(seed, "stream", p["batches"], *args, step_ms=STEP_MS)
        gen.write_lines(lines, inputs / "stream.tsv")
        warm, _ = gen.stream(seed, "warm_stream", p["warm_batches"], *args, step_ms=STEP_MS)
        gen.write_lines(warm, inputs / "warm_stream.tsv")
        props["watermark_delay_ms"] = delay_ms(p)
    return props


def delay_ms(p):
    """A watermark delay above the largest lateness, so no event is late."""
    return (p["lateness"] + 10) * STEP_MS


# ------------------------------------------------------------------ run

def run_jvm(classpath, workload, seconds, trace, cores, inputs, out, deadline):
    tmp = WORK / "tmp"
    tmp.mkdir()
    cmd = ["java", "-Xmx3g", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(classpath), "perfbench.Main",
           f"workload={workload}", f"input={inputs}", f"out={out}",
           f"seconds={seconds}", f"trace={trace}", f"cores={cores}",
           f"delay_ms={delay_ms(PARAMS['interval_stream'])}"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(out / "spark-local"))
    with open(WORK / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=log,
                                stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise BenchError("the JVM run exceeded the time limit")
        finally:
            # also on an interrupt or SIGTERM: leave no JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        tail = (WORK / "jvm.log").read_text(errors="replace")[-4000:]
        raise BenchError(f"the JVM run failed (exit {rc}):\n{tail}")
    return json.loads((out / "result.json").read_text())


def wrong_ops(workload, result, inputs, out):
    """Indexes of ops whose output failed the check."""
    import duckdb

    ops = result["record"]["ops"]
    passes = sorted({o["pass"] for o in ops})
    con = duckdb.connect()
    if workload == "interval_skew":
        bad = set(check.skew(con, inputs, out, result["oracle"]["interval_lsfe"],
                             sorted({o["kind"] for o in ops})))
        return {i for i, o in enumerate(ops) if o["kind"] in bad}
    if workload == "curation_chain":
        bad = set(check.curation(con, inputs, out, result["oracle"]["pipeline_curate"], passes))
    elif workload == "interval_stream":
        bad = set(check.stream(check.read_parquet_dir(con, out / "stream_emitted"),
                               check.read_parquet_dir(con, out / "stream_batch"), passes))
    else:
        return set()  # the cases compare inside each op
    return {i for i, o in enumerate(ops) if o["pass"] in bad}


def cpu_times():
    """The host's aggregate CPU counters (/proc/stat), or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(start, end):
    """Share of CPU time the hypervisor gave to other guests between two
    readings of ``cpu_times`` (the 8th counter): high on a run whose
    timings were slowed by its neighbours."""
    if not start or not end or len(start) < 8 or len(end) < 8:
        return None
    d = [b - a for a, b in zip(start, end)]
    return round(d[7] / sum(d), 4) if sum(d) > 0 else None


def git_commit():
    """HEAD of the checkout, or None when it is not a git work tree (git
    may not look above the checkout for one)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(ROOT.parent))
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, env=env).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    load_start = os.getloadavg()[0]
    cpu_start = cpu_times()
    phases = {}
    t = time.monotonic()
    classpath, digest = ensure_build()
    phases["build"] = time.monotonic() - t
    deadline = time.monotonic() + RUN_LIMIT_S
    if WORK.exists():
        shutil.rmtree(WORK)
    inputs, out = WORK / "inputs", WORK / "out"
    inputs.mkdir(parents=True)
    out.mkdir()
    t = time.monotonic()
    props = make_inputs(a.workload, a.seed, inputs)
    phases["generate"] = time.monotonic() - t
    cores = min(4, os.cpu_count() or 1)
    t = time.monotonic()
    result = run_jvm(classpath, a.workload, a.seconds, a.trace, cores, inputs, out, deadline)
    phases["jvm"] = time.monotonic() - t
    record = result["record"]
    t = time.monotonic()
    wrong = wrong_ops(a.workload, result, inputs, out)
    phases["check"] = time.monotonic() - t
    metrics, counts = analyze.end_to_end(record, result["setup_s"], wrong)
    failed = counts["failed"]
    info = {
        "provenance": {"nproc": os.cpu_count(), "master": result["master"],
                       "spark_version": result["spark_version"], "seed": a.seed,
                       "git_commit": git_commit(), "source_digest": digest,
                       "loadavg_1m_start": load_start, "loadavg_1m_end": os.getloadavg()[0],
                       "cpu_steal_share": steal_share(cpu_start, cpu_times())},
        "workload": a.workload, "inputs": props, "samples": counts,
        "op_tail_ms": metrics["op_tail_ms"],
        "fail_ratio": failed / max(1, len(record["ops"])),
        "errors": sorted({o["error"] for o in record["ops"] if o["error"]})[:3],
        "wrong_ops": len(wrong), "jvm_phases_s": result["phases_s"],
        "run_phases_s": phases, **result["info"],
    }
    correct = failed == 0
    if a.trace:
        traced_passes = [p["index"] for p in record["passes"] if p["traced"]]
        files = (check.files_written(out, traced_passes)
                 if a.workload == "curation_chain" else None)
        layers, trace = analyze.per_layer(record, cores, files)
        trace["jobs_attributed_sum_matches"] = trace["unattributed_jobs"] == 0
        correct = correct and trace["unattributed_jobs"] == 0
        (WORK / "trace.json").write_text(json.dumps(
            {"summary": trace, "spans": record["spans"], "jobs": record["jobs"],
             "queries": record["queries"], "progress": record["progress"]}))
        info["trace"] = trace
        info["trace_file"] = str((WORK / "trace.json").relative_to(ROOT))
        info["other_layers"] = {k: v for k, v in layers.items() if k not in PER_LAYER}
        reported = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        reported = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(info))
    print(json.dumps({"correct": correct, "attempted": len(record["ops"]), "failed": failed,
                      "metrics": reported}))
    return 0


def terminated(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, terminated)
    try:
        sys.exit(main())
    except BenchError as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(1)
