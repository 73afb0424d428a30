"""Turn one run's in-memory record into metrics: medians, the tail
percentile rule, span self time, job-to-span attribution and the per-layer
split. Pure functions over plain dicts, so they are unit-tested without a
JVM."""
import statistics

# clock slack between the JVM's span clock and listener event times
SLACK_MS = 2.0


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=10):
    """The highest percentile with at least ``beyond`` samples beyond it:
    the (beyond+1)-th largest sample. Returns (value, percentile, beyond
    count). With too few samples for the rule it falls back to the maximum
    and says so (percentile 100, 0 beyond)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, None, 0
    if n <= beyond:
        return xs[-1], 100.0, 0
    i = n - beyond - 1
    return xs[i], round(100.0 * i / (n - 1), 2), beyond


def within(t, start, end, slack=SLACK_MS):
    return start - slack <= t <= end + slack


def self_times(spans):
    """span id -> duration minus the durations of its direct children."""
    out = {s["id"]: s["end_ms"] - s["start_ms"] for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in out:
            out[s["parent"]] -= s["end_ms"] - s["start_ms"]
    return out


def attribute_jobs(spans, jobs):
    """job id -> (id of the span open when the job started, how).

    ``how`` is "property" when the job carries the id of a span open at
    its start: the driver thread sets that id as a local property, so its
    jobs always take this path. A thread started inside a span inherits
    the id and keeps it after the span ends (a streaming query's
    micro-batch thread); such a job carries an ended span and falls back
    to the innermost span open at its start time, "time". The root
    ``pass`` span is never a fallback. A job with no span id, an unknown
    one, or no open span below ``pass`` is unattributed: (None, None)."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for j in jobs:
        s = by_id.get(j.get("span"))
        if s is None:
            out[j["job"]] = (None, None)
        elif within(j["start_ms"], s["start_ms"], s["end_ms"]):
            out[j["job"]] = (s["id"], "property")
        elif j["start_ms"] > s["end_ms"]:
            open_ = [s for s in spans if s["name"] != "pass"
                     and within(j["start_ms"], s["start_ms"], s["end_ms"], 0.5)]
            out[j["job"]] = ((max(open_, key=lambda s: s["start_ms"])["id"], "time")
                             if open_ else (None, None))
        else:
            out[j["job"]] = (None, None)
    return out


def subtree(spans, root_id):
    """ids of ``root_id`` and all its descendants."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        x = todo.pop()
        out.add(x)
        todo.extend(children.get(x, []))
    return out


def in_pass(items, p, key):
    return [x for x in items if within(x[key], p["start_ms"], p["end_ms"])]


def pass_seconds(p):
    return (p["end_ms"] - p["start_ms"]) / 1e3


def end_to_end(record, setup_s, wrong_ops):
    """The end-to-end metrics and counts of one run. ``setup_s`` is the
    run's one set-up time; across runs the seeds supply its samples.

    ``wrong_ops``: indexes into ``record["ops"]`` whose output failed the
    check. Failed and wrong ops both count, and keep their timings."""
    ops = record["ops"]
    passes = [p for p in record["passes"] if not p["traced"]]
    lat = [o["end_ms"] - o["start_ms"] for o in ops]
    value, pct, beyond = tail(lat)
    failed = sum(1 for i, o in enumerate(ops) if o["error"] or i in wrong_ops)
    metrics = {
        "setup_s": setup_s,
        "run_s": median(pass_seconds(p) for p in passes),
        "op_p50_ms": median(lat),
        "op_tail_ms": value,
    }
    counts = {"ops": len(ops), "passes": len(passes),
              "tail_percentile": pct, "tail_beyond": beyond, "failed": failed}
    return metrics, counts


STAGES = ["Normalize", "renorm", "QualityScore", "boilerplate", "decontaminate",
          "gates", "near_dup_canonical", "sample", "pack"]

MB = 2**20


def per_layer(record, cores, files_written=None):
    """Per-layer metrics over the traced passes (per-pass medians; the
    testing/core/exec splits and streaming timings are per-op medians).
    Layers a workload does not use read 0. Also returns the trace summary:
    self time per span name, jobs per span name, and the attribution check
    (attributed jobs must sum to ``spark.jobs`` in every pass)."""
    spans = record["spans"]
    jobs = record["jobs"]
    attributed_by = attribute_jobs(spans, jobs)
    owner = {j: sid for j, (sid, _) in attributed_by.items()}
    by_id = {s["id"]: s for s in spans}
    traced = [p for p in record["passes"] if p["traced"]]
    untraced = [p for p in record["passes"] if not p["traced"]]
    rows = []
    mismatches = 0
    for p in traced:
        pspans = in_pass(spans, p, "start_ms")
        pjobs = in_pass(jobs, p, "start_ms")
        ptasks = in_pass(record["tasks"], p, "end_ms")
        pstages = in_pass(record["stages"], p, "completed_ms")
        pqueries = in_pass(record["queries"], p, "end_ms")
        pspan_ids = {s["id"] for s in pspans}
        attributed = [j for j in pjobs if owner.get(j["job"]) in pspan_ids]
        mismatches += len(pjobs) - len(attributed)

        def total(name):
            return sum(s["end_ms"] - s["start_ms"] for s in pspans if s["name"] == name) / 1e3

        def jobs_under(name):
            ids = set()
            for s in pspans:
                if s["name"] == name:
                    ids |= subtree(pspans, s["id"])
            return sum(1 for j in pjobs if owner.get(j["job"]) in ids)

        run_ms = sum(t.get("run_ms", 0) for t in ptasks)
        row = {
            "sources.read_s": total("sources.read"),
            "sources.write_s": total("sources.write"),
            "operators.build_s": total("operators.build"),
            "operators.build_jobs": jobs_under("operators.build"),
            "operators.exec_s": total("operators.exec"),
            "spark.plan_s": sum(ph["end_ms"] - ph["start_ms"] for q in pqueries
                                for ph in q["phases"].values()) / 1e3,
            "spark.jobs": len(pjobs),
            "spark.stages": len(pstages),
            "spark.tasks": len(ptasks),
            "spark.task_wait_s": sum(t.get("duration_ms", 0) - t.get("run_ms", 0)
                                     for t in ptasks) / 1e3,
            "spark.fixed_overhead_s": pass_seconds(p) - run_ms / 1e3 / cores,
            "spark.executor_cpu_s": sum(t.get("cpu_ns", 0) for t in ptasks) / 1e9,
            "spark.executor_run_s": run_ms / 1e3,
            "spark.gc_s": sum(t.get("gc_ms", 0) for t in ptasks) / 1e3,
            "spark.shuffle_read_mb": sum(t.get("shuffle_read", 0) for t in ptasks) / MB,
            "spark.shuffle_write_mb": sum(t.get("shuffle_write", 0) for t in ptasks) / MB,
            "spark.spill_mb": sum(t.get("spill", 0) for t in ptasks) / MB,
            "spark.peak_task_mem_mb": max([t["peak_mem"] for t in ptasks] or [0]) / MB,
            "spark.max_task_s": max([t.get("duration_ms", 0) for t in ptasks] or [0]) / 1e3,
            "spark.useful_task_ratio": (sum(1 for t in ptasks if t.get("records_in", 0) >= 1)
                                        / len(ptasks) if ptasks else 0.0),
            "spark.result_mb": sum(t.get("result", 0) for t in ptasks) / MB,
            "spark.failed_tasks": sum(1 for t in ptasks if not t["ok"]),
        }
        for label in STAGES:
            name = f"pipeline.stage.{label}"
            row[f"{name}.build_s"] = total(name)
            row[f"{name}.jobs"] = jobs_under(name)
        progress = in_pass(record["progress"], p, "end_ms")
        data = [g for g in progress if g["input_rows"] > 0]
        row["streaming.state_rows"] = progress[-1]["state_rows"] if progress else 0
        row["streaming.state_mem_mb"] = progress[-1]["state_mem"] / MB if progress else 0.0
        rin = sum(g["input_rows"] for g in data)
        row["streaming.emitted_ratio"] = (sum(max(g["output_rows"], 0) for g in progress) / rin
                                          if rin else 0.0)
        row["_progress"] = data
        rows.append(row)

    out = {k: median(r[k] for r in rows) for k in rows[0] if not k.startswith("_")} if rows else {}
    data = [g for r in rows for g in r["_progress"]]
    for key in ["trigger_ms", "add_batch_ms", "planning_ms", "wal_ms"]:
        out[f"streaming.{key}"] = median(g[key] for g in data)
    traced_ids = set()
    for p in traced:
        traced_ids |= {s["id"] for s in in_pass(spans, p, "start_ms")}
    for name, metric in [("testing.todf", "testing.todf_ms"), ("testing.compare", "testing.compare_ms"),
                         ("core.transform", "core.transform_ms"), ("exec", "exec_ms")]:
        out[metric] = median(s["end_ms"] - s["start_ms"] for s in spans
                             if s["name"] == name and s["id"] in traced_ids)
    out["sources.files_written"] = median(files_written) if files_written else 0
    base = median(pass_seconds(p) for p in untraced)
    out["trace.overhead_ratio"] = median(pass_seconds(p) for p in traced) / base if base else 0.0

    self_ms = self_times(spans)
    summary = {}
    for s in spans:
        e = summary.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0, "jobs": 0})
        e["count"] += 1
        e["total_ms"] += s["end_ms"] - s["start_ms"]
        e["self_ms"] += self_ms[s["id"]]
    for j, sid in owner.items():
        if sid is not None:
            summary[by_id[sid]["name"]]["jobs"] += 1
    how = [h for _, h in attributed_by.values()]
    trace = {"spans_by_name": summary, "unattributed_jobs": mismatches,
             "jobs_by_property": how.count("property"), "jobs_by_time": how.count("time"),
             "traced_passes": len(traced), "untraced_passes": len(untraced)}
    return out, trace
