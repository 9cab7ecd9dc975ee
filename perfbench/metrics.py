"""Pure metric arithmetic for the benchmark: percentiles, interval unions,
span self time, failure accounting, and the per-layer rollup of a traced
run. Everything here works on the raw JSON the harness writes; times in
that JSON are epoch milliseconds.
"""
import math
import statistics

MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def tail(samples, beyond=MIN_BEYOND):
    """Highest percentile of `samples` that has at least `beyond` samples
    strictly above it. Returns (value, percentile, n); with too few
    samples the maximum is returned at percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    i = n - 1 - beyond
    if i < 0:
        return xs[-1], 100.0, n
    return xs[i], 100.0 * (i + 1) / n, n


def gmean_of_medians(samples_by_op):
    """Geometric mean over operations of each operation's median latency:
    the typical operation, insensitive to how mixed the operation sizes
    are (the pooled median jumps between size clusters)."""
    meds = [median(v) for v in samples_by_op.values() if v]
    return math.exp(sum(math.log(m) for m in meds) / len(meds)) if meds else 0.0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    clipped = [(max(s, a), min(e, b)) for a, b in children]
    return (e - s) - union_length(clipped)


def op_ms(op):
    return op["end"] - op["start"]


def timed_accounting(passes, bad_ops=()):
    """Attempted and failed operations over the timed passes, the pass
    times (wall minus the time of every failed operation) and the latency
    samples of the operations that succeeded, by operation name. An
    operation fails when it threw, or when its output failed the
    correctness check (`bad_ops`); a failure's time never counts as a
    measurement."""
    attempted = failed = 0
    pass_ms, samples = [], {}
    for p in passes:
        lost = 0.0
        for op in p["ops"]:
            attempted += 1
            if op["ok"] and op["name"] not in bad_ops:
                samples.setdefault(op["name"], []).append(op_ms(op))
            else:
                failed += 1
                lost += op_ms(op)
        pass_ms.append(p["end"] - p["start"] - lost)
    return attempted, failed, pass_ms, samples


def _within(t, span):
    return span[0] <= t <= span[1]


def layer_rollup(result):
    """Per-pass per-layer metrics of a traced run, keyed by metric name.
    Returns {name: [value per timed pass]}."""
    trace = result["trace"]
    layer_of = {o["name"]: o["layer"] for o in result["ops"]}
    per_pass = []
    for idx, p in enumerate(result["passes"]):
        ops = p["ops"]
        jobs = [j for j in trace["jobs"] if j["pass"] == idx]
        stages = [s for s in trace["stages"] if s["pass"] == idx]
        phases = [x for x in trace["phases"] if x["pass"] == idx]
        prog = [x for x in trace["progress"] if x["pass"] == idx]
        span = (p["start"], p["end"])
        gen = p["generate"]
        m = {}
        m["trace.pass_s"] = (p["end"] - p["start"]) / 1e3
        m["etl.generate_s"] = (gen[1] - gen[0]) / 1e3 if gen else 0.0
        m["etl.dims_s"] = sum(op_ms(o) for o in ops if o["name"].startswith("dim_")) / 1e3
        m["etl.facts_s"] = sum(op_ms(o) for o in ops if o["name"].startswith("fact_")) / 1e3
        etl_ops = {i for i, o in enumerate(ops) if layer_of.get(o["name"]) == "etl"}
        m["etl.rows_written"] = float(sum(s["records_out"] for s in stages if s["op"] in etl_ops))
        for layer in ("queries", "operators", "sources", "streaming"):
            m[f"{layer}.build_s"] = sum(o["build_end"] - o["start"] for o in ops
                                        if layer_of.get(o["name"]) == layer) / 1e3
        m["sources.files"] = float(p["shard_files"] or 0)
        m["streaming.batches"] = float(len(prog))
        m["streaming.add_batch_s"] = sum(x["add_batch"] for x in prog) / 1e3
        m["streaming.commit_s"] = sum(x["wal_commit"] + x["commit_offsets"] for x in prog) / 1e3
        m["streaming.state_commit_s"] = sum(x["state_commit"] for x in prog) / 1e3
        m["streaming.state_rows"] = float(sum(x["state_rows"] for x in prog))
        for ph in ("analysis", "optimization", "planning"):
            m[f"spark.catalyst.{ph}_s"] = sum(x[ph] for x in phases) / 1e3
        compiles = sum(o["compiles"] for o in ops)
        m["spark.codegen.compiles"] = float(compiles)
        m["spark.codegen.compile_s"] = sum(o["compile_ns"] for o in ops) / 1e9
        m["spark.codegen.compiles_per_op"] = compiles / max(len(ops), 1)
        tasks = sum(s["tasks"] for s in stages)
        mb = 1024.0 * 1024.0
        m["spark.exec.jobs"] = float(len(jobs))
        m["spark.exec.stages"] = float(len(stages))
        m["spark.exec.tasks"] = float(tasks)
        m["spark.exec.tasks_per_job"] = tasks / max(len(jobs), 1)
        m["spark.exec.task_run_s"] = sum(s["run_ms"] for s in stages) / 1e3
        m["spark.exec.task_cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9
        m["spark.exec.gc_s"] = sum(s["gc_ms"] for s in stages) / 1e3
        m["spark.exec.sched_wait_s"] = sum(max(s["first_launch"] - s["submit"], 0)
                                           for s in stages) / 1e3
        m["spark.exec.shuffle_read_mb"] = sum(s["shuffle_read"] for s in stages) / mb
        m["spark.exec.shuffle_write_mb"] = sum(s["shuffle_write"] for s in stages) / mb
        m["spark.exec.spill_mb"] = sum(s["spill"] for s in stages) / mb
        m["spark.exec.input_mb"] = sum(s["input"] for s in stages) / mb
        m["spark.exec.output_mb"] = sum(s["output"] for s in stages) / mb
        m["spark.exec.failed_tasks"] = float(sum(s["failed_tasks"] for s in stages))
        job_iv = [(j["start"], j["end"]) for j in jobs]
        m["driver.idle_s"] = self_time(span, job_iv) / 1e3
        # span tree: pass -> op -> {build, write} -> job -> stage -> task
        op_iv = [(o["start"], o["end"]) for o in ops]
        builds = [(o["start"], o["build_end"]) for o in ops]
        writes = [(o["build_end"], o["end"]) for o in ops]
        stage_by_id = {s["id"]: s for s in stages}
        m["span.pass.self_s"] = self_time(span, op_iv) / 1e3
        m["span.build.self_s"] = sum(
            self_time(b, [j for j in job_iv if _within(j[0], b)]) for b in builds) / 1e3
        m["span.write.self_s"] = sum(
            self_time(w, [j for j in job_iv if _within(j[0], w)]) for w in writes) / 1e3
        m["span.job.self_s"] = sum(
            self_time((j["start"], j["end"]),
                      [(s["submit"], s["complete"]) for sid in j["stages"]
                       for s in [stage_by_id.get(sid)] if s and s["complete"]])
            for j in jobs) / 1e3
        m["span.stage.self_s"] = sum(
            self_time((s["submit"], s["complete"]), [tuple(t) for t in s["task_intervals"]])
            for s in stages if s["complete"]) / 1e3
        per_pass.append(m)
    return {name: [m[name] for m in per_pass] for name in (per_pass[0] if per_pass else {})}
