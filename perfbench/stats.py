"""Statistics, output verdicts and metrics of one benchmark run.

Everything here is a pure function of the run record the JVM writes
(see src/perfbench/Main.scala), so it is unit-tested on its own by
test_stats.py.
"""
import statistics

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """First quartile, median, third quartile, as `statistics.quantiles`
    with n=4 gives them."""
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def iqr_frac(xs):
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, sample count). With sorted samples x[0..n-1],
    x[i] has n-1-i samples beyond it, so the answer is x[n-1-beyond] at
    percentile 100*(n-beyond)/n. With `beyond` samples or fewer no
    percentile qualifies; the maximum is returned at percentile 100.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n <= beyond:
        return s[-1], 100.0, n
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, n


# ---- output verdicts and failure accounting

def op_failed(op, expected):
    """True when an op threw, or its checked output is wrong.

    A check carries either `ok` (iterative ops, checked in the JVM) or
    `rows` and `digest`, matched against the recorded expectation for
    the op. An op with no recorded expectation fails."""
    if op.get("error"):
        return True
    check = op.get("check")
    if check is None:
        return False
    if "ok" in check:
        return not check["ok"]
    want = expected.get(op["op"])
    return want is None or want.get("rows") != check.get("rows") \
        or want.get("digest") != check.get("digest")


def accounting(record, expected):
    """(attempted, failed, names of failed ops) over every pass."""
    attempted, failed, names = 0, 0, []
    for p in record["passes"]:
        for op in p["ops"]:
            attempted += 1
            if op_failed(op, expected):
                failed += 1
                names.append(f"pass {p['pass']}: {op['op']}")
    return attempted, failed, names


# ---- metrics

def warm(record, traced=False):
    return [p for p in record["passes"] if p["kind"] == "warm" and p["traced"] == traced]


def op_walls(passes):
    return [op["wall_s"] for p in passes for op in p["ops"] if not op.get("error")]


def end_to_end(record):
    """The end-to-end metrics (name -> (value, unit)), from untraced
    passes only."""
    w = warm(record)
    walls = op_walls(w)
    t, pct, n = tail(walls)
    return {
        "setup_s": (record["setup_s"], "s"),
        "cold_pass_s": (record["passes"][0]["wall_s"], "s"),
        "warm_pass_s": (median([p["wall_s"] for p in w]), "s"),
        "op_p50_s": (median(walls), "s"),
        "retained_heap_mb": (record["retained_heap_mb"], "MB"),
    }, {"op_tail_s": t, "op_tail_pct": pct, "op_samples": n}


def iterative_metrics(record):
    """The iterative workload's own end-to-end figures, medians over its
    untraced warm passes."""
    by = {}
    for p in warm(record):
        for op in p["ops"]:
            if not op.get("error"):
                by.setdefault(op["op"], []).append(op["wall_s"])
    if "kmeans" not in by:
        return {}
    sh = record["shape"]
    gemm_flop = 2.0 * sh["gemm_m"] * sh["gemm_k"] * sh["gemm_n"]
    return {
        "kmeans_s": (median(by["kmeans"]), "s"),
        "gemm_gflops": (gemm_flop / median(by["gemm"]) / 1e9, "GFLOP/s"),
        "damds_s": (median(by["damds"]), "s"),
        "allreduce_s": (median(by["allreduce"]), "s"),
    }


MODULES = ("RelationalQueries", "EventQueries", "TextQueries", "VectorQueries",
           "MultimodalQueries", "MlQueries", "StreamingQueries")
STREAM_PHASES = ("triggerExecution", "addBatch", "queryPlanning", "latestOffset",
                 "walCommit", "commitOffsets")

# name -> unit, in the order they are printed
PER_LAYER = {
    "Tables.resolve_s": "s", "Tables.resolve_jobs": "count",
    "scan.input_mb": "MB", "scan.records": "count",
    "operators.construct_s": "s", "operators.construct_jobs": "count",
    **{f"{m}.s": "s" for m in MODULES},
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.driver_gap_s": "s",
    "task.run_s": "s", "task.cpu_s": "s", "task.cpu_frac": "ratio",
    "task.gc_s": "s", "task.deserialize_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "spill.disk_mb": "MB",
    "cache.cold_minus_warm_s": "s", "cache.storage_mb": "MB", "cache.warehouse_mb": "MB",
    "stream.batches": "count", "stream.input_rows": "count",
    "stream.trigger_s": "s", "stream.addBatch_s": "s", "stream.queryPlanning_s": "s",
    "stream.latestOffset_s": "s", "stream.walCommit_s": "s", "stream.commitOffsets_s": "s",
    "stream.fixed_s": "s", "stream.state_rows": "count", "stream.state_mb": "MB",
    "session.temp_tables_growth": "count", "session.retained_heap_mb": "MB",
    "KMeans.step_s": "s", "KMeans.jobs_per_step": "count", "KMeans.dist_evals_per_s": "1/s",
    "kmeans_s": "s",
    "Gemm.multiply_s": "s", "Gemm.assemble_s": "s", "gemm_gflops": "GFLOP/s",
    "Damds.statistics_s": "s", "Damds.run_s": "s", "Damds.gathered_run_s": "s",
    "Damds.jobs": "count", "Damds.tasks": "count", "Damds.ms_per_job": "ms",
    "Damds.cg_count": "count", "damds_s": "s",
    "Collectives.reduce_s": "s", "Collectives.broadcast_s": "s",
    "Collectives.payload_mb": "MB", "allreduce_s": "s",
    "trace.overhead_s": "s", "trace.overhead_frac": "ratio",
}


def _pass_sum(p, key):
    return sum((op.get("counters") or {}).get(key, 0.0) for op in p["ops"])


def _med_over(passes, f):
    vals = [f(p) for p in passes]
    return median(vals) if vals else 0.0


def _op_med(passes, name, f):
    """Median over passes of f(op) for the op called `name`."""
    vals = [f(op) for p in passes for op in p["ops"]
            if op["op"] == name and not op.get("error")]
    return median(vals) if vals else 0.0


def _probe_med(record, prefix, key="wall_s"):
    """Sum over probed objects of the median over their repetitions."""
    by = {}
    for pr in record.get("probes", []):
        if pr["probe"].startswith(prefix):
            v = pr["wall_s"] if key == "wall_s" else pr["counters"].get(key, 0.0)
            by.setdefault(pr["probe"], []).append(v)
    return sum(median(v) for v in by.values())


def per_layer(record):
    """The per-layer metrics (name -> value) of a traced run: medians over
    its traced warm passes of per-pass totals, plus the direct layer
    probes and the run-level session figures."""
    tw = warm(record, traced=True)
    uw = warm(record, traced=False)
    passes = record["passes"]
    m = {}
    m["Tables.resolve_s"] = _probe_med(record, "Tables.resolve.")
    m["Tables.resolve_jobs"] = _probe_med(record, "Tables.resolve.", "sched.jobs")
    m["scan.input_mb"] = _med_over(tw, lambda p: _pass_sum(p, "scan.bytes") / 1e6)
    m["scan.records"] = _med_over(tw, lambda p: _pass_sum(p, "scan.records"))
    m["operators.construct_s"] = _med_over(tw, lambda p: _pass_sum(p, "span.construct.ms") / 1e3)
    m["operators.construct_jobs"] = _med_over(tw, lambda p: _pass_sum(p, "jobs_in.construct"))
    for mod in MODULES:
        m[f"{mod}.s"] = _med_over(tw, lambda p: sum(
            op["wall_s"] for op in p["ops"] if op["module"] == mod and not op.get("error")))
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = _med_over(tw, lambda p: _pass_sum(p, f"catalyst.{ph}_ms") / 1e3)
    for k in ("jobs", "stages", "tasks"):
        m[f"sched.{k}"] = _med_over(tw, lambda p: _pass_sum(p, f"sched.{k}"))
    m["sched.driver_gap_s"] = _med_over(tw, lambda p: sum(
        op["wall_s"] for op in p["ops"] if not op.get("error"))
        - _pass_sum(p, "sched.job_covered_ms") / 1e3)
    m["task.run_s"] = _med_over(tw, lambda p: _pass_sum(p, "task.run_ms") / 1e3)
    m["task.cpu_s"] = _med_over(tw, lambda p: _pass_sum(p, "task.cpu_ns") / 1e9)
    m["task.cpu_frac"] = m["task.cpu_s"] / m["task.run_s"] if m["task.run_s"] else 0.0
    m["task.gc_s"] = _med_over(tw, lambda p: _pass_sum(p, "task.gc_ms") / 1e3)
    m["task.deserialize_s"] = _med_over(tw, lambda p: _pass_sum(p, "task.deserialize_ms") / 1e3)
    m["shuffle.write_mb"] = _med_over(tw, lambda p: _pass_sum(p, "shuffle.write_bytes") / 1e6)
    m["shuffle.read_mb"] = _med_over(tw, lambda p: _pass_sum(p, "shuffle.read_bytes") / 1e6)
    m["shuffle.fetch_wait_s"] = _med_over(tw, lambda p: _pass_sum(p, "shuffle.fetch_wait_ms") / 1e3)
    m["spill.disk_mb"] = _med_over(tw, lambda p: _pass_sum(p, "spill.disk_bytes") / 1e6)

    m["cache.cold_minus_warm_s"] = passes[0]["wall_s"] - _med_over(tw, lambda p: p["wall_s"])
    m["cache.storage_mb"] = _med_over(tw, lambda p: p.get("storage_mb", 0.0))
    m["cache.warehouse_mb"] = record.get("warehouse_mb", 0.0)

    m["stream.batches"] = _med_over(tw, lambda p: _pass_sum(p, "stream.batches"))
    m["stream.input_rows"] = _med_over(tw, lambda p: _pass_sum(p, "stream.input_rows"))
    for ph in STREAM_PHASES:
        name = "stream.trigger_s" if ph == "triggerExecution" else f"stream.{ph}_s"
        m[name] = _med_over(tw, lambda p: _pass_sum(p, f"stream.{ph}_ms") / 1e3)
    m["stream.fixed_s"] = _med_over(tw, lambda p: sum(
        op["wall_s"] - op["counters"].get("stream.triggerExecution_ms", 0.0) / 1e3
        for op in p["ops"] if not op.get("error") and op["counters"].get("stream.batches")))
    m["stream.state_rows"] = _med_over(tw, lambda p: _pass_sum(p, "stream.state_rows"))
    m["stream.state_mb"] = _med_over(tw, lambda p: _pass_sum(p, "stream.state_bytes") / 1e6)

    tables = [p["temp_tables"] for p in passes if "temp_tables" in p]
    m["session.temp_tables_growth"] = \
        (tables[-1] - tables[0]) / (len(tables) - 1) if len(tables) > 1 else 0.0
    m["session.retained_heap_mb"] = median([p["heap_mb"] for p in passes if "heap_mb" in p])

    # iterative layers; 0 on the other workloads
    km = _op_med(tw, "kmeans", lambda op: op["wall_s"])
    m["KMeans.step_s"] = _op_med(tw, "kmeans", lambda op: op["counters"].get(
        "span.KMeans.stepBlock.ms", 0.0) / 1e3 / max(1.0, op["counters"].get("span.KMeans.stepBlock.n", 1.0)))
    m["KMeans.jobs_per_step"] = _op_med(tw, "kmeans", lambda op: op["counters"].get(
        "sched.jobs", 0.0) / max(1.0, op["counters"].get("span.KMeans.stepBlock.n", 1.0)))
    sh = record.get("shape") or {}
    m["KMeans.dist_evals_per_s"] = \
        sh["kmeans_points"] * sh["kmeans_k"] * sh["kmeans_steps"] / km if km else 0.0
    m["Gemm.multiply_s"] = _op_med(tw, "gemm", lambda op: op["counters"].get("span.Gemm.multiply.ms", 0.0) / 1e3)
    m["Gemm.assemble_s"] = _op_med(tw, "gemm", lambda op: op["counters"].get("span.Gemm.assemble.ms", 0.0) / 1e3)
    m["Damds.statistics_s"] = _probe_med(record, "Damds.statistics")
    m["Damds.run_s"] = _op_med(tw, "damds", lambda op: op["wall_s"])
    m["Damds.gathered_run_s"] = _op_med(tw, "damds_gathered", lambda op: op["wall_s"])
    m["Damds.jobs"] = _op_med(tw, "damds", lambda op: op["counters"].get("sched.jobs", 0.0))
    m["Damds.tasks"] = _op_med(tw, "damds", lambda op: op["counters"].get("sched.tasks", 0.0))
    m["Damds.ms_per_job"] = 1e3 * m["Damds.run_s"] / m["Damds.jobs"] if m["Damds.jobs"] else 0.0
    cg = [op["check"]["cg_count"] for p in passes for op in p["ops"]
          if op["op"] == "damds" and op.get("check")]
    m["Damds.cg_count"] = cg[0] if cg else 0
    m["Collectives.reduce_s"] = _probe_med(record, "Collectives.reduce")
    ar = _op_med(tw, "allreduce", lambda op: op["wall_s"])
    m["Collectives.broadcast_s"] = ar - m["Collectives.reduce_s"] if ar else 0.0
    m["Collectives.payload_mb"] = \
        sh["allreduce_payloads"] * sh["allreduce_doubles"] * 8 / 1e6 if ar else 0.0
    it = iterative_metrics(record)
    for k in ("kmeans_s", "gemm_gflops", "damds_s", "allreduce_s"):
        m[k] = it[k][0] if k in it else 0.0

    tm = _med_over(tw, lambda p: p["wall_s"])
    um = _med_over(uw, lambda p: p["wall_s"])
    m["trace.overhead_s"] = tm - um
    m["trace.overhead_frac"] = (tm - um) / um if um else 0.0
    return {k: (float(m[k]), PER_LAYER[k]) for k in PER_LAYER}


def summarize(record, expected):
    attempted, failed, names = accounting(record, expected)
    if record["trace"]:
        metrics, extra = per_layer(record), {}
    else:
        metrics, extra = end_to_end(record)
    contract = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return {"contract": contract, "failed_ops": names, "extra": extra,
            "fail_frac": failed / attempted}


def report_lines(record, result):
    """Human-readable lines: context, then every metric by name and unit."""
    c = record["context"]
    yield (f"# perfbench {record['workload']} seed={record['seed']} trace={int(record['trace'])}"
           f" nproc={c['nproc']} master={c['master']} spark={c['spark']} jvm={c['jvm']}")
    yield (f"# calib_before_s={c['calib_before_s']:.4f} calib_after_s={c['calib_after_s']:.4f}"
           f" inputs_s={record['inputs_s']:.3f} passes={len(record['passes'])}")
    rows = {k: (m["value"], m["unit"]) for k, m in result["contract"]["metrics"].items()}
    rows["fail_frac"] = (result["fail_frac"], "ratio")
    if not record["trace"]:
        rows.update(iterative_metrics(record))
    for k, (v, u) in rows.items():
        yield f"{k} = {v:.6g} {u}"
    x = result["extra"]
    if x:
        yield (f"op_tail_s = {x['op_tail_s']:.6g} s (p{x['op_tail_pct']:.3g} of"
               f" {x['op_samples']} samples; not gated)")
    for n in result["failed_ops"]:
        yield f"# FAILED {n}"
