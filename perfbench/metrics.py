"""Metric definitions: from one run artifact of the benchmark JVM to the
named end-to-end and per-layer metrics.

End-to-end metrics are reported by both workloads, each with the meaning
below (a "pass" is one capture analysed plus one sweep of the query
subset, or one round of PMT bumps touching every live program once; the
run's first `warmup_passes` passes warm the JIT and count in none of the
warm figures):

  setup_s       JVM launch until ready (session up and tables warm, or
                the first complete live document served)
  warm_pass_s   median wall time of the passes after the warm-up
  warm_cpu_s    median process CPU of the same passes (live: mean CPU
                per round window at the fixed offered load)
  op_p50_ms     median latency of one operation. live_psi: the time
                from a bump's due time until a GET first shows it, over
                the 176 bumps of the warm rounds. batch_sweep: each query
                or TsPipeline call's median over the warm passes, then
                the geometric mean over the 14 calls (the calls differ
                in cost by 20x, so one median over all of them would
                fall between clusters of calls and jump between them)
  op_tail_ms    live_psi: the highest percentile of the bump latencies
                that has at least ten samples beyond it, the 11th-slowest
                (p93 of 176). batch_sweep, whose three warm passes give
                too few samples of a call for a percentile: each call's
                slowest warm pass, geometric mean over the calls
  peak_rss_mb   the engine JVM's peak resident set (VmHWM)
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

END_TO_END = {
    "setup_s": "s", "warm_pass_s": "s",
    "warm_cpu_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms",
    "peak_rss_mb": "MB"}

FAMILIES = ["a", "j", "w", "s", "f", "sc", "t", "e", "m"]
TS_CALLS = ["rejects", "pid_stats", "cc_audit", "pes_stats",
            "programs_summary"]
KERNELS = {
    "kernel.ts_decode_ns": "ns", "kernel.section_assemble_ns": "ns",
    "kernel.psi_decode_ns": "ns", "kernel.crc32_ns_per_kb": "ns/KiB",
    "kernel.vec_dot_ns": "ns", "kernel.simhash_ns": "ns",
    "kernel.hyperplane_sig_ns": "ns", "kernel.cdc_ns_per_kb": "ns/KiB"}

PER_LAYER = dict([
    ("pass.first_s", "s"),
    ("udp.sent_pkts", "count"), ("udp.ingested_pkts", "count"),
    ("udp.backlog_pkts_p90", "count"),
    ("stream.batches", "count"), ("stream.trigger_ms_p50", "ms"),
    ("stream.trigger_ms_p90", "ms"), ("stream.plan_ms_p50", "ms"),
    ("stream.offsets_ms_p50", "ms"), ("stream.add_batch_ms_p50", "ms"),
    ("stream.add_batch_ms_p90", "ms"), ("stream.commit_ms_p50", "ms"),
    ("state.rows_total", "count"), ("state.memory_mb", "MB"),
    ("state.commit_ms_p50", "ms"), ("state.store_instances", "count"),
    ("http.gets", "count"), ("http.get_ms_p50", "ms"),
    ("http.get_ms_p90", "ms"), ("http.rebuild_get_ms_p50", "ms")]
    + [(f"ts.{c}_s", "s") for c in TS_CALLS]
    + list(KERNELS.items())
    + [(f"ops.{f}.warm_s", "s") for f in FAMILIES]
    + [("driver.analysis_ms", "ms"), ("driver.optimization_ms", "ms"),
       ("driver.planning_ms", "ms"), ("driver.codegen_ms", "ms"),
       ("driver.jobs", "count"), ("driver.non_task_cpu_s", "s"),
       ("exec.stages", "count"), ("exec.tasks", "count"),
       ("exec.task_cpu_s", "s"), ("exec.task_run_s", "s"),
       ("exec.gc_s", "s"), ("exec.shuffle_read_mb", "MB"),
       ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"),
       ("exec.peak_exec_mem_mb", "MB"), ("cache.storage_mb", "MB"),
       ("cache.cached_rdds", "count"), ("engine.cpu_cores", "cores"),
       ("trace.overhead_warm_pass_s", "s"),
       ("trace.overhead_op_p50_ms", "ms")])


def percentile(values, q, min_beyond=10):
    """Nearest-rank q-quantile of `values`, or None when fewer than
    `min_beyond` samples lie above it (a p90 needs 100 samples)."""
    vals = sorted(v for v in values if v is not None and v == v)
    n = len(vals)
    if n == 0 or n * (1 - q) < min_beyond - 1e-9:
        return None
    return vals[min(n, max(1, math.ceil(q * n - 1e-9))) - 1]


def p50(values):
    """The median (the mean of the two middle samples when their number
    is even), or None when fewer than ten samples lie above it."""
    if percentile(values, 0.5) is None:
        return None
    return _median(values)


def tail(values, beyond=10):
    """The sample with exactly `beyond` samples above it, or None."""
    vals = sorted(v for v in values if v is not None and v == v)
    return vals[-beyond - 1] if len(vals) > beyond else None


def loose_percentile(values, q):
    """For per-layer figures: the rule when it can be met, else the
    nearest-rank quantile of what there is (0 when there is nothing)."""
    p = percentile(values, q)
    if p is not None:
        return p
    vals = sorted(v for v in values if v is not None and v == v)
    if not vals:
        return 0.0
    return vals[min(len(vals), max(1, math.ceil(q * len(vals) - 1e-9))) - 1]


def _median(xs):
    xs = [x for x in xs if x is not None and x == x]
    return statistics.median(xs) if xs else None


def _warm(run, traced=False):
    return [p for p in run.get("passes", [])
            if p["pass"] >= run["warmup_passes"]
            and p.get("traced", False) == traced]


def _warm_ops(run, traced=False):
    return [o for o in run.get("ops", [])
            if o["pass"] >= run["warmup_passes"]
            and o.get("traced", False) == traced]


def _geomean(xs):
    xs = [x for x in xs if x is not None and x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else None


def _op_latency(run, traced=False):
    """(op_p50_ms, op_tail_ms) of the warm passes; see the module doc."""
    ops = _warm_ops(run, traced)
    if run["workload"] == "live_psi":
        lat = [o["latency_ms"] for o in ops
               if o.get("latency_ms") is not None]
        return p50(lat), tail(lat)
    by_call = {}
    for o in ops:
        if o.get("ok"):
            by_call.setdefault(o["name"], []).append(o["wall_s"] * 1000)
    return (_geomean(_median(v) for v in by_call.values()),
            _geomean(max(v) for v in by_call.values()))


def _warm_cpu(run, warm):
    if run["workload"] == "live_psi":
        # rounds are fixed 1.6 s windows that cut triggers at random
        # points, so the mean over the whole warm window is the steadier
        # reading of CPU at the fixed offered load
        return (sum(p["cpu_s"] for p in warm) / len(warm)) if warm else None
    return _median(p["cpu_s"] for p in warm)


def end_to_end(run, traced=False):
    """The end-to-end metrics over the untraced (or the traced) passes."""
    warm = _warm(run, traced)
    op_p50, op_tail = _op_latency(run, traced)
    return {
        "setup_s": run.get("setup_s"),
        "warm_pass_s": _median(p["wall_s"] for p in warm),
        "warm_cpu_s": _warm_cpu(run, warm),
        "op_p50_ms": op_p50,
        "op_tail_ms": op_tail,
        "peak_rss_mb": run.get("peak_rss_mb")}


def per_layer(run):
    """Per-layer metrics of a traced run, from its traced passes; the
    tracing overhead compares them with the untraced passes, which
    alternate with them in the same JVM. Metrics of layers the workload
    does not exercise read 0."""
    out = {k: 0.0 for k in PER_LAYER}
    passes = run.get("passes", [])
    # the cold pass: one sample per run, too unsteady for an end-to-end
    # bound (a single live round is bimodal on the trigger period)
    out["pass.first_s"] = (passes[0]["wall_s"] or 0.0) if passes else 0.0
    warm = _warm(run, traced=True)
    live = run["workload"] == "live_psi"
    if live:
        rounds = max(1, run.get("live", {}).get("traced_rounds", 1))
        c = {k: v / rounds if isinstance(v, (int, float)) else v
             for k, v in run.get("counters", {}).items()}
        per_pass = [c] if c else []
    else:
        per_pass = warm

    def med(key):
        return _median(p.get(key, 0) for p in per_pass) or 0.0

    for k in ("jobs", "analysis_ms", "optimization_ms", "planning_ms",
              "codegen_ms"):
        out[f"driver.{k}"] = med(k)
    for k in ("stages", "tasks", "task_cpu_s", "task_run_s", "gc_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
              "peak_exec_mem_mb"):
        out[f"exec.{k}"] = med(k)
    if live:
        out["driver.non_task_cpu_s"] = max(0.0, (_median(
            p["cpu_s"] for p in warm) or 0.0) - out["exec.task_cpu_s"])
        out["engine.cpu_cores"] = run.get("live", {}).get("cpu_cores", 0.0)
        cache = run.get("cache", {})
        out["cache.storage_mb"] = cache.get("storage_mb", 0.0)
        out["cache.cached_rdds"] = cache.get("cached_rdds", 0)
    else:
        out["driver.non_task_cpu_s"] = _median(
            p["cpu_s"] - p.get("task_cpu_s", 0) for p in warm) or 0.0
        out["engine.cpu_cores"] = _median(
            p["cpu_s"] / p["wall_s"] for p in warm if p["wall_s"] > 0) or 0.0
        if warm:
            out["cache.storage_mb"] = warm[-1].get("cache_storage_mb", 0.0)
            out["cache.cached_rdds"] = warm[-1].get("cache_cached_rdds", 0)
    for k, v in run.get("kernels", {}).items():
        out[k] = v
    ops = _warm_ops(run, traced=True)
    for call in TS_CALLS:
        xs = [o["wall_s"] for o in ops if o["name"] == f"ts.{call}"]
        out[f"ts.{call}_s"] = _median(xs) or 0.0
    if run["workload"] == "batch_sweep":
        by_pass = {}
        for o in ops:
            if o["name"].startswith("ts."):
                continue
            f = re.match(r"[a-z]+", o["name"]).group(0)
            key = (f, o["pass"])
            by_pass[key] = by_pass.get(key, 0.0) + o["wall_s"]
        for f in FAMILIES:
            xs = [v for (g, _), v in by_pass.items() if g == f]
            out[f"ops.{f}.warm_s"] = _median(xs) or 0.0
    if live:
        _live_layers(run, out)
    e_run = end_to_end(run, traced=True)
    e_base = end_to_end(run)
    for k, name in (("warm_pass_s", "trace.overhead_warm_pass_s"),
                    ("op_p50_ms", "trace.overhead_op_p50_ms")):
        if e_run[k] is not None and e_base[k] is not None:
            out[name] = e_run[k] - e_base[k]
    return out


def _live_layers(run, out):
    gen = run.get("generator", {})
    out["udp.sent_pkts"] = gen.get("sent_pkts", 0)
    # backlog at a trigger's start: sent so far minus what earlier
    # triggers took (the generator starts after the stream, so both
    # count from zero)
    ingested = 0
    backlog = []
    for p in run.get("progress", []):
        if gen and p["in_window"]:
            sent = min(gen["sent_pkts"], gen["pps"] *
                       (p["ts_ms"] / 1000.0 - gen["start_epoch_s"]))
            backlog.append(max(0.0, sent - ingested))
        ingested += p["input_rows"]
    out["udp.ingested_pkts"] = ingested
    out["udp.backlog_pkts_p90"] = loose_percentile(backlog, 0.9)
    prog = [p for p in run.get("progress", []) if p["in_window"]]

    def dur(key):
        return [p["duration_ms"].get(key, 0) for p in prog]

    out["stream.batches"] = len(prog)
    out["stream.trigger_ms_p50"] = loose_percentile(dur("triggerExecution"),
                                                    0.5)
    out["stream.trigger_ms_p90"] = loose_percentile(dur("triggerExecution"),
                                                    0.9)
    out["stream.plan_ms_p50"] = loose_percentile(dur("queryPlanning"), 0.5)
    out["stream.offsets_ms_p50"] = loose_percentile(dur("latestOffset"), 0.5)
    out["stream.add_batch_ms_p50"] = loose_percentile(dur("addBatch"), 0.5)
    out["stream.add_batch_ms_p90"] = loose_percentile(dur("addBatch"), 0.9)
    out["stream.commit_ms_p50"] = loose_percentile(dur("commitOffsets"), 0.5)
    if prog:
        last = prog[-1]
        out["state.rows_total"] = last["state_rows"]
        out["state.memory_mb"] = last["state_memory_bytes"] / 1048576.0
        out["state.store_instances"] = last["state_instances"]
        out["state.commit_ms_p50"] = loose_percentile(
            [p["state_commit_ms"] for p in prog], 0.5)
    gets = [g for g in run.get("gets", []) if g.get("traced", False)]
    out["http.gets"] = len(gets)
    out["http.get_ms_p50"] = loose_percentile([g["ms"] for g in gets], 0.5)
    out["http.get_ms_p90"] = loose_percentile([g["ms"] for g in gets], 0.9)
    out["http.rebuild_get_ms_p50"] = loose_percentile(
        [g["ms"] for g in gets if g["changed"]], 0.5)


def result(run, values):
    """The one-line result: every metric must be measured, every check
    must hold, and every set-up step must have succeeded."""
    attempted = run.get("attempted", 0)
    failed = run.get("failed", 0)
    setup_failed = run.get("setup_failed", 0)
    checks = len(run.get("checks", []))
    units = END_TO_END if "setup_s" in values else PER_LAYER
    missing = [k for k in units if values.get(k) is None]
    correct = (failed == 0 and setup_failed == 0 and checks == 0
               and not missing and attempted > 0)
    return {
        "correct": correct,
        "attempted": max(1, attempted + setup_failed),
        "failed": failed + setup_failed,
        "metrics": {k: {"value": float(values[k]) if values.get(k) is not None
                        else None, "unit": units[k]} for k in units}}
