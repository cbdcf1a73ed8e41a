"""Metric definitions: turn the JVM's raw record into end-to-end and
per-layer metrics. Pure functions of the record, so the rules are unit
tested (test_perfbench.py)."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
FAILED = math.inf  # a failed operation misses every latency limit


def tail_quantile(n, want=0.9, beyond=10):
    """The reported tail percentile: `want`, lowered to the highest one
    that still has at least `beyond` samples above it, never below the
    median."""
    if n <= 0:
        return 0.5
    return max(0.5, min(want, (n - beyond) / n))


def quantile(samples, q):
    """Nearest-rank quantile; failed samples (inf) sort last."""
    s = sorted(samples)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def latency(samples, prefix):
    """{prefix_p50_s, prefix_p90_s} plus the sample count and the
    percentile actually reported as the p90."""
    n = len(samples)
    if n == 0:
        return {}
    q = tail_quantile(n)
    return {f"{prefix}_p50_s": quantile(samples, 0.5),
            f"{prefix}_p90_s": quantile(samples, q),
            f"{prefix}_n": n, f"{prefix}_p90_is_q": round(q, 4)}


def finite(x):
    return x if math.isfinite(x) else 1e9


def spans_by_pass(rec, kind_pred, passes):
    return [s for s in rec["spans"]
            if s["pass"] in passes and kind_pred(s["kind"])]


def dur(s):
    return s["end"] - s["start"]


def op_samples(spans):
    return [dur(s) if s["ok"] else FAILED for s in spans]


def is_op(kind):
    return kind.startswith(("op:", "apply:", "read:", "vacuum", "replay:"))


def typical_pass(ops, cost=None):
    """One steady pass: the sum over the pass's operations of each one's
    median steady cost (wall seconds by default), robust to one
    disturbed pass."""
    cost = cost or dur
    by = {}
    for s in ops:
        by.setdefault(s["name"], []).append(cost(s) if s["ok"] else FAILED)
    return sum(statistics.median(v) for v in by.values())


def cpu(s):
    return s["counters"].get("cpu_s", 0.0)


def end_to_end(rec, gen_s, workload):
    """The end-to-end metrics of an untraced run, plus the full record's
    workload-specific extras and diagnostics."""
    passes = [s for s in rec["spans"] if s["kind"] == "pass"]
    cold = [dur(s) for s in passes if s["pass"] == 0]
    steady = [s for s in passes if s["pass"] >= 2]
    steady_ids = {s["pass"] for s in steady}
    ops = spans_by_pass(rec, is_op, steady_ids)
    # every pass counts towards attempted/failed, traced or not
    all_ops = [s for s in rec["spans"] if s["pass"] >= 0 and is_op(s["kind"])]
    setups = [gen_s[i] + r["load_s"] + r["warmup_s"]
              for i, r in enumerate(rec["setups"])]
    m = {
        "setup_s": rec["session_start_s"] + statistics.median(setups),
        "pass_s": typical_pass(ops),
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    extra = latency(op_samples(ops), "op")
    extra["cold_pass_s"] = cold[0] if cold else 0.0
    extra["pass_cpu_s"] = typical_pass(ops, cpu)
    extra["steady_passes"] = len(steady)
    extra["failed_frac"] = sum(not s["ok"] for s in all_ops) / max(1, len(all_ops))
    if workload == "table_maintain":
        extra.update(latency(op_samples(
            [s for s in ops if s["kind"].startswith("apply:")]), "apply"))
        extra.update(latency(op_samples(
            [s for s in ops if s["kind"].startswith("read:")]), "read"))
        c = rec["checks"]
        extra["stored_bytes_per_live_byte"] = c["stored_bytes"] / max(1, c["live_bytes"])
    probes = rec["cpu_probe_s"]
    extra["diag.cpu_probe_slowdown"] = max(probes) / min(probes)
    extra["diag.steal_frac"] = rec["steal_frac"]
    return ({k: finite(v) for k, v in m.items()},
            {k: finite(v) if isinstance(v, float) else v for k, v in extra.items()},
            len(all_ops), sum(not s["ok"] for s in all_ops))


COUNTERS = ["jobs", "stages", "tasks", "failed_tasks", "task_cpu_s",
            "task_run_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
            "shuffle_fetch_wait_s", "spill_bytes"]
FAMILIES = ["text", "dedup", "ann", "vec", "pack"]


def per_layer(rec, gen_s):
    """Per-layer metrics of a traced run, per traced steady pass."""
    spans = rec["spans"]
    by_id = {s["id"]: s for s in spans}
    traced = sorted(s["pass"] for s in spans if s["kind"] == "pass" and s["pass"] >= 2)
    untraced = [dur(s) for s in spans if s["kind"] == "pass_untraced"]
    n = max(1, len(traced))
    tp = set(traced)
    inp = [s for s in spans if s["pass"] in tp]

    def total(pred):
        return sum(dur(s) for s in inp if pred(s)) / n

    def count(key):
        return sum(s["counters"].get(key, 0.0) for s in inp) / n

    setups = rec["setups"]
    med = statistics.median
    pass_s = med(dur(s) for s in spans if s["kind"] == "pass" and s["pass"] >= 2) \
        if traced else 0.0
    m = {
        "session.start_s": rec["session_start_s"],
        "tables.generate_s": med(gen_s),
        "tables.load_s": med(r["load_s"] for r in setups),
        "tables.scan_rows": count("scan_rows"),
        "tables.scan_bytes": count("scan_bytes"),
        "queries.build_s": total(lambda s: s["kind"] == "build"),
        "plan.s": total(lambda s: s["kind"] == "plan"),
        "exec.s": total(lambda s: s["kind"] == "exec"),
        "exec.peak_task_mem_bytes": max(
            [s["counters"].get("peak_task_mem_bytes", 0.0) for s in inp] or [0.0]),
    }
    for c in COUNTERS:
        m[f"exec.{c}"] = count(c)
    # share of the pass's core-time in which tasks ran
    m["exec.core_busy_frac"] = m["exec.task_run_s"] / max(1e-9, pass_s * rec["cores"])
    for f in FAMILIES:
        m[f"family.{f}.s"] = total(lambda s, f=f: s["kind"] == f"op:{f}")
    ann = lambda s: by_id.get(s["parent"], {}).get("kind") == "op:ann"
    m["operators.ann.build_s"] = total(lambda s: s["kind"] == "build" and ann(s))
    m["operators.ann.probe_s"] = total(lambda s: s["kind"] in ("plan", "exec") and ann(s))
    m["operators.neardup.pairs"] = rec.get("neardup_pairs", 0)
    m["streaming.upsert_apply_s"] = total(lambda s: s["kind"] == "apply:upsert")
    m["streaming.cdc_apply_s"] = total(lambda s: s["kind"] == "apply:cdc")
    m["streaming.vacuum_s"] = total(lambda s: s["kind"] == "vacuum")
    m["streaming.bytes_written"] = count("fs_bytes_written")
    m["streaming.files_written"] = count("fs_files_written")
    m["streaming.versions_retained"] = count("versions_retained")
    m["streaming.replays_skipped"] = count("replay_skipped")
    m["streaming.read_current_s"] = total(lambda s: s["kind"] == "read:current")
    m["streaming.read_version_s"] = total(lambda s: s["kind"] == "read:version")
    m["streaming.deltas_folded"] = count("deltas_folded")
    m["trace.overhead_frac"] = (pass_s / med(untraced) - 1) if untraced and traced else 0.0
    return m


def self_times(spans):
    """Each span's duration minus the part its children cover."""
    child = {}
    for s in spans:
        child.setdefault(s["parent"], []).append(s)
    return {s["id"]: dur(s) - sum(dur(c) for c in child.get(s["id"], []))
            for s in spans}
