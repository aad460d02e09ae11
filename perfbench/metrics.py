"""Reduce one run's raw samples (written by perfbench.Main) to metrics.

Pure functions only, so the arithmetic is unit-tested without a JVM:
percentile choice, MB/s and ratios with their bases, span self time,
and failure accounting.

Conventions: MB = 1e6 bytes, GB = 1e9 bytes. Every timing is taken
from operations whose output checked correct; a failed or mis-checked
operation adds no timing sample and counts in `failed`.
"""
import math
import statistics

# (name, unit, better) -- the end-to-end metrics, printed by every
# untraced run of every workload
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("write_mbps", "MB/s", "higher"),
    ("scan_mbps", "MB/s", "higher"),
    ("slice_p50_ms", "ms", "lower"),
    ("slice_p80_ms", "ms", "lower"),
    ("stored_ratio", "B/B", "lower"),
    ("peak_live_heap_mb", "MB", "lower"),
]

# (name, unit, better, end-to-end metric it should move) -- printed by
# every traced run of every workload
PER_LAYER = [
    ("Hdf5Format.encode_mbps", "MB/s", "higher", "write_mbps"),
    ("Hdf5Format.alloc_bytes_per_chunk", "B/chunk", "lower", "write_mbps"),
    ("Hdf5Format.decode_mbps", "MB/s", "higher", "scan_mbps"),
    ("Hdf5Format.readMeta_ms", "ms", "lower", "slice_p50_ms"),
    ("NcFormat.encode_mbps", "MB/s", "higher", "write_mbps"),
    ("NcFormat.alloc_bytes_per_chunk", "B/chunk", "lower", "write_mbps"),
    ("NcFormat.decode_mbps", "MB/s", "higher", "scan_mbps"),
    ("NcFormat.readMeta_ms", "ms", "lower", "slice_p50_ms"),
    ("dsv2.write_cpu_s_per_gb", "s/GB", "lower", "write_mbps"),
    ("dsv2.scan_cpu_s_per_gb", "s/GB", "lower", "scan_mbps"),
    ("dsv2.write_rowpath_s_per_gb", "s/GB", "lower", "write_mbps"),
    ("dsv2.scan_rowpath_s_per_gb", "s/GB", "lower", "scan_mbps"),
    ("dsv2.scan_partitions", "count", "lower", "scan_mbps"),
    ("dsv2.files_written", "count", "lower", "scan_mbps"),
    ("dsv2.write_amp", "B/B", "lower", "write_mbps"),
    ("dsv2.scan_read_amp", "B/B", "lower", "scan_mbps"),
    ("dsv2.slice_read_amp", "B/B", "lower", "slice_p50_ms"),
    ("catalyst.analysis_ms", "ms", "lower", "slice_p50_ms"),
    ("catalyst.optimization_ms", "ms", "lower", "slice_p50_ms"),
    ("catalyst.planning_ms", "ms", "lower", "slice_p50_ms"),
    ("codegen.compile_ms", "ms", "lower", "setup_s"),
    ("spark.jobs_per_op", "count", "lower", "slice_p50_ms"),
    ("spark.stages_per_op", "count", "lower", "slice_p50_ms"),
    ("spark.tasks_per_op", "count", "lower", "slice_p50_ms"),
    ("spark.sched_delay_ms", "ms", "lower", "slice_p50_ms"),
    ("spark.task_cpu_s", "s", "lower", "write_mbps"),
    ("spark.gc_s", "s", "lower", "write_mbps"),
    ("spark.cpu_util", "frac", "higher", "write_mbps"),
    ("spark.shuffle_bytes", "B", "lower", "scan_mbps"),
    ("spark.spill_bytes", "B", "lower", "write_mbps"),
    ("driver.residual_ms", "ms", "lower", "slice_p50_ms"),
    ("jvm.gc_pauses", "count", "lower", "peak_live_heap_mb"),
    ("jvm.alloc_mb_per_op", "MB", "lower", "peak_live_heap_mb"),
    ("ref.parquet_write_mbps", "MB/s", "higher", None),
    ("ref.parquet_scan_mbps", "MB/s", "higher", None),
    ("ref.write_vs_parquet", "B/B", "higher", "write_mbps"),
    ("ref.scan_vs_parquet", "B/B", "higher", "scan_mbps"),
    ("trace.overhead_frac", "frac", "lower", None),
]

UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER}

# percentiles a tail may be reported at, highest last
TAIL_LADDER = (50, 75, 80, 90, 95, 99)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_pct(n):
    """Highest ladder percentile with at least MIN_BEYOND samples
    beyond it, or None when even the median lacks that support."""
    ok = [p for p in TAIL_LADDER if beyond(n, p) >= MIN_BEYOND]
    return ok[-1] if ok else None


def timing(values):
    """Median, supported tail percentile and sample count of a timing."""
    n = len(values)
    out = {"n": n, "median": statistics.median(values) if values else None}
    p = tail_pct(n)
    out["tail_pct"] = p
    out["tail"] = percentile(values, p) if p else None
    return out


def mbps(nbytes, seconds):
    """Megabytes (1e6 B) per second."""
    return nbytes / seconds / 1e6


def s_per_gb(seconds, nbytes):
    """Seconds per gigabyte (1e9 B)."""
    return seconds / (nbytes / 1e9)


def ratio(num, den):
    return num / den if den else None


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans):
    """span id -> duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        cov = [(max(a, c["start_ms"]), min(b, c["end_ms"])) for c in kids.get(s["id"], [])]
        out[s["id"]] = (b - a) - union_length(cov)
    return out


def self_time_by_layer(spans):
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def accounting(raw):
    """(attempted, failed, first errors): every operation and every
    direct codec round trip counts once."""
    items = list(raw.get("ops", [])) + list(raw.get("codec", []))
    failed = [o for o in items if not o.get("ok")]
    return len(items), len(failed), [o.get("err") for o in failed[:5]]


def _ok(raw, kind, phase):
    return [o for o in raw["ops"] if o["kind"] == kind and o["phase"] == phase and o["ok"]]


def _rates(ops):
    return [mbps(o["bytes"], o["wall_s"]) for o in ops]


def end_to_end(raw):
    """The end-to-end metrics of an untraced run, plus per-timing
    details (median, tail percentile, sample count)."""
    w, s, sl = (_ok(raw, k, "timed") for k in ("write", "scan", "slice"))
    slice_ms = [o["wall_s"] * 1e3 for o in sl]
    details = {
        "setup_s": timing(raw["setup_s"]),
        "write_s": timing([o["wall_s"] for o in w]),
        "scan_s": timing([o["wall_s"] for o in s]),
        "slice_ms": timing(slice_ms),
    }
    m = {}
    m["setup_s"] = statistics.median(raw["setup_s"])
    if w:
        m["write_mbps"] = statistics.median(_rates(w))
        m["stored_ratio"] = statistics.median([o["stored"] / o["bytes"] for o in w])
    if s:
        m["scan_mbps"] = statistics.median(_rates(s))
    if slice_ms:
        m["slice_p50_ms"] = statistics.median(slice_ms)
        m["slice_p80_ms"] = percentile(slice_ms, 80)
        details["slice_p80_support"] = beyond(len(slice_ms), 80)
    if raw.get("heap_live_bytes"):
        m["peak_live_heap_mb"] = max(raw["heap_live_bytes"]) / 1e6
        details["heap_live_mb"] = timing([x / 1e6 for x in raw["heap_live_bytes"]])
    return m, details


def _codec(raw, layer):
    for c in raw.get("codec", []):
        if c.get("layer") == layer and c.get("ok"):
            return c
    return None


def per_layer(raw, spans, own_codec):
    """Per-layer metrics of a traced run. `own_codec` is the codec the
    workload's format goes through (its CPU is subtracted from the DSv2
    CPU to leave the row path)."""
    m = {}
    for layer in ("Hdf5Format", "NcFormat"):
        c = _codec(raw, layer)
        if c:
            m[layer + ".encode_mbps"] = mbps(c["user_bytes"], c["encode_s"])
            m[layer + ".decode_mbps"] = mbps(c["user_bytes"], c["decode_s"])
            m[layer + ".alloc_bytes_per_chunk"] = c["alloc_bytes"] / c["chunks"]
            m[layer + ".readMeta_ms"] = statistics.median(c["read_meta_s"]) * 1e3

    w, s, sl = (_ok(raw, k, "traced") for k in ("write", "scan", "slice"))
    traced = w + s + sl

    def cpu_s(ops):
        return sum(j["cpu_ns"] for o in ops for j in o["jobs"]) / 1e9

    own = _codec(raw, own_codec)
    if w:
        wb = sum(o["bytes"] for o in w)
        m["dsv2.write_cpu_s_per_gb"] = s_per_gb(cpu_s(w), wb)
        if own:
            m["dsv2.write_rowpath_s_per_gb"] = m["dsv2.write_cpu_s_per_gb"] - s_per_gb(
                own["encode_s"], own["user_bytes"])
        m["dsv2.files_written"] = statistics.median([o["files"] for o in w])
        m["dsv2.write_amp"] = ratio(sum(o["wchar"] for o in w), sum(o["stored"] for o in w))
    if s:
        sb = sum(o["bytes"] for o in s)
        m["dsv2.scan_cpu_s_per_gb"] = s_per_gb(cpu_s(s), sb)
        if own:
            m["dsv2.scan_rowpath_s_per_gb"] = m["dsv2.scan_cpu_s_per_gb"] - s_per_gb(
                own["decode_s"], own["user_bytes"])
        m["dsv2.scan_partitions"] = statistics.median(
            [max([j["max_stage_tasks"] for j in o["jobs"]] or [0]) for o in s])
        m["dsv2.scan_read_amp"] = ratio(sum(o["rchar"] for o in s), sum(o["stored"] for o in s))
    if sl:
        m["dsv2.slice_read_amp"] = ratio(sum(o["rchar"] for o in sl),
                                         sum(o["covering_stored"] for o in sl))
        for ph in ("analysis", "optimization", "planning"):
            m["catalyst.%s_ms" % ph] = statistics.mean(
                [sum(p["ms"] for p in o["phases"] if p["name"] == ph) for o in sl])
        roots = {sp["attrs"].get("seq"): sp["id"] for sp in spans
                 if sp["layer"] == "op" and sp["name"] == "slice"}
        st = self_times(spans)
        res = [st[roots[o["seq"]]] for o in sl if o["seq"] in roots]
        if res:
            m["driver.residual_ms"] = statistics.median(res)
    if traced:
        n = len(traced)
        jobs = [j for o in traced for j in o["jobs"]]
        rounds = max(1, len({o["round"] for o in traced}))
        m["spark.jobs_per_op"] = len(jobs) / n
        m["spark.stages_per_op"] = sum(j["stages"] for j in jobs) / n
        m["spark.tasks_per_op"] = sum(j["tasks"] for j in jobs) / n
        delays = [j["sched_delay_ms"] for j in jobs if j["sched_delay_ms"] >= 0]
        if delays:
            m["spark.sched_delay_ms"] = statistics.mean(delays)
        m["spark.task_cpu_s"] = cpu_s(traced) / rounds
        m["spark.gc_s"] = sum(j["gc_ms"] for j in jobs) / 1e3 / rounds
        m["spark.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in jobs) / rounds
        m["spark.spill_bytes"] = sum(j["spill_bytes"] for j in jobs) / rounds
        heavy = w + s
        if heavy:
            m["spark.cpu_util"] = cpu_s(heavy) / (
                sum(o["wall_s"] for o in heavy) * raw["env"]["cores"])
        m["jvm.gc_pauses"] = sum(o["gc_count"] for o in traced) / rounds
        m["jvm.alloc_mb_per_op"] = sum(o["alloc_bytes"] for o in traced) / n / 1e6

    if "compile_count" in raw:
        m["codegen.compile_ms"] = raw["compile_count"] * raw["compile_mean_ms"]
    pw, ps = _ok(raw, "parquet_write", "ref"), _ok(raw, "parquet_scan", "ref")
    pw_w, pw_s = _ok(raw, "write", "plain"), _ok(raw, "scan", "plain")
    if pw:
        m["ref.parquet_write_mbps"] = statistics.median(_rates(pw))
        if pw_w:
            m["ref.write_vs_parquet"] = statistics.median(_rates(pw_w)) / m[
                "ref.parquet_write_mbps"]
    if ps:
        m["ref.parquet_scan_mbps"] = statistics.median(_rates(ps))
        if pw_s:
            m["ref.scan_vs_parquet"] = statistics.median(_rates(pw_s)) / m[
                "ref.parquet_scan_mbps"]
    overhead = trace_overhead(raw)
    if overhead is not None:
        m["trace.overhead_frac"] = overhead
    return m


def round_op_time(raw, phase):
    """Operation time of one round at the median of each kind: one
    write, one scan and the round's slices."""
    per = {}
    for kind in ("write", "scan", "slice"):
        ops = _ok(raw, kind, phase)
        if not ops:
            return None
        rounds = len({o["round"] for o in ops})
        per[kind] = statistics.median([o["wall_s"] for o in ops]) * len(ops) / rounds
    return sum(per.values())


def trace_overhead(raw):
    """Traced round operation time over the untraced one, minus 1."""
    plain, traced = round_op_time(raw, "plain"), round_op_time(raw, "traced")
    if plain is None or traced is None:
        return None
    return traced / plain - 1.0
