"""Turns the harness's raw samples into the benchmark's metrics.

Pure functions over the raw JSON the JVM side writes, so the rules
(percentiles, failure accounting, family sums, output format) are
tested without Spark (tests/test_metrics.py).
"""
import json
import math
import statistics

# A failed request or query counts as slower than any limit.
FAILED = math.inf
# Percentile estimates need this many samples above them to be resolved.
MIN_BEYOND = 10
# JSON has no infinity; a percentile that lands on a failure reports this.
FAILED_MS = 1e9


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least a
    fraction `p` of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p * len(xs) - 1e-9))
    return xs[rank - 1]


def beyond(n, p):
    """How many of `n` samples lie above the nearest-rank p-percentile."""
    return n - max(1, math.ceil(p * n - 1e-9))


def resolved(n, p):
    return beyond(n, p) >= MIN_BEYOND


def describe(name, values, p):
    """One human-readable line: value, sample count, resolution."""
    n = len(values)
    v = percentile(values, p)
    state = "resolved" if resolved(n, p) else "UNRESOLVED"
    return f"{name}: {finite(v):.3f} (n={n}, {beyond(n, p)} beyond, {state})"


def finite(v):
    return FAILED_MS if math.isinf(v) else v


def failed_share(attempted, failed):
    if attempted <= 0:
        raise ValueError("nothing attempted")
    return failed / attempted


def median_by_query(samples, key="s"):
    """{query: median over its passes of `key`}; a failed run of a query
    counts as infinitely slow."""
    by = {}
    for s in samples:
        by.setdefault(s["q"], []).append(s[key] if s["ok"] else FAILED)
    return {q: statistics.median(v) for q, v in by.items()}


def timed_passes(p):
    """A phase's query samples from its first timed pass on. The first
    pass touches every operator for the first time and is reported as
    first touch; the JVM keeps compiling for passes after it (query times
    still fall ~20 % from the second pass to the third), and how fast
    it gets there swings from run to run, so the timed batch leaves
    those passes out too."""
    return [s for s in p["queries"] if s["pass"] >= p["timed_from"]]


def family_sums(per_query, families):
    """{family: sum of its queries' seconds}. Every query must belong to
    exactly one family, so the sums add up to the total."""
    owner = {}
    for fam, names in families.items():
        for n in names:
            if n in owner:
                raise ValueError(f"{n} is in {owner[n]} and {fam}")
            owner[n] = fam
    out = {fam: 0.0 for fam in families}
    for q, s in per_query.items():
        if q not in owner:
            raise ValueError(f"{q} has no family")
        out[owner[q]] += s
    return out


def first_touch(p):
    """{query: cold (first) pass minus the median of the timed passes}."""
    if p["timed_from"] == 0:
        return {}
    warm = median_by_query(timed_passes(p))
    return {s["q"]: s["s"] - warm[s["q"]] for s in p["queries"]
            if s["pass"] == 0 and s["q"] in warm}


def phase(raw, name, role):
    for p in raw["phases"]:
        if p["name"] == name and p["role"] == role:
            return p
    return None


def traced_phase(raw, name):
    return phase(raw, name, "timed") or phase(raw, name, "probe")


def request_latencies(requests):
    return [r["ms"] if r["ok"] else FAILED for r in requests]


def phase_wall(p):
    """The fixed work's time: for the batch the sum over queries of the
    median of their timed passes, which does not depend on query order;
    for the Service the timed window."""
    if p["name"] == "service":
        return p["wall_s"]
    return sum(median_by_query(timed_passes(p)).values())


def counts(p):
    """(attempted, failed) over a phase's queries and requests."""
    items = p["queries"] + p["requests"]
    return len(items), sum(1 for x in items if not x["ok"])


def end_to_end(raw):
    """{metric: (value, unit)} for the timed phase, plus summary lines."""
    p = phase(raw, raw["workload"], "timed")
    if p["name"] == "batch":
        # One client, closed loop: each query of a timed pass is one
        # request. CPU is taken like wall_s; rates divide by query time,
        # since the time between queries (cache release, outside the
        # timed window) is not the engine's.
        timed = timed_passes(p)
        lat = [s["s"] * 1e3 if s["ok"] else FAILED for s in timed]
        done = sum(1 for s in timed if s["ok"])
        busy = sum(s["s"] for s in timed)
        cpu = sum(median_by_query(timed, "cpu_s").values())
    else:
        lat = request_latencies(p["requests"])
        done = sum(1 for r in p["requests"] if r["ok"])
        busy, cpu = p["wall_s"], p["cpu_s"]
    m = {
        "setup_s": (statistics.median(raw["setup_s"]), "s"),
        "wall_s": (phase_wall(p), "s"),
        "cpu_s": (cpu, "s"),
        "qps": (done / busy, "req/s"),
        "latency_p50_ms": (finite(percentile(lat, 0.50)), "ms"),
        "latency_p95_ms": (finite(percentile(lat, 0.95)), "ms"),
    }
    lines = [describe("latency_p50_ms", lat, 0.50),
             describe("latency_p95_ms", lat, 0.95),
             "setup_s samples (warm re-setups): " +
             ", ".join(f"{s:.3f}" for s in raw["setup_s"]) +
             f"; cold set-up from JVM start: {raw['setup_cold_s']:.3f}"]
    return m, lines


def union_ms(intervals):
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap_s(queries, job_intervals):
    """Sum over queries of wall time not covered by any of its jobs."""
    by_group = {}
    for g, s, e in job_intervals:
        by_group.setdefault(g, []).append((s, e))
    gap = 0.0
    for q in queries:
        lo, hi = q["start_ms"], q["end_ms"]
        inside = [(max(s, lo), min(e, hi)) for s, e in by_group.get(q["group"], [])
                  if e > lo and s < hi]
        gap += (hi - lo - union_ms(inside)) / 1e3
    return gap


def self_times(spans):
    """{span name: summed self time in s} (duration minus children)."""
    dur = {sid: (end - start) / 1e9 for sid, _, _, _, start, end in spans}
    child = {}
    for sid, parent, *_ in spans:
        if parent:
            child[parent] = child.get(parent, 0.0) + dur[sid]
    out = {}
    for sid, _, name, _, _, _ in spans:
        out[name] = out.get(name, 0.0) + dur[sid] - child.get(sid, 0.0)
    return out


def self_layers(shapes):
    """Span names (as the harness records them) grouped by layer."""
    return {
        "setup": ("setup", "setup.session", "service.start", "oracle.load"),
        "tables": ("tables.register",),
        "operators": ("operators.build",),
        "execute": ("batch.query", "batch.execute"),
        "service": tuple(f"service.{s}" for s in shapes),
        "engine": ("engine.query", "engine.getData"),
        "planjson": ("planjson.render",),
        "dialect": ("dialect.translate",),
    }


def per_layer(raw, families, background):
    """{metric: (value, unit)} from a traced run."""
    shapes = raw["shapes"]
    traced = [p for p in raw["phases"] if p["traced"]]
    lst = raw["listener"]
    queries = [q for p in traced for q in p["queries"]]
    m = {"setup.cold_s": (raw["setup_cold_s"], "s")}
    spans = raw["spans"]
    register = [s for s in spans if s[2] == "tables.register"]
    m["tables.register_s"] = (sum((s[5] - s[4]) / 1e9 for s in register), "s")
    m["tables.fragment_write_s"] = (lst["fragment_write_s"], "s")
    m["operators.build_s"] = (sum(q["build_s"] for q in queries), "s")
    for k in ("analysis_ms", "optimization_ms", "planning_ms", "graft_rules_ms"):
        m[f"catalyst.{k}"] = (float(lst[k]), "ms")
    m["codegen.compile_ms"] = (lst["codegen_compile_ms"], "ms")
    m["jobs.count"] = (lst["jobs"], "count")
    m["stages.count"] = (lst["stages"], "count")
    m["tasks.count"] = (lst["tasks"], "count")
    for k in ("executor_run_s", "executor_cpu_s", "gc_s"):
        m[f"jobs.{k}"] = (lst[k], "s")
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"jobs.{k}"] = (lst[k], "bytes")
    m["jobs.driver_gap_s"] = (driver_gap_s(queries, lst["job_intervals"]), "s")

    batch = traced_phase(raw, "batch")
    fams = family_sums(median_by_query(timed_passes(batch)), families)
    touch = first_touch(batch)
    touch_fam = family_sums(touch, {f: [q for q in v if q in touch]
                                    for f, v in families.items()})
    for f in families:
        m[f"family.{f}_s"] = (fams[f], "s")
        m[f"jit.first_touch_{f}_s"] = (touch_fam[f], "s")
    # JVM work inside the timed query windows, taken like wall_s: JIT
    # compiler threads' time and garbage-collection pauses
    timed = timed_passes(batch)
    m["jvm.jit_compile_s"] = (sum(median_by_query(timed, "jit_s").values()), "s")
    m["jvm.gc_s"] = (sum(median_by_query(timed, "gc_s").values()), "s")

    direct = raw["direct"]

    def med(layer, shape=None):
        xs = [d["ms"] for d in direct if d["layer"] == layer
              and (shape is None or d["shape"] == shape)]
        return statistics.median(xs)
    m["dialect.translate_us"] = (med("dialect") * 1e3, "us")
    m["planjson.render_ms"] = (med("planjson"), "ms")
    m["engine.query_ms"] = (med("engine.query"), "ms")
    m["engine.getdata_ms"] = (med("engine.getdata"), "ms")
    over = []
    for s in shapes:
        eng = [d["ms"] for d in direct
               if d["shape"] == s and d["layer"].startswith("engine")]
        over.append(med("http", s) - statistics.median(eng))
    m["service.http_overhead_ms"] = (statistics.mean(over), "ms")

    service = traced_phase(raw, "service")
    for s in shapes:
        lat = request_latencies([r for r in service["requests"]
                                 if r["shape"] == s])
        m[f"service.{s}.p50_ms"] = (finite(percentile(lat, 0.50)), "ms")
        m[f"service.{s}.p95_ms"] = (finite(percentile(lat, 0.95)), "ms")
    m["service.response_bytes"] = (
        statistics.mean(r["bytes"] for r in service["requests"]), "bytes")

    mixed = traced_phase(raw, "mixed")
    per_bg = median_by_query(mixed["queries"])
    for q in background:
        m[f"tenancy.{q}_s"] = (per_bg[q], "s")
    m["tenancy.aqe_off_plans"] = (lst["aqe_off_plans"], "count")
    m["tenancy.interactive_plans"] = (lst["interactive_plans"], "count")

    w = raw["workload"]
    m["trace.wall_s"] = (phase_wall(phase(raw, w, "timed")), "s")
    m["trace.overhead_s"] = (lst["trace_cost_s"], "s")
    selfs = self_times(spans)
    for layer, names in self_layers(shapes).items():
        m[f"self.{layer}_s"] = (sum(selfs.get(n, 0.0) for n in names), "s")
    timed = phase(raw, w, "timed")
    m["latency.samples"] = (len(timed["requests"] or timed["queries"]), "count")
    return m


def render(correct, attempted, failed, metrics):
    """The benchmark's last stdout line."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}})
