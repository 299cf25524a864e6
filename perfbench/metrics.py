"""Reductions from one harness result to the benchmark's metrics.

Pure functions over plain data (no Spark, no DuckDB), so the self-tests in
`perfbench/selftest.py` can pin their arithmetic:

- `tail`: the highest percentile of a fixed ladder with at least ten
  samples beyond it;
- `self_times`: a span's duration minus the union of its children's
  intervals;
- `attribute`: the innermost span open at a moment (Spark work is charged
  to the span that was open when the job or query started);
- `count_failures`: operations that threw, failed a named check, or
  produced a wrong digest;
- `ingested_bytes`: logical bytes ingested, once per batch.
"""
import math
import statistics
from collections import defaultdict

LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10
LAYERS = ("queries", "pipeline", "operators", "sources", "streaming", "core")
LAYER_STATS = ("calls", "self_s", "jobs", "tasks", "task_s", "deser_s",
               "shuffle_mb", "spill_mb", "gc_s")
VERBS = ("ingest", "serve", "compact", "export", "restore", "verify")
MB = 1024.0 * 1024.0


def percentile(values, p):
    """Linear-interpolated p-th percentile of a non-empty sequence."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    r = p / 100.0 * (len(xs) - 1)
    lo = int(r)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (r - lo)


def tail(values):
    """(percentile, value, sample count): the highest ladder percentile
    with at least MIN_BEYOND samples beyond it; the median when there are
    too few samples for any of them."""
    n = len(values)
    for p in LADDER:
        # samples ranked above the interpolation point of percentile p
        if n - 1 - math.floor(p / 100.0 * (n - 1) + 1e-9) >= MIN_BEYOND:
            return p, percentile(values, p), n
    return 50.0, percentile(values, 50.0), n


def union_length(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """span id -> its duration minus the part its children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            kids[s["parent"]].append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - union_length(kids[s["id"]], s["t0"], s["t1"])
            for s in spans}


def layer(name):
    return name.split(".", 1)[0]


class SpanIndex:
    """Innermost-open-span lookup by time."""

    def __init__(self, spans):
        self.spans = sorted(spans, key=lambda s: s["t0"])
        self.by_id = {s["id"]: s for s in spans}

    def attribute(self, t):
        """The span open at t that started last (the innermost), or None."""
        best = None
        for s in self.spans:
            if s["t0"] > t:
                break
            if s["t1"] >= t and (best is None or s["t0"] >= best["t0"]):
                best = s
        return best

    def root_op(self, span_id, op_spans):
        """The nearest ancestor-or-self of span_id that is an op's span."""
        while span_id is not None and span_id >= 0:
            if span_id in op_spans:
                return span_id
            span_id = self.by_id[span_id]["parent"] if span_id in self.by_id else None
        return None


def count_failures(ops, oracle_ok):
    """(attempted, failed, reasons). An op fails if it threw, if a named
    check came back false, if its oracle comparison (keyed by
    (name, pass) in `oracle_ok`) failed, or if its digest differs from the
    digest of its first successful pass, the one the oracle checked."""
    first = {}
    for o in sorted(ops, key=lambda o: o["pass"]):
        if o["ok"] and o.get("digest"):
            first.setdefault(o["name"], o["digest"])
    failed, reasons = 0, []
    for o in ops:
        why = None
        if not o["ok"]:
            why = o.get("err") or "failed"
        elif any(not c["ok"] for c in o.get("checks", ())):
            why = "check " + ",".join(c["name"] for c in o["checks"] if not c["ok"])
        elif oracle_ok.get((o["name"], o["pass"])) is False:
            why = "oracle mismatch"
        elif o.get("digest") and o["digest"] != first[o["name"]]:
            why = "digest differs from the first pass"
        if why:
            failed += 1
            reasons.append(f"{o['name']}@{o['pass']}: {why}")
    return len(ops), failed, reasons


def ingested_bytes(ops):
    """Logical bytes ingested: each (pass, batch) counted once, so a
    crashed ingest and its replay of the same batch count as one."""
    seen = {}
    for o in ops:
        x = o.get("extra", {})
        if "ingest_b" in x:
            seen[(o["pass"], x.get("batch", o["name"]))] = x["ingest_b"]
    return sum(seen.values())


def end_to_end(res):
    """The end-to-end metrics of an untraced run, plus a note on the tail.

    A run affords 16 to 20 measured operations, too few for a percentile
    above the median to have ten samples beyond it, so the latency tail is
    the median itself (`op_p50_s`); the note reports the percentile and
    its sample count. The slowest operation is not reported: one delayed
    operation sets it, and on a loaded host its median moved 24% between
    two ten-run sets.

    `peak_used_mb` is the memory the program uses by the JVM's accounting:
    peak heap in use right after a collection, plus peak direct buffers and
    peak non-heap use. Resident memory is not used: with the harness's fixed
    heap it cannot move, and with a growing one it follows when the
    collector chose to grow the heap, which moved it by 5-12% between runs.

    Each set-up starts a session and registers every input from scratch;
    the first is the fresh JVM's (per layer: `core.cold_setup_s`),
    `setup_s` is the median of the others.

    The timings use the two warm passes the harness names in `measured`
    (the first two) whatever the window held, so a faster machine, which
    fits more passes into `--seconds`, does not move them further along the
    JIT's warm-up."""
    passes = set(res["measured"])
    warm = [p["dur"] for p in res["passes"] if p["pass"] in passes]
    measured = [o for o in res["ops"] if o["pass"] in passes]
    lat = [o["dur"] for o in measured]
    p, t, n = tail(lat)
    metrics = {
        "pass_s": (statistics.median(warm), "s"),
        "cold_pass_s": (res["cold_pass_s"], "s"),
        "setup_s": (statistics.median(res["setup_s"][1:] or res["setup_s"]), "s"),
        "op_p50_s": (percentile(lat, 50.0), "s"),
        "peak_used_mb": (sum(res["memory"].values()) / MB, "MB"),
    }
    return metrics, f"op latency tail: p{p:g} of {n} warm operation latencies"


def _kind_latency(ops, kinds):
    lat = [o["dur"] for o in ops if o["kind"] in kinds]
    if not lat:
        return 0.0, 0.0
    return percentile(lat, 50.0), tail(lat)[1]


def per_layer(res, cores):
    """The per-layer metrics of a traced run, per traced warm pass."""
    spans = res["spans"]
    traced = [p for p in res["passes"] if p["traced"]]
    npass = max(len(traced), 1)
    runs = {p["pass"] for p in traced}
    # the traced passes, plus the one traced registration (run -1)
    spans = [s for s in spans if s["run"] in runs or s["run"] == -1]
    index = SpanIndex(spans)
    selfs = self_times(spans)
    out = {}

    # spans: calls and self time per layer
    stat = {L: defaultdict(float) for L in LAYERS}
    for s in spans:
        L = layer(s["name"])
        if L in stat:
            stat[L]["calls"] += 1
            stat[L]["self_s"] += selfs[s["id"]] / 1000.0

    # Spark jobs and their stages, charged to the innermost open span
    group_ok = {f"pb-{s['id']}": s for s in spans}
    stage_owner = {}
    job_span = {}
    for j in sorted(res.get("jobs", []), key=lambda j: j["id"]):
        s = group_ok.get(j["group"])
        if s is None or not (s["t0"] <= j["t"] <= s["t1"]):
            s = index.attribute(j["t"])
        if s is None:
            continue
        job_span[j["id"]] = s
        L = layer(s["name"])
        if L in stat:
            stat[L]["jobs"] += 1
        for st in j["stages"]:
            stage_owner.setdefault(str(st), s)
    out_rows = out_bytes = 0.0
    for sid, v in res.get("stages", {}).items():
        s = stage_owner.get(sid)
        if s is None:
            continue
        L = layer(s["name"])
        tasks, run_ms, deser_ms, shuf, spill, gc_ms, ob, orows = v
        if L in stat:
            stat[L]["tasks"] += tasks
            stat[L]["task_s"] += run_ms / 1000.0
            stat[L]["deser_s"] += deser_ms / 1000.0
            stat[L]["shuffle_mb"] += shuf / MB
            stat[L]["spill_mb"] += spill / MB
            stat[L]["gc_s"] += gc_ms / 1000.0
        if L == "sources":
            out_rows += orows
            out_bytes += ob
    for L in LAYERS:
        for k in LAYER_STATS:
            scale = 1.0 if L == "core" else npass
            unit = {"calls": "count", "jobs": "count", "tasks": "count",
                    "shuffle_mb": "MB", "spill_mb": "MB"}.get(k, "s")
            out[f"{L}.{k}"] = (stat[L][k] / scale, unit)

    # planning, from each executed query's QueryExecution
    plan_q = opt = cand = pairs = hits = 0.0
    for t, plan_ms, opt_ms, c, pr, h in res.get("sql", []):
        s = index.attribute(t)
        if s is None:
            continue
        opt += opt_ms
        cand += c
        pairs += pr
        hits += h
        if layer(s["name"]) == "queries":
            plan_q += plan_ms
    q = out
    q["queries.driver_gap_s"] = (q["queries.self_s"][0] - q["queries.task_s"][0] / cores, "s")
    q["queries.plan_s"] = (plan_q / 1000.0 / npass, "s")
    for sub in ("define", "exec"):
        q[f"queries.{sub}_s"] = (sum(s["t1"] - s["t0"] for s in spans
                                    if s["name"] == f"queries.{sub}") / 1000.0 / npass, "s")
    q["plans.optimize_s"] = (opt / 1000.0 / npass, "s")
    q["plans.prefilter_hits"] = (hits / npass, "count")
    q["operators.simjoin.candidates"] = (cand / npass, "count")
    q["operators.simjoin.pairs"] = (pairs / npass, "count")
    q["operators.simjoin.yield"] = (pairs / cand if cand else 0.0, "ratio")
    for k, v in sorted(res.get("micro", {}).items()):
        q[f"functions.{k}"] = (v, "ns")

    # per-verb time and jobs (index_lifecycle), from traced passes
    ops = [o for o in res["ops"] if o["pass"] in runs]
    op_spans = {o["span"]: o for o in ops if o["span"] >= 0}
    verb_jobs = defaultdict(float)
    for jid, s in job_span.items():
        root = index.root_op(s["id"], op_spans)
        if root is not None:
            verb_jobs[op_spans[root]["kind"]] += 1
    for v in VERBS:
        q[f"operators.{v}_s"] = (sum(o["dur"] for o in ops if o["kind"] == v) / npass, "s")
        q[f"operators.{v}.jobs"] = (verb_jobs[v] / npass, "count")
    ex = lambda o, k: o.get("extra", {}).get(k, 0)
    q["streaming.epochs"] = (sum(ex(o, "epochs") for o in ops) / npass, "count")
    written = sum(ex(o, "written_b") for o in ops)
    ingested = ingested_bytes(ops)
    live = sum(ex(o, "live_b") for o in ops)
    live_logical = sum(ex(o, "live_logical_b") for o in ops)
    q["operators.bytes_written"] = (written / MB / npass, "MB")
    q["operators.files_written"] = (sum(ex(o, "files_w") for o in ops) / npass, "count")
    q["operators.bytes_live"] = (live / MB / npass, "MB")
    q["operators.compact.bytes_rewritten"] = (
        sum(ex(o, "written_b") for o in ops if o["kind"] == "compact") / MB / npass, "MB")
    q["sources.rows_written"] = ((out_rows + sum(ex(o, "sink_rows") for o in ops)) / npass, "count")
    q["sources.bytes_written"] = (out_bytes / MB / npass, "MB")
    # registration time of the set-ups after the fresh JVM's, as setup_s
    tables = res.get("tables_s") or [0.0]
    q["core.tables_s"] = (statistics.median(tables[1:] or tables), "s")
    # the fresh JVM's set-up: what a batch job pays before its first query
    q["core.cold_setup_s"] = (res["setup_s"][0], "s")

    # lifecycle read/write latency and cost, from the untraced warm passes
    clean = [o for o in res["ops"] if o["pass"] > 0 and o["pass"] not in runs]
    q["serve_p50_s"], q["serve_tail_s"] = [(x, "s") for x in _kind_latency(clean, {"serve"})]
    q["ingest_p50_s"], q["ingest_tail_s"] = [(x, "s") for x in _kind_latency(clean, {"ingest"})]
    nclean = max(len({o["pass"] for o in clean}), 1)
    q["compact_s"] = (sum(o["dur"] for o in clean if o["kind"] == "compact") / nclean, "s")
    q["snapshot_s"] = (sum(o["dur"] for o in clean
                           if o["kind"] in ("export", "restore", "verify")) / nclean, "s")
    q["write_amp"] = (written / ingested if ingested else 0.0, "ratio")
    q["space_amp"] = (live / live_logical if live_logical else 0.0, "ratio")

    # the pass itself: its traced time, the part of it no layer span
    # covers, and the tracing overhead: each traced pass against the mean
    # of the untraced passes on either side of it (which cancels a steady
    # warm-up trend)
    dur = {p["pass"]: p for p in res["passes"]}
    tpass = statistics.mean(p["dur"] for p in traced) if traced else 0.0
    q["trace.pass_s"] = (tpass, "s")
    covered = sum(q[f"{L}.self_s"][0] for L in LAYERS if L != "core")
    q["trace.remainder_s"] = (tpass - covered, "s")
    gaps = [p["dur"] - (dur[p["pass"] - 1]["dur"] + dur[p["pass"] + 1]["dur"]) / 2.0
            for p in traced
            if all(k in dur and not dur[k]["traced"] for k in (p["pass"] - 1, p["pass"] + 1))]
    q["trace.overhead_s"] = (statistics.mean(gaps) if gaps else 0.0, "s")
    return out
