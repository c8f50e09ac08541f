"""Metric arithmetic for the benchmark: medians, the tail rank, interval
unions for driver gap, job attribution and the per-layer report.

Everything here works on the plain record the JVM side writes (ops,
spans, jobs) and has no Spark dependency, so the
self-tests run without a JVM.
"""
import math
import statistics

# Ops of these kinds change table state; the rest of lake_mixed's ops
# are reads.
LAKE_READS = ("read_point", "read_range")
LAKE_KINDS = ("insert", "update_mor", "delete_mor", "delete_cow",
              "merge_cow", "fold_mor", "compact_cow", "rollback", "expire",
              "read_point", "read_range")
# Declared queries lake_mixed issues every round (op kind "query.<name>"),
# and the one among them that is a Structured Streaming query.
QUERIES = ("q12_set_ops", "st4_stream_dedup")
STREAM_QUERIES = ("st4_stream_dedup",)
# Spark's per-batch progress phases, as streaming.<metric>.
STREAM_PHASES = (("query_planning_ms", "queryPlanning"),
                 ("get_batch_ms", "getBatch"), ("add_batch_ms", "addBatch"),
                 ("wal_commit_ms", "walCommit"))
TAIL_BEYOND = 10

# (name, unit, better) of every metric a run prints.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("work_per_s", "1/s", "higher"),
    ("op_p50_ms", "ms", "lower"),
    ("heap_live_mb", "MB", "lower"),
]
PER_LAYER = [
    ("spark.jobs_per_op", "count", "lower"),
    ("driver.gap_ms_per_op", "ms", "lower"),
    ("spark.task_cpu_ms_per_op", "ms", "lower"),
    ("spark.shuffle_mb_per_op", "MB", "lower"),
    ("spark.spill_mb_per_op", "MB", "lower"),
    ("jvm.cpu_ms_per_op", "ms", "lower"),
    ("jvm.gc_ms_per_op", "ms", "lower"),
    ("driver.unattributed_jobs", "count", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
    ("runner.run_ms", "ms", "lower"),
    ("runner.own_ms", "ms", "lower"),
    ("model.decode_ms", "ms", "lower"),
    ("operators.prelude_ms", "ms", "lower"),
    ("operators.handle_ms", "ms", "lower"),
    ("model.encode_ms", "ms", "lower"),
    ("functions.dsp_ms", "ms", "lower"),
    ("functions.dsp_calls", "count", "lower"),
    ("klio.route.process", "count", "higher"),
    ("klio.route.pass_thru", "count", "higher"),
    ("klio.route.drop", "count", "lower"),
    ("klio.useful_ratio", "ratio", "higher"),
    ("config.parse_ms", "ms", "lower"),
] + [(f"lake.{k}.{m}", u, "lower") for k in LAKE_KINDS
     for m, u in (("p50_ms", "ms"), ("jobs", "count"),
                  ("driver_gap_ms", "ms"))] + [
    ("lake.op_tail_ms", "ms", "lower"),
    ("lake.read_p50_ms", "ms", "lower"),
    ("lake.write_p50_ms", "ms", "lower"),
    ("lake.write_amp", "ratio", "lower"),
    ("lake.read_rows_scanned_per_returned", "ratio", "lower"),
    ("lake.read_files_per_op", "count", "lower"),
    ("lake.space_amp", "ratio", "lower"),
    ("lake.live_dirs", "count", "lower"),
    ("lake.manifest_versions", "count", "lower"),
] + [(f"query.{q}.{m}", u, "lower") for q in QUERIES
     for m, u in (("ms", "ms"), ("jobs", "count"),
                  ("driver_gap_ms", "ms"))] + [
    ("streaming.batches", "count", "lower"),
] + [(f"streaming.{m}", "ms", "lower") for m, _ in STREAM_PHASES]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def hd_median(xs, steps=64):
    """Harrell-Davis estimate of the median: a weighted mean of all order
    statistics, with weights from the Beta((n+1)/2, (n+1)/2) distribution.

    A lake round mixes a dozen op kinds with one or two samples each, so
    the plain median is whichever single op sits at the middle rank, and
    a small shift in one op moves it to a neighbour of another kind. This
    estimate leans on the ops around the middle, not on one of them. With
    one or two samples it equals the plain median.
    """
    xs = sorted(xs)
    n = len(xs)
    if n < 3:
        return median(xs)
    a = (n + 1) / 2

    def density(t):
        if t <= 0.0 or t >= 1.0:
            return 0.0
        return math.exp((a - 1) * (math.log(t) + math.log(1 - t)))

    weights = []
    for i in range(n):
        # Simpson's rule over [i/n, (i+1)/n]; the normalisation below
        # makes the Beta function's constant unnecessary
        lo, h = i / n, 1 / (n * steps)
        inner = sum((4 if k % 2 else 2) * density(lo + k * h)
                    for k in range(1, steps))
        weights.append((density(lo) + inner + density((i + 1) / n)) * h / 3)
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def tail(samples, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    `samples` is a list of (value, kind). Returns a dict with the value,
    its percentile, the sample count, the kind the rank lands on and
    whether that rank sits inside one kind (both neighbours share it), or
    None when there are too few samples.
    """
    n = len(samples)
    if n < beyond + 1:
        return None
    ordered = sorted(samples, key=lambda s: s[0])
    rank = n - beyond - 1
    kind = ordered[rank][1]
    inside = all(ordered[i][1] == kind
                 for i in (rank - 1, rank + 1) if 0 <= i < n)
    return {"value": ordered[rank][0], "percentile": 100.0 * (rank + 1) / n,
            "samples": n, "kind": kind, "inside_one_kind": inside}


def p50_kind(samples):
    """Kind(s) the median rank lands on, to show it sits inside one."""
    ordered = sorted(samples, key=lambda s: s[0])
    n = len(ordered)
    if not n:
        return []
    ranks = {(n - 1) // 2, n // 2}
    return sorted({ordered[r][1] for r in ranks})


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of [start, end] intervals, clipped to [lo, hi].

    Overlapping intervals count once: `Cow.rewrite` runs several jobs at
    the same time, and a sum would count their overlap twice.
    """
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute_jobs(ops, jobs):
    """Maps op id -> its jobs, and counts jobs attributed by time.

    A job carrying the op's job group belongs to it. Jobs submitted from
    pool threads that did not inherit the group (MergeOnRead.updateRows
    on the global execution context, GraftPar.par) carry none; they go
    to the op whose interval contains their start, and are counted as
    unattributed.
    """
    by_op = {o["id"]: [] for o in ops}
    unattributed = 0
    for j in jobs:
        group = j.get("group") or ""
        if group.startswith("perfbench-op-"):
            oid = int(group.rsplit("-", 1)[1])
            if oid in by_op:
                by_op[oid].append(j)
            continue
        for o in ops:
            if o["start_ms"] <= j["start_ms"] <= o["end_ms"]:
                by_op[o["id"]].append(j)
                unattributed += 1
                break
    return by_op, unattributed


def driver_gap_ms(op, jobs):
    """Op wall time minus the union of its jobs' intervals."""
    ivs = [(j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else op["end_ms"])
           for j in jobs]
    return (op["end_ms"] - op["start_ms"]) - union_ms(
        ivs, op["start_ms"], op["end_ms"])


def drift(ops):
    """Per kind: median of the last third of its samples over the first.

    A table that grows from round to round shows here as a ratio above 1,
    so that growth cannot pass for a slowdown of the code.
    """
    out = {}
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["ms"])
    for k, xs in kinds.items():
        third = len(xs) // 3
        if third >= 1:
            out[k] = median(xs[-third:]) / max(median(xs[:third]), 1e-9)
    return out


def kind_medians(ops):
    """Median time of each op kind, in ms."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["ms"])
    return {k: median(xs) for k, xs in sorted(kinds.items())}


def end_to_end(rec):
    """The end-to-end metrics of one untraced run."""
    ops = [o for o in rec["ops"] if o["ok"]]
    samples = [(o["ms"], o["kind"]) for o in ops]
    t = tail(samples)
    out = {
        "setup_s": (median(rec["setup_s"]), "s"),
        "work_per_s": (sum(o["items"] for o in ops) / rec["wall_s"], "1/s"),
        "op_p50_ms": (hd_median([o["ms"] for o in ops]), "ms"),
        "heap_live_mb": (rec["heap_live_mb"], "MB"),
    }
    info = {"op_p50_kinds": p50_kind(samples), "op_tail": t,
            "op_plain_median_ms": median([o["ms"] for o in ops])}
    return out, info


def _per_op(total, n):
    return total / n if n else 0.0


def per_layer(rec, names):
    """Per-layer metrics of one traced run, one value per name in `names`.

    A layer a workload does not reach reports 0.
    """
    tr = rec["trace"]
    ops = [o for o in tr["ops"] if o["ok"]]
    probe_ops = [o for o in tr.get("probe_ops", []) if o["ok"]]
    jobs = tr["jobs"]
    by_op, unattributed = attribute_jobs(ops + probe_ops, jobs)
    n = len(ops)
    out = {k: 0.0 for k in names}

    def jobs_of(o):
        return by_op.get(o["id"], [])

    def jsum(field, os_):
        return sum(j[field] for o in os_ for j in jobs_of(o))

    out["spark.jobs_per_op"] = _per_op(sum(len(jobs_of(o)) for o in ops), n)
    out["driver.gap_ms_per_op"] = _per_op(
        sum(driver_gap_ms(o, jobs_of(o)) for o in ops), n)
    out["spark.task_cpu_ms_per_op"] = _per_op(jsum("cpu_ms", ops), n)
    out["spark.shuffle_mb_per_op"] = _per_op(
        jsum("shuffle_bytes", ops) / 2**20, n)
    out["spark.spill_mb_per_op"] = _per_op(jsum("spill_bytes", ops) / 2**20, n)
    out["jvm.cpu_ms_per_op"] = _per_op(tr["jvm"]["cpu_ms"], n)
    out["jvm.gc_ms_per_op"] = _per_op(tr["jvm"]["gc_ms"], n)
    out["driver.unattributed_jobs"] = float(unattributed)
    traced_rate = sum(o["items"] for o in ops) / tr["wall_s"]
    plain_rate = sum(o["items"] for o in rec["ops"] if o["ok"]) / rec["wall_s"]
    out["trace.overhead_ratio"] = plain_rate / traced_rate if traced_rate else 0.0

    kinds = {}
    for o in ops + probe_ops:
        kinds.setdefault(o["kind"], []).append(o)

    if "klio" in rec:
        k = rec["klio"]
        runs = kinds.get("pipeline_run", [])
        spans = tr["spans"]
        run_ms = median([s["end_ms"] - s["start_ms"] for s in spans
                         if s["name"] == "runner.run"])
        probes = {}
        for name in ("model.decode", "operators.prelude", "operators.handle",
                     "model.encode"):
            probes[name] = median([o["ms"] for o in kinds.get("probe." + name, [])])
            out[name + "_ms"] = probes[name]
        out["runner.run_ms"] = run_ms
        out["runner.own_ms"] = run_ms - sum(probes.values())
        dsp = tr.get("dsp", {})
        out["functions.dsp_calls"] = _per_op(dsp.get("calls", 0), len(runs))
        out["functions.dsp_ms"] = _per_op(dsp.get("nanos", 0) / 1e6, len(runs))
        # route counts as the traced runs' RunSummary reported them;
        # `process` excludes the corrupt clips, as the checks do
        kr = tr.get("klio_runs", [])
        for name in ("process", "pass_thru", "drop"):
            out["klio.route." + name] = float(median([r[name] for r in kr]))
        out["klio.useful_ratio"] = out["klio.route.process"] / k["received"]
        out["config.parse_ms"] = k["config_parse_ms"]

    if "lake_trace" in tr:
        lt = tr["lake_trace"]
        for kind in LAKE_KINDS:
            xs = kinds.get(kind, [])
            out[f"lake.{kind}.p50_ms"] = median([o["ms"] for o in xs])
            out[f"lake.{kind}.jobs"] = _per_op(
                sum(len(jobs_of(o)) for o in xs), len(xs))
            out[f"lake.{kind}.driver_gap_ms"] = _per_op(
                sum(driver_gap_ms(o, jobs_of(o)) for o in xs), len(xs))
        reads = [o for o in ops if o["kind"] in LAKE_READS]
        writes = [o for o in ops if o["kind"] in LAKE_KINDS
                  and o["kind"] not in LAKE_READS]
        t = tail([(o["ms"], o["kind"]) for o in ops])
        out["lake.op_tail_ms"] = t["value"] if t else 0.0
        out["lake.read_p50_ms"] = median([o["ms"] for o in reads])
        out["lake.write_p50_ms"] = median([o["ms"] for o in writes])
        user_bytes = lt["user_rows"] * lt["bytes_per_row"]
        out["lake.write_amp"] = _per_op(jsum("output_bytes", writes), user_bytes)
        out["lake.read_rows_scanned_per_returned"] = _per_op(
            jsum("input_records", reads), lt["matched_rows"])
        out["lake.read_files_per_op"] = _per_op(jsum("reading_tasks", reads),
                                                len(reads))
        out["lake.space_amp"] = lt["space_amp"]
        out["lake.live_dirs"] = float(lt["live_dirs"])
        out["lake.manifest_versions"] = float(lt["manifest_versions"])

    for q in QUERIES:
        xs = kinds.get("query." + q, [])
        out[f"query.{q}.ms"] = median([o["ms"] for o in xs])
        out[f"query.{q}.jobs"] = _per_op(sum(len(jobs_of(o)) for o in xs),
                                         len(xs))
        out[f"query.{q}.driver_gap_ms"] = _per_op(
            sum(driver_gap_ms(o, jobs_of(o)) for o in xs), len(xs))
    # micro-batches per streaming query op, and each phase's time summed
    # over an op's batches
    streamed = sum(len(kinds.get("query." + q, [])) for q in STREAM_QUERIES)
    batches = tr.get("streams", [])
    out["streaming.batches"] = _per_op(len(batches), streamed)
    for m, phase in STREAM_PHASES:
        out["streaming." + m] = _per_op(
            sum(b["duration_ms"].get(phase, 0) for b in batches), streamed)

    return {k: out.get(k, 0.0) for k in names}
