"""The benchmark's metrics: their definitions and how each is computed
from a run's raw record.

``END_TO_END`` and ``PER_LAYER`` are the single source of the metric
lists in ``BENCHMARK.json`` (``tests/test_metrics.py`` checks they agree).
Every metric is emitted on every workload; a per-layer metric whose layer
does not run in a workload reads 0 there. Each per-layer entry also
records which end-to-end metric it should move, on which workload, and
where it should stay flat.
"""
import stats

RUN_SECONDS = 15
WORKLOADS = ["serve_compiled", "serve_cascade"]

# name, unit, better, bound, meaning. The timing bounds sit at the
# ceiling: on a shared 4-core VM, ten runs of unchanged code (15 s
# windows, three set-ups) spread 17-22% (quartile distance over median)
# on serve_compiled and 9-16% on serve_cascade, about 5% on both while
# the host stayed quiet. The spread comes from the host's speed drifting
# from one run to the next, not from the samples within a run: the
# medians of the first 5, 10 or 15 s of the same runs spread alike.
# Set-up keeps the largest bound.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25,
     "session start + index fit/build + warm-up operation, median of the "
     "run's set-up repetitions (seeded data generation excluded)"),
    ("op_s_p50", "s", "lower", 0.24,
     "median wall time of one operation, a full-batch serve"),
    ("rows_per_s", "rows/s", "higher", 0.24,
     "input rows served per second by the median operation"),
    ("index_agreement", "share", "higher", 0.05,
     "rows whose index prediction equals the model's"),
]

# cumulative serve steps (span, metric): a scan floor, then what each of
# featurize, translate (Binning/Keys), probe and the filter + group-by
# adds over the step before it, each timed with ForceEval.checksum
SERVE_STEPS = [
    ("Tables.scan", "Tables.scan_s"),
    ("featurize", "featurize.incr_s"),
    ("translate", "translate.incr_s"),
    ("KvIndex.probe", "KvIndex.probe_incr_s"),
    ("aggregate", "aggregate.incr_s"),
]
BUILD_SPANS = [
    ("InferDbPipeline.fit", "InferDbPipeline.fit_s"),
    ("Binning.fit", "Binning.fit_s"),
    ("GreedySelector.select", "GreedySelector.select_s"),
    ("KvIndexBuilder.build", "KvIndexBuilder.build_s"),
    ("KvModel.toLocalScorer", "KvModel.toLocalScorer_s"),
]
# listener metrics carried by the serve increments and the build spans
# (KvModel.toLocalScorer collects on a shared thread pool: when its
# threads predate the span they carry no job group, so those jobs land in
# unattributed_jobs and the span's own fields read 0)
LISTENER = [
    ("jobs", "count", "lower"), ("tasks", "count", "lower"),
    ("task_ms_p50", "ms", "lower"), ("task_ms_max", "ms", "lower"),
    ("task_wait_ms", "ms", "lower"), ("shuffle_write_bytes", "B", "lower"),
    ("spill_bytes", "B", "lower"),
]
FAMILIES = ["RelationalQueries", "InferDbQueries", "TextQueries", "LearnedQueries",
            "ExtraQueries", "IvfQueries", "StorageQueries", "AnalyticsQueries"]

# (end-to-end metric it should move, on which workloads, where it stays flat)
_SERVE_MOVES = ("rows_per_s, op_s_p50", "serve_compiled, serve_cascade", "setup_s")
_BUILD_MOVES = ("setup_s", "serve_compiled (fitLifecycle); serve_cascade (KvIndexBuilder, "
                "toLocalScorer)", "op_s_p50, rows_per_s")
_WRITE_MOVES = ("- (index write side, measured once per traced serve_compiled run)",
                "serve_compiled (traced)", "serve_*: op_s_p50, setup_s")


def _per_layer():
    out = []  # name, unit, better, moves, on, flat

    def add(name, unit, better, moves):
        out.append((name, unit, better) + moves)

    for span, metric in SERVE_STEPS:
        add(metric, "s", "lower", _SERVE_MOVES)
        for field, unit, better in LISTENER:
            add(f"{span}.{field}", unit, better, _SERVE_MOVES)
    add("KvIndex.compiled", "0/1", "higher", ("op_s_p50", "serve_compiled = 1, serve_cascade = 0", "-"))
    add("KvIndex.entries", "count", "lower", ("setup_s, op_s_p50", "serve_*", "-"))
    add("KvIndex.exact_hit_share", "share", "higher", ("index_agreement", "serve_*", "-"))
    add("KvIndex.prefix_hit_share", "share", "lower", ("op_s_p50, index_agreement", "serve_cascade", "serve_compiled"))
    add("KvIndex.global_share", "share", "lower", ("index_agreement", "serve_*", "-"))
    add("plan.exchanges", "count", "lower", ("op_s_p50", "serve_*", "-"))
    add("InferDbPipeline.fitLifecycle_s", "s", "lower", _BUILD_MOVES)
    add("model.train_s", "s", "lower", _BUILD_MOVES)
    for span, metric in BUILD_SPANS:
        add(metric, "s", "lower", _BUILD_MOVES)
        for field, unit, better in LISTENER:
            add(f"{span}.{field}", unit, better, _BUILD_MOVES)
    add("GreedySelector.candidates", "count", "lower", _BUILD_MOVES)
    persist = _WRITE_MOVES
    add("Persist.save_s", "s", "lower", persist)
    add("Persist.load_s", "s", "lower", persist)
    add("Persist.save.jobs", "count", "lower", persist)
    add("Persist.load.jobs", "count", "lower", persist)
    add("Persist.files", "count", "lower", persist)
    add("Persist.index_bytes", "B", "lower", persist)
    append = _WRITE_MOVES
    add("KvIndexState.append_s", "s", "lower", append)
    add("KvIndexState.toModel_s", "s", "lower", append)
    add("KvIndexState.append.jobs", "count", "lower", append)
    add("KvIndexState.toModel.jobs", "count", "lower", append)
    lookup = _WRITE_MOVES
    add("LocalScorer.score_ns", "ns", "lower", lookup)
    add("Fitted.binValue_ns", "ns", "lower", lookup)
    add("LocalScorer.lookup_us_p50", "us", "lower", lookup)
    add("LocalScorer.lookup_us_p90", "us", "lower", lookup)
    mix = ("- (declared query rows, measured once per traced serve_cascade run)",
           "serve_cascade (traced)", "serve_*: op_s_p50, setup_s")
    for fam in FAMILIES:
        add(f"{fam}.s", "s", "lower", mix)
        add(f"{fam}.jobs", "count", "lower", mix)
    add("StreamOps.trigger_ms", "ms", "lower", mix)
    add("Sessions.start_s", "s", "lower", ("setup_s", "all", "-"))
    add("unattributed_jobs", "count", "lower", ("-", "all", "-"))
    add("failed_tasks", "count", "lower", ("-", "all", "-"))
    add("cache_mb", "MB", "lower", ("-", "all", "-"))
    add("trace.overhead_s", "s", "lower", ("-", "all", "-"))
    return out


PER_LAYER = _per_layer()


# ---------------------------------------------------------------- compute

def end_to_end(rec):
    op = stats.median(rec["op_wall_s"][rec["warmup_ops"]:])
    return {
        "setup_s": stats.median(rec["setup_s"]),
        "op_s_p50": op,
        # from the median operation, so one stalled operation does not move it
        "rows_per_s": rec["rows_per_op"] / op,
        "index_agreement": rec["values"]["index_agreement"],
    }


def _median_or_zero(by_op):
    return stats.median(list(by_op.values())) if by_op else 0


def _listener(spans, name, field):
    by_op = {}
    for s in spans:
        if s["name"] == name:
            by_op.setdefault(s["op"], []).append(s)
    vals = []
    for group in by_op.values():
        tasks = [t for s in group for t in s["task_ms"]]
        waits = [t for s in group for t in s["task_wait_ms"]]
        if field in ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes"):
            vals.append(sum(s[field] for s in group))
        elif field == "task_ms_p50":
            vals.append(stats.median(tasks) if tasks else 0)
        elif field == "task_ms_max":
            vals.append(max(tasks) if tasks else 0)
        elif field == "task_wait_ms":
            vals.append(stats.median(waits) if waits else 0)
    return stats.median(vals) if vals else 0


def per_layer(rec):
    spans = rec["spans"]
    values, samples = rec["values"], rec["samples"]
    out = {}

    def value(name):
        if name in values:
            return values[name]
        if name in samples:
            return stats.median(samples[name])
        return 0

    # serve increments: each step's checksum time minus the previous step's
    step_t = {span: stats.per_op(spans, span) for span, _ in SERVE_STEPS}
    ops = set.intersection(*(set(v) for v in step_t.values()))
    prev = None
    for span, metric in SERVE_STEPS:
        if prev is None:
            out[metric] = _median_or_zero({o: step_t[span][o] for o in ops})
        else:
            out[metric] = _median_or_zero({o: step_t[span][o] - step_t[prev][o] for o in ops})
        prev = span
        for field, _, _ in LISTENER:
            out[f"{span}.{field}"] = _listener(spans, span, field)
    for name in ["KvIndex.compiled", "KvIndex.entries", "KvIndex.exact_hit_share",
                 "KvIndex.prefix_hit_share", "plan.exchanges"]:
        out[name] = value(name)
    out["KvIndex.global_share"] = (
        max(0.0, 1.0 - out["KvIndex.exact_hit_share"] - out["KvIndex.prefix_hit_share"])
        if "KvIndex.exact_hit_share" in values else 0)

    life = _median_or_zero(stats.per_op(spans, "InferDbPipeline.fitLifecycle"))
    fit = _median_or_zero(stats.per_op(spans, "InferDbPipeline.fit"))
    out["InferDbPipeline.fitLifecycle_s"] = life
    out["model.train_s"] = max(0.0, life - fit) if life else 0
    for span, metric in BUILD_SPANS:
        out[metric] = _median_or_zero(stats.per_op(spans, span))
        for field, _, _ in LISTENER:
            out[f"{span}.{field}"] = _listener(spans, span, field)
    out["GreedySelector.candidates"] = value("GreedySelector.candidates")


    for span in ["Persist.save", "Persist.load", "KvIndexState.append", "KvIndexState.toModel"]:
        out[f"{span}_s"] = _median_or_zero(stats.per_op(spans, span))
        out[f"{span}.jobs"] = _listener(spans, span, "jobs")
    out["Persist.files"] = value("Persist.files")
    out["Persist.index_bytes"] = value("Persist.index_bytes")

    out["LocalScorer.score_ns"] = value("LocalScorer.score_ns")
    out["Fitted.binValue_ns"] = value("Fitted.binValue_ns")
    lookups = samples.get("lookup_us", [])
    out["LocalScorer.lookup_us_p50"] = stats.median(lookups) if lookups else 0
    out["LocalScorer.lookup_us_p90"] = stats.tail(lookups) if lookups else 0

    for fam in FAMILIES:
        out[f"{fam}.s"] = _median_or_zero(stats.per_op(spans, fam))
        out[f"{fam}.jobs"] = _listener(spans, fam, "jobs")
    out["StreamOps.trigger_ms"] = value("StreamOps.trigger_ms")

    out["Sessions.start_s"] = stats.median(rec["session_start_s"])
    out["unattributed_jobs"] = rec.get("unattributed_jobs", 0)
    out["failed_tasks"] = rec.get("failed_tasks", 0)
    out["cache_mb"] = rec["cache_mb"]
    # traced minus untraced operations of the same run, warm-up left out
    warm = rec["warmup_ops"]
    walls, traced = rec["op_wall_s"][warm:], rec["op_traced"][warm:]
    on = [w for w, t in zip(walls, traced) if t]
    off = [w for w, t in zip(walls, traced) if not t]
    out["trace.overhead_s"] = stats.median(on) - stats.median(off) if on and off else 0
    return out


def benchmark_json():
    """The BENCHMARK.json document these definitions imply."""
    whys = {  # with the workload properties measured at the commit that defined them
        "serve_compiled": "headline fused serve; fitLifecycle LR index of ~450 keys (cap 2^17), so probe "
                          "is the plan-embedded kernel; measured 100% exact hits (gated: compiled, >=95%)",
        "serve_cascade": "fixed 6x8-bin MultiClass key, ~157k trained keys (>2^17), so probe is the "
                         "broadcast-join cascade; measured ~60% exact, ~40% prefix hits (gated: join, 50-70%)",
    }
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w, "why": whys[w]} for w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd, _ in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, *_ in PER_LAYER],
    }



if __name__ == "__main__":
    # the metric reference: python3 perfbench/metrics.py
    print("| end-to-end metric | unit | better | bound | meaning |\n|---|---|---|---|---|")
    for n, u, b, bd, meaning in END_TO_END:
        print(f"| {n} | {u} | {b} | {bd} | {meaning} |")
    print("\n| per-layer metric | unit | better | moves | on | stays flat on |\n|---|---|---|---|---|---|")
    for n, u, b, moves, on, flat in PER_LAYER:
        print(f"| {n} | {u} | {b} | {moves} | {on} | {flat} |")
