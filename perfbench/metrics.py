"""Turns the raw run record written by the JVM side (perfbench.Main)
into the benchmark's metrics.

Pure functions over plain dicts and lists, so test_metrics.py can pin
them without Spark: percentiles and the tail-percentile rule, the call
site -> module mapping, and the accounting that splits traced wall time
into per-module time with an `other` remainder.
"""
import math
import os
import re
import statistics

# Layers the per-layer metrics are reported for. A job whose call site
# is in a library file outside these packages maps to `other`.
LAYERS = ("api", "checks", "types", "sql", "sources", "operators",
          "materialize")

# What one op of each route counts towards (see Recorder.op routes).
WORK_ROUTES = {
    "load": ("sql", "pq"),
    "curate": ("curate",),
    "serve": ("knn", "bm25"),
}

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    r = (len(s) - 1) * p / 100.0
    lo = math.floor(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def tail(xs):
    """(label, value): the highest percentile of TAIL_LADDER that still
    has at least ten samples beyond it; the maximum below 20 samples."""
    n = len(xs)
    for p in TAIL_LADDER:
        if n * (100.0 - p) >= 1000.0 - 1e-9:
            return "p%g" % p, percentile(xs, p)
    return "max", max(xs)


def file_modules(root):
    """Scala file name -> module, from the library tree under `root`
    (src/main/scala/graft/<pkg>/File.scala maps to <pkg>; the top-level
    Materialize.scala to `materialize`) and the benchmark's own files
    (perfbench/src/...), which map to `bench`."""
    out = {}
    lib = os.path.join(root, "src", "main", "scala", "graft")
    for d, _, files in os.walk(lib):
        rel = os.path.relpath(d, lib)
        for f in files:
            if not f.endswith(".scala"):
                continue
            if rel == ".":
                mod = "materialize" if f == "Materialize.scala" else "graft"
            else:
                mod = rel.split(os.sep)[0]
            out[f] = mod
    bench = os.path.join(root, "perfbench", "src")
    for _, _, files in os.walk(bench):
        for f in files:
            if f.endswith(".scala"):
                out[f] = "bench"
    return out


_SITE = re.compile(r" at ([A-Za-z0-9_$]+\.(?:scala|java)):\d+")


def module_of(site, modules, op_layer):
    """Module a job is attributed to, from its call site such as
    `collect at Validations.scala:66`. A job issued from the benchmark's
    own files (the action that runs a frame an operator returned)
    belongs to the layer of the op it ran in; anything that names no
    known file maps to `other`."""
    m = _SITE.search(site or "")
    mod = modules.get(m.group(1)) if m else None
    if mod == "bench":
        mod = op_layer
    if mod == "functions":
        mod = "operators"
    return mod if mod in LAYERS else "other"


def op_layer(op):
    return op["name"].split(".", 1)[0]


def driver_bucket(op):
    """Where an op's time with no Spark job running goes: driver-side
    statements on the SQL route, commit work on the parquet route, the
    op's own layer otherwise."""
    if op["route"] == "sql_index":
        return "sql.index"
    if op["route"] == "sql":
        return "sql.stmt"
    if op["route"] == "pq":
        return "sources.commit"
    return op_layer(op) + ".driver"


def attribute(ops, jobs, modules):
    """Split the wall time of `ops` among modules.

    Each job counts for the op whose interval it starts in, clipped to
    that interval. Where jobs overlap, each of the k running jobs gets
    1/k of the time; where none runs, the time goes to the op's driver
    bucket. Returns (seconds per bucket for each op, jobs per op index,
    module per job id); each op's buckets sum to its wall time."""
    per_op = {i: [] for i in range(len(ops))}
    job_mod = {}
    for j in jobs:
        for i, o in enumerate(ops):
            if o["t0"] <= j["start"] <= o["t1"]:
                per_op[i].append(j)
                job_mod[j["id"]] = module_of(j["site"], modules, op_layer(o))
                break
    op_secs = []
    for i, o in enumerate(ops):
        secs = {}
        op_secs.append(secs)
        t0, t1 = o["t0"], o["t1"]
        ivs = []
        for j in per_op[i]:
            end = j["end"] if isinstance(j["end"], (int, float)) and \
                not math.isnan(j["end"]) else t1
            a, b = max(t0, j["start"]), min(t1, end)
            if b > a:
                ivs.append((a, b, job_mod[j["id"]]))
        cuts = sorted({t0, t1} | {x for a, b, _ in ivs for x in (a, b)})
        for a, b in zip(cuts, cuts[1:]):
            active = [m for (s, e, m) in ivs if s <= a and e >= b]
            seg = (b - a) / 1000.0
            if not active:
                k = driver_bucket(o)
                secs[k] = secs.get(k, 0.0) + seg
            else:
                for m in active:
                    secs[m] = secs.get(m, 0.0) + seg / len(active)
    return op_secs, per_op, job_mod


def total(op_secs):
    out = {}
    for secs in op_secs:
        for k, v in secs.items():
            out[k] = out.get(k, 0.0) + v
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def setup_seconds(raw):
    """JVM and session start, plus the median set-up repetition, plus
    the warm-up."""
    return raw["session_s"] + median(raw["setup_reps_s"]) + raw["warmup_s"]


def rate(ops):
    """Items per second of one pass at the median time of each op: the
    per-pass items of every op name over the sum of each name's median
    wall time across the passes. A median per op keeps one op's stall
    out of the figure; with a single pass it is plain items/wall."""
    walls, items = {}, {}
    for o in ops:
        walls.setdefault(o["name"], []).append((o["t1"] - o["t0"]) / 1000.0)
        items.setdefault(o["name"], []).append(o["rows"])
    wall = sum(median(w) for w in walls.values())
    return sum(median(r) for r in items.values()) / wall if wall else 0.0


def e2e(raw, ops):
    """End-to-end metrics over `ops` (untraced): set-up time and work
    done per second — rows landed (load), corpus documents curated
    (curate) or requests served (serve)."""
    work = [o for o in ops if o["route"] in WORK_ROUTES[raw["workload"]]]
    return {"setup_s": setup_seconds(raw), "items_per_s": rate(work)}


def named(raw, ops):
    """The workload-specific end-to-end figures, by their long names."""
    def route_rate(route):
        return rate([o for o in ops if o["route"] == route])

    def lat(route):
        return [(o["t1"] - o["t0"]) / 1000.0 for o in ops if o["route"] == route]

    w = raw["workload"]
    out = {}
    if w == "load":
        f = raw.get("facts", {})
        out["load.sql_rows_per_s"] = route_rate("sql")
        out["load.parquet_rows_per_s"] = route_rate("pq")
        rows = f.get("stored_rows", 0)
        out["load.parquet_bytes_per_row"] = f.get("stored_bytes", 0) / rows if rows else 0.0
    elif w == "curate":
        out["curate.docs_per_s"] = route_rate("curate")
    elif w == "serve":
        out["serve.knn_p50_s"] = median(lat("knn"))
        out["serve.bm25_p50_s"] = median(lat("bm25"))
        both = lat("knn") + lat("bm25")
        out["serve.tail_s"] = tail(both)[1] if both else 0.0
    out["failed_ops_ratio"] = sum(not o["ok"] for o in ops) / max(1, len(ops))
    return out


E2E = (("setup_s", "s"), ("items_per_s", "1/s"))

PER_LAYER = (
    ("api.sql_create_s", "s"), ("api.sql_append_s", "s"),
    ("api.sql_upsert_small_s", "s"), ("api.sql_upsert_s", "s"),
    ("api.sql_append_once_s", "s"), ("api.pq_create_s", "s"),
    ("api.pq_create_part_s", "s"), ("api.pq_append_s", "s"),
    ("api.pq_create_orders_s", "s"), ("api.pq_upsert_s", "s"),
    ("checks.jobs", "count"), ("checks.s", "s"),
    ("types.jobs", "count"), ("types.s", "s"),
    ("sql.index_s", "s"), ("sql.write_jobs", "count"), ("sql.write_s", "s"),
    ("sql.rows_written", "count"), ("sql.stmt_s", "s"),
    ("sql.stmt_s_per_staged_row.upsert_small", "s/row"),
    ("sql.stmt_s_per_staged_row.upsert", "s/row"),
    ("sources.write_s", "s"), ("sources.bytes_written", "B"),
    ("sources.files_written", "count"), ("sources.commit_s", "s"),
    ("sources.bytes_read_per_request", "B"),
    ("operators.corpus_clean_s", "s"), ("operators.near_dup_pairs_s", "s"),
    ("operators.components_s", "s"), ("operators.clean_increment_s", "s"),
    ("operators.candidate_pairs", "count"),
    ("operators.verified_pairs", "count"), ("operators.pair_yield", "ratio"),
    ("operators.driver_s", "s"),
    ("materialize.jobs", "count"), ("materialize.s", "s"),
    ("materialize.bytes", "B"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.jobs_per_request", "count"),
    ("spark.tasks_per_request", "count"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.parallelism", "ratio"),
    ("spark.scheduler_delay_s", "s"), ("spark.shuffle_read_bytes", "B"),
    ("spark.shuffle_write_bytes", "B"), ("spark.spill_bytes", "B"),
    ("spark.failed_tasks", "count"), ("jvm.gc_s", "s"),
    ("jvm.peak_heap_mb", "MB"), ("other.s", "s"),
    ("trace.overhead_ratio", "ratio"),
    ("load.sql_rows_per_s", "1/s"), ("load.parquet_rows_per_s", "1/s"),
    ("load.parquet_bytes_per_row", "B/row"), ("curate.docs_per_s", "1/s"),
    ("failed_ops_ratio", "ratio"),
)

# Reported in addition on `serve`, which BENCHMARK.json does not list
# (see perfbench/README.md).
SERVE_LAYER = (
    ("operators.knn_s", "s"), ("operators.bm25_s", "s"),
    ("operators.ensure_s", "s"), ("operators.probed_rows", "count"),
    ("operators.shortlist_rows", "count"), ("operators.ann_build_s", "s"),
    ("operators.lex_build_s", "s"), ("serve.knn_p50_s", "s"),
    ("serve.bm25_p50_s", "s"), ("serve.tail_s", "s"),
)


def layers(raw, modules):
    """Per-layer metrics of a traced run. Times and counts are per pass
    (one load sequence, one curate pipeline, one serve request), taken
    over the traced passes; the tracing overhead compares them with the
    untraced passes that follow; the long-named end-to-end figures come
    from the measured passes before them."""
    ops = raw["ops"]
    traced = [o for o in ops if o["phase"] == "traced"]
    plain = [o for o in ops if o["phase"] == "measured"]
    after = [o for o in ops if o["phase"] == "baseline"]
    n = max(1, raw["traced_passes"])
    ex = raw.get("extras", {})
    facts = raw.get("facts", {})
    out = {name: 0.0 for name, _ in PER_LAYER + SERVE_LAYER}

    def wall(o):
        return (o["t1"] - o["t0"]) / 1000.0

    for name in {o["name"] for o in traced}:
        if name + "_s" in out:
            out[name + "_s"] = median([wall(o) for o in traced if o["name"] == name])
    op_secs, per_op, job_mod = attribute(traced, raw["jobs"], modules)
    secs = total(op_secs)
    jobs = [j for i in sorted(per_op) for j in per_op[i]]

    def of(mod):
        return [j for j in jobs if job_mod[j["id"]] == mod]

    out["checks.jobs"] = len(of("checks")) / n
    out["checks.s"] = secs.get("checks", 0.0) / n
    out["types.jobs"] = len(of("types")) / n
    out["types.s"] = secs.get("types", 0.0) / n
    out["sql.write_jobs"] = len(of("sql")) / n
    out["sql.write_s"] = secs.get("sql", 0.0) / n
    out["sql.rows_written"] = sum(j["out_records"] for j in of("sql")) / n
    out["sql.stmt_s"] = secs.get("sql.stmt", 0.0) / n
    for step in ("upsert_small", "upsert"):
        per_row = [op_secs[i].get("sql.stmt", 0.0) / o["rows"]
                   for i, o in enumerate(traced)
                   if o["name"] == "api.sql_" + step and o["rows"]]
        out["sql.stmt_s_per_staged_row." + step] = median(per_row)
    out["sql.index_s"] = secs.get("sql.index", 0.0) / n
    out["sources.write_s"] = secs.get("sources", 0.0) / n
    out["sources.commit_s"] = secs.get("sources.commit", 0.0) / n
    out["sources.bytes_written"] = ex.get("bytes_written", 0) / n
    out["sources.files_written"] = ex.get("files_written", 0) / n
    out["sources.bytes_read_per_request"] = \
        sum(j["in_bytes"] for j in jobs) / max(1, len(traced))
    cand = ex.get("candidate_pairs", 0)
    out["operators.candidate_pairs"] = cand
    out["operators.verified_pairs"] = ex.get("verified_pairs", 0)
    out["operators.pair_yield"] = ex.get("verified_pairs", 0) / cand if cand else 0.0
    knn = sum(o["route"] == "knn" for o in traced)
    out["operators.probed_rows"] = ex.get("probed_rows", 0) / max(1, knn)
    out["operators.shortlist_rows"] = ex.get("shortlist_rows", 0) / max(1, knn)
    out["operators.ann_build_s"] = median(facts.get("ann_build_s", []))
    out["operators.lex_build_s"] = median(facts.get("lex_build_s", []))
    out["operators.ensure_s"] = facts.get("ensure_s", 0.0)
    out["operators.driver_s"] = secs.get("operators.driver", 0.0) / n
    out["materialize.jobs"] = len(of("materialize")) / n
    out["materialize.s"] = secs.get("materialize", 0.0) / n
    out["materialize.bytes"] = raw.get("block_bytes", 0) / n
    busy = sum(wall(o) for o in traced)
    run_s = sum(j["run_ms"] for j in jobs) / 1000.0
    out["spark.jobs"] = len(jobs) / n
    out["spark.stages"] = sum(j["stages"] for j in jobs) / n
    out["spark.tasks"] = sum(j["tasks"] for j in jobs) / n
    out["spark.jobs_per_request"] = len(jobs) / max(1, len(traced))
    out["spark.tasks_per_request"] = sum(j["tasks"] for j in jobs) / max(1, len(traced))
    out["spark.executor_run_s"] = run_s / n
    out["spark.executor_cpu_s"] = sum(j["cpu_ns"] for j in jobs) / 1e9 / n
    out["spark.parallelism"] = run_s / busy if busy else 0.0
    out["spark.scheduler_delay_s"] = sum(j["sched_ms"] for j in jobs) / 1000.0 / n
    out["spark.shuffle_read_bytes"] = sum(j["shuffle_read"] for j in jobs) / n
    out["spark.shuffle_write_bytes"] = sum(j["shuffle_write"] for j in jobs) / n
    out["spark.spill_bytes"] = sum(j["spill"] for j in jobs) / n
    out["spark.failed_tasks"] = sum(j["failed_tasks"] for j in jobs) / n
    out["jvm.gc_s"] = raw.get("gc_s", 0.0) / n
    out["jvm.peak_heap_mb"] = raw.get("peak_heap_mb", 0.0)
    out["other.s"] = secs.get("other", 0.0) / n
    routes = WORK_ROUTES[raw["workload"]]
    tw = sum(wall(o) for o in traced if o["route"] in routes)
    uw = sum(wall(o) for o in after if o["route"] in routes)
    out["trace.overhead_ratio"] = tw / uw if uw else 0.0
    out.update(named(raw, plain))
    keep = PER_LAYER + (SERVE_LAYER if raw["workload"] == "serve" else ())
    return {k: out[k] for k, _ in keep}
