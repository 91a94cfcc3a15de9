"""Metric arithmetic over the raw record a harness run writes.

Pure functions: no Spark, no files. The raw record holds set-up rows,
timed passes (each with its timed units), and for traced runs the spans,
jobs, stages, streaming batches and prefix probes.
"""
import math
import statistics

# pipeline stages CurationPipeline.stages reports through onStage
CURATE_STAGES = ["input", "exact_dedup", "neardup_canonical", "decontaminate",
                 "quality_filter", "dsir_select", "pack"]

# percentiles tried for a tail, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)

END_TO_END = [
    ("setup_s", "s"), ("run_s", "s"), ("chunk_p50_s", "s"),
    ("query_geomean_s", "s"), ("peak_rss_mb", "MB")]


def per_layer_names(query_keys):
    """Every per-layer metric (name, unit), in report order."""
    m = [("session.start_s", "s"), ("session.warmup_s", "s")]
    m += [(f"etl.{n}", "s") for n in (
        "plan_s", "wiki_transform_s", "kaggle_clean_s", "merge_s",
        "ratings_pivot_s", "load_s")]
    m += [("etl.load_jobs", "count"), ("etl.csv_read_amp", "ratio")]
    m += [(f"etl.rows_{n}", "count") for n in (
        "wiki_in", "after_filter", "after_dedup", "movies", "with_ratings")]
    m += [("functions.parse_null_frac", "ratio")]
    m += [("streaming.chunk_p50_s", "s"), ("streaming.chunk_tail_s", "s"),
          ("streaming.chunk_tail_pct", "pct"), ("streaming.chunk_tail_beyond", "count"),
          ("streaming.batches", "count"), ("streaming.rows_per_batch", "count"),
          ("streaming.add_batch_s", "s"), ("streaming.commit_overhead_s", "s"),
          ("streaming.write_mb_per_s", "MB/s")]
    m += [(f"curate.{s}_s", "s") for s in CURATE_STAGES]
    m += [(f"curate.rows_{s}", "count") for s in CURATE_STAGES]
    m += [("dedup.signatures_s", "s"), ("dedup.lsh_pairs_s", "s"), ("dedup.cc_s", "s"),
          ("dedup.candidate_pairs", "count"), ("dedup.verified_pairs", "count"),
          ("dedup.verify_yield", "ratio"), ("dedup.cc_jobs", "count"),
          ("dedup.band_task_skew", "ratio")]
    m += [(f"queries.{k}_s", "s") for k in query_keys]
    m += [("queries.build_s", "s"), ("queries.action_s", "s"),
          ("queries.jobs_per_query_p50", "count"), ("queries.jobs_total", "count")]
    m += [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
          ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
          ("spark.gc_s", "s"), ("spark.task_busy_frac", "ratio")]
    m += [("spark.storage_peak_mb", "MB"), ("jvm.vmhwm_mb", "MB")]
    m += [("trace.untraced_run_s", "s"), ("trace.traced_run_s", "s"),
          ("trace.overhead_s", "s"), ("trace.pass_self_s", "s"), ("failed_frac", "ratio")]
    return m


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def percentile(xs, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs, min_beyond=10, ladder=TAIL_LADDER):
    """The highest percentile of `ladder` that has at least `min_beyond`
    samples strictly above it: (percentile, value, samples beyond). With
    too few samples for any rung it falls back to the median, and the
    count it states is then below `min_beyond`."""
    for p in list(ladder) + [50.0]:
        v = percentile(xs, p)
        beyond = sum(1 for x in xs if x > v)
        if beyond >= min_beyond or p == 50.0:
            return p, v, beyond


def self_times(spans):
    """Span id -> its duration minus the durations of its children.
    `spans` are (id, parent, name, seconds) rows."""
    own = {s[0]: s[3] for s in spans}
    for sid, parent, _, dur in spans:
        if parent in own:
            own[parent] -= dur
    return own


def subtree(spans, root):
    """Ids of `root` and every span nested in it."""
    children = {}
    for sid, parent, _, _ in spans:
        children.setdefault(parent, []).append(sid)
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(children.get(sid, ()))
    return out


def prefix_stages(prefixes):
    """A lazy stage's own time: its noop-sinked prefix minus the prefix it
    reads. A stage reading several inputs (a join) has them computed
    concurrently, so it is charged beyond the slowest of them.
    `prefixes` are {name, inputs, s} rows."""
    total = {p["name"]: p["s"] for p in prefixes}
    return {p["name"]: p["s"] - max((total[i] for i in p["inputs"]), default=0.0)
            for p in prefixes}


def units_of(passes):
    return [(u[0], u[1]) for p in passes for u in p["units"]]


def end_to_end(raw):
    """The user-visible metrics from the untraced passes of a run."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    units = units_of(passes)
    chunks = [s for n, s in units if n == "chunk"] or [s for _, s in units]
    by_name = {}
    for n, s in units:
        if n != "chunk":
            by_name.setdefault(n, []).append(s)
    return {
        "setup_s": median([r["start_s"] + r["warmup_s"] for r in raw["setups"]]),
        "run_s": median([p["run_s"] for p in passes]),
        "chunk_p50_s": median(chunks),
        "query_geomean_s": geomean([median(v) for v in by_name.values()]),
        "peak_rss_mb": max((p["memory"]["live_mb"] for p in passes), default=0.0),
    }


class TraceView:
    """Attribution of jobs and stages to spans of one traced run."""

    def __init__(self, trace):
        self.spans = trace.get("spans", [])
        self.by_id = {s[0]: s for s in self.spans}
        self.jobs = trace.get("jobs", [])
        self.stages = trace.get("stages", {})

    def named(self, name, within=None):
        ids = subtree(self.spans, within) if within is not None else None
        return [s for s in self.spans if s[2] == name and (ids is None or s[0] in ids)]

    def jobs_in(self, span_id):
        ids = subtree(self.spans, span_id)
        return [j for j in self.jobs if j[1] in ids]

    def stage_rows(self, jobs):
        seen = {sid for j in jobs for sid in j[2]}
        return [self.stages[str(s)] for s in sorted(seen) if str(s) in self.stages]


def per_layer(raw, cores, query_keys, input_bytes=0):
    """Every per-layer metric from a traced run; layers the workload does
    not exercise report 0."""
    out = {name: 0.0 for name, _ in per_layer_names(query_keys)}
    tv = TraceView(raw["trace"])
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    units = units_of(raw["passes"])
    probes = raw["trace"].get("probes", {})
    check = raw.get("check", {})
    wl = raw["workload"]

    out["session.start_s"] = median([r["start_s"] for r in raw["setups"]])
    out["session.warmup_s"] = median([r["warmup_s"] for r in raw["setups"]])

    def span_median(name):
        return median([s[3] for p in traced for s in tv.named(name, p["span"])])

    def jobs_median(name):
        return median([len(tv.jobs_in(s[0])) for p in traced for s in tv.named(name, p["span"])])

    if wl == "etl_movies":
        out["etl.plan_s"] = span_median("etl.extractTransformLoad")
        out["etl.load_s"] = span_median("etl.load")
        out["etl.load_jobs"] = jobs_median("etl.load")
        stage = prefix_stages(probes.get("prefixes", []))
        out["etl.wiki_transform_s"] = stage.get("wiki", 0.0)
        out["etl.kaggle_clean_s"] = stage.get("kaggle", 0.0)
        out["etl.merge_s"] = stage.get("merge", 0.0)
        out["etl.ratings_pivot_s"] = stage.get("ratings_pivot", 0.0)
        read = []
        for p in traced:
            jobs = [j for n in ("etl.extractTransformLoad", "etl.load")
                    for s in tv.named(n, p["span"]) for j in tv.jobs_in(s[0])]
            read.append(sum(r["input_b"] for r in tv.stage_rows(jobs)))
        out["etl.csv_read_amp"] = median(read) / input_bytes if input_bytes else 0.0
        for n in ("wiki_in", "after_filter", "after_dedup", "movies", "with_ratings"):
            out[f"etl.rows_{n}"] = check.get(f"rows_{n}", 0)
        if check.get("parse_raw_cells"):
            out["functions.parse_null_frac"] = check["parse_nulled_cells"] / check["parse_raw_cells"]
        chunks = [s for n, s in units if n == "chunk"]
        out["streaming.chunk_p50_s"] = median(chunks)
        pct, value, beyond = tail(chunks)
        out["streaming.chunk_tail_s"] = value
        out["streaming.chunk_tail_pct"] = pct
        out["streaming.chunk_tail_beyond"] = beyond
        batches = raw["trace"].get("batches", [])
        if batches and traced:
            out["streaming.batches"] = len(batches) / len(traced)
            out["streaming.rows_per_batch"] = sum(b[1] for b in batches) / len(batches)
            out["streaming.add_batch_s"] = median([b[2] / 1e3 for b in batches])
            out["streaming.commit_overhead_s"] = median([(b[3] - b[2]) / 1e3 for b in batches])
            written = sum(r["output_b"] for p in traced for s in tv.named("streaming.chunkedLoad", p["span"])
                          for r in tv.stage_rows(tv.jobs_in(s[0])))
            add_s = sum(b[2] for b in batches) / 1e3
            out["streaming.write_mb_per_s"] = written / 2 ** 20 / add_s if add_s else 0.0

    if wl == "query_mix":
        for s in CURATE_STAGES:
            out[f"curate.{s}_s"] = median([p["outputs"]["stages"][s] for p in raw["passes"]
                                           if s in p["outputs"].get("stages", {})])
        rows = raw["passes"][0]["outputs"].get("rows", {}) if raw["passes"] else {}
        for s in CURATE_STAGES:
            out[f"curate.rows_{s}"] = rows.get(s, 0)
        stage = prefix_stages(probes.get("prefixes", []))
        out["dedup.signatures_s"] = stage.get("signatures", 0.0)
        out["dedup.lsh_pairs_s"] = stage.get("lsh_pairs", 0.0)
        out["dedup.cc_s"] = stage.get("cc", 0.0)
        out["dedup.candidate_pairs"] = probes.get("candidate_pairs", 0)
        out["dedup.verified_pairs"] = probes.get("verified_pairs", 0)
        if probes.get("candidate_pairs"):
            out["dedup.verify_yield"] = probes["verified_pairs"] / probes["candidate_pairs"]
        # the last run of each probe is the one whose jobs are counted
        last = {s[2]: s for s in tv.spans}
        if "prefix.cc" in last and "prefix.lsh_pairs" in last:
            out["dedup.cc_jobs"] = (len(tv.jobs_in(last["prefix.cc"][0]))
                                    - len(tv.jobs_in(last["prefix.lsh_pairs"][0])))
        if "prefix.lsh_pairs" in last:
            rows = tv.stage_rows(tv.jobs_in(last["prefix.lsh_pairs"][0]))
            if rows:
                widest = max(rows, key=lambda r: r["tasks"])
                mid = median(widest["dur_ms"])
                out["dedup.band_task_skew"] = max(widest["dur_ms"]) / mid if mid else 0.0
        for k in query_keys:
            out[f"queries.{k}_s"] = median([t for n, t in units if n == k])
        out["queries.build_s"] = median([sum(s[3] for s in tv.named("query.build", p["span"])) for p in traced])
        out["queries.action_s"] = median([sum(s[3] for s in tv.named("query.action", p["span"])) for p in traced])
        out["queries.jobs_per_query_p50"] = median([
            median([len(tv.jobs_in(s[0])) for k in query_keys for s in tv.named(f"query.{k}", p["span"])])
            for p in traced])
        out["queries.jobs_total"] = median([
            sum(len(tv.jobs_in(s[0])) for k in query_keys for s in tv.named(f"query.{k}", p["span"]))
            for p in traced])

    per_pass = []
    for p in traced:
        jobs = tv.jobs_in(p["span"])
        rows = tv.stage_rows(jobs)
        pass_s = tv.by_id[p["span"]][3] if p["span"] in tv.by_id else p["run_s"]
        per_pass.append({
            "spark.jobs": len(jobs), "spark.stages": len(rows),
            "spark.tasks": sum(r["tasks"] for r in rows),
            "spark.shuffle_write_mb": sum(r["shuffle_write_b"] for r in rows) / 2 ** 20,
            "spark.spill_mb": sum(r["spill_b"] for r in rows) / 2 ** 20,
            "spark.gc_s": sum(r["gc_ms"] for r in rows) / 1e3,
            "spark.task_busy_frac": sum(r["run_ms"] for r in rows) / (pass_s * 1e3 * cores),
        })
    for k in (per_pass[0] if per_pass else {}):
        out[k] = median([pp[k] for pp in per_pass])

    out["spark.storage_peak_mb"] = max((p["memory"]["storage_mb"] for p in raw["passes"]), default=0.0)
    out["jvm.vmhwm_mb"] = raw["vmhwm_kb"] / 1024.0
    out["trace.untraced_run_s"] = median([p["run_s"] for p in untraced])
    out["trace.traced_run_s"] = median([p["run_s"] for p in traced])
    out["trace.overhead_s"] = out["trace.traced_run_s"] - out["trace.untraced_run_s"]
    # time inside a traced pass that no traced program call covers
    own = self_times(tv.spans)
    out["trace.pass_self_s"] = median([own[p["span"]] for p in traced if p["span"] in own])
    return out
