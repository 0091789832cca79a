"""Derives the benchmark's metrics from one raw run record (the JSON the
benchmark JVM writes). End-to-end metrics come from the untraced run;
per-layer metrics from the traced run's spans, span counters and Spark
listener records."""

from stats import descendants, interquartile_mean, median, self_times, union_length

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "job_s_p50": "s",
    "ok_ratio": "ratio",
    "peak_rss_mb": "MB",
}

# per-layer metric -> span the benchmark opens around that module call
LAYER_SPANS = {
    "sources.images.synth_s": "sources.images",
    "operators.tiling.assign_s": "operators.tiling",
    "sources.sink.write_s": "sources.sink.write",
    "sources.sink.manifest_s": "sources.sink.manifest",
    "operators.regionalizer.s": "operators.regionalizer",
    "operators.join.s": "operators.join",
    "operators.dedup.exact_s": "operators.dedup.exact",
    "operators.dedup.phash_s": "operators.dedup.phash",
}
KERNEL_SPANS = {
    "functions.s2_cover_s": "functions.s2_cover",
    "functions.s2_cell_s": "functions.s2_cell",
    "functions.st_intersects_s": "functions.st_intersects",
    "functions.img_synth_s": "functions.img_synth",
    "functions.md5_s": "functions.md5",
    "functions.phash_s": "functions.phash",
}

PER_LAYER = {
    "sources.sink.write_s": "s",
    "sources.sink.spark_write_s": "s",
    "sources.sink.commit_driver_s": "s",
    "sources.sink.manifest_s": "s",
    "sources.sink.files": "count",
    "sources.sink.bytes": "bytes",
    "sources.sink.rows_per_file": "rows",
    "sources.sink.jobs": "count",
    "sources.sink.resume_s": "s",
    "sources.sink.resume_rows_rewritten": "rows",
    "sources.sink.stored_bytes_per_row": "bytes",
    "sources.images.synth_s": "s",
    "sources.images.encode_rows": "rows",
    "functions.s2_cover_s": "s",
    "functions.s2_cell_s": "s",
    "functions.st_intersects_s": "s",
    "functions.img_synth_s": "s",
    "functions.md5_s": "s",
    "functions.phash_s": "s",
    "functions.cover_cells_per_row": "cells",
    "operators.tiling.assign_s": "s",
    "operators.tiling.cells_per_image": "cells",
    "operators.regionalizer.s": "s",
    "operators.regionalizer.regions": "count",
    "operators.join.s": "s",
    "operators.join.region_cells": "rows",
    "operators.join.feature_cells": "rows",
    "operators.join.candidates": "rows",
    "operators.join.pairs": "rows",
    "operators.join.refine_yield": "ratio",
    "operators.join.dup_pairs_dropped": "rows",
    "operators.dedup.exact_s": "s",
    "operators.dedup.phash_s": "s",
    "operators.dedup.band_candidates": "rows",
    "operators.dedup.verified_pairs": "rows",
    "operators.dedup.verify_yield": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.core_util": "ratio",
    "spark.no_task_s": "s",
    "trace.overhead_s": "s",
    "trace.layer_coverage": "ratio",
}

# Spark listener record layouts (see PerfBench.scala)
JOB_SPAN, JOB_START, JOB_END = 0, 1, 2
(T_SPAN, T_STAGE, T_LAUNCH, T_FINISH, T_RUN, T_CPU, T_GC, T_SW, T_SR,
 T_SPILL) = range(10)


def outcome(raw):
    """(attempted, failed, correct) over timed jobs and post-loop jobs."""
    errors = [j["error"] for j in raw["jobs"]] + list(raw["extra_errors"])
    attempted = len(errors)
    failed = sum(1 for e in errors if e is not None)
    return attempted, failed, failed == 0 and not raw["setup_errors"]


def end_to_end(raw, spawn_ms):
    timed = [j["s"] for j in raw["jobs"] if not j["traced"]]
    attempted, failed, _ = outcome(raw)
    setup = ((raw["session_ready_ms"] - spawn_ms) / 1000.0 + raw["warmup_s"]
             + median(raw["gen_s"]))
    return {
        "setup_s": setup,
        # over the middle half of the jobs, so a job caught by a host stall
        # does not move it
        "rows_per_s": raw["input_rows"] / interquartile_mean(timed),
        "job_s_p50": median(timed),
        "ok_ratio": (attempted - failed) / attempted,
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
    }


def per_layer(raw):
    spans = raw["spans"]
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    dur = {s["id"]: (s["end_us"] - s["start_us"]) / 1e6 for s in spans}
    traced = [s["id"] for s in spans if s["name"] == "job.traced"]
    untraced = [s["id"] for s in spans if s["name"] == "job"]
    below = {r: descendants(spans, r) for r in traced}
    out = {name: 0.0 for name in PER_LAYER}

    def per_traced_job(fn):
        return median([fn(r) for r in traced])

    def named_under(r, name):
        return [i for i in below[r] if by_id[i]["name"] == name]

    for metric, name in LAYER_SPANS.items():
        out[metric] = per_traced_job(
            lambda r, n=name: sum(selfs[i] for i in named_under(r, n)) / 1e6)
    for metric, name in KERNEL_SPANS.items():
        out[metric] = median([dur[s["id"]] for s in spans if s["name"] == name])
    resume = [dur[s["id"]] for s in spans if s["name"] == "sources.sink.resume"]
    out["sources.sink.resume_s"] = median(resume)

    # Spark time inside the sink's write call, and the driver-serial rest
    def write_spark(r):
        total = 0.0
        for i in named_under(r, "sources.sink.write"):
            s = by_id[i]
            jobs = [(j[JOB_START], j[JOB_END]) for j in raw["spark_jobs"]
                    if j[JOB_SPAN] == i]
            total += union_length(jobs, s["start_us"] / 1000.0,
                                  s["end_us"] / 1000.0) / 1000.0
        return total
    out["sources.sink.spark_write_s"] = per_traced_job(write_spark)
    out["sources.sink.commit_driver_s"] = per_traced_job(
        lambda r: sum(dur[i] for i in named_under(r, "sources.sink.write"))
        - write_spark(r))
    out["sources.sink.jobs"] = per_traced_job(lambda r: sum(
        1 for j in raw["spark_jobs"]
        if j[JOB_SPAN] in named_under(r, "sources.sink.write")))

    queries_in = lambda ids: [q for q in raw["queries"] if q["span"] in ids]
    out["sources.images.encode_rows"] = median(
        [sum(q["encode_rows"] for q in queries_in({i})) for i in untraced])
    out["operators.dedup.band_candidates"] = per_traced_job(lambda r: sum(
        q["join_rows"] for q in queries_in(set(named_under(r, "operators.dedup.phash")))))

    for s in spans:
        for k, v in s["attrs"].items():
            out[k] = v
    out["operators.dedup.verify_yield"] = (
        out["operators.dedup.verified_pairs"] / out["operators.dedup.band_candidates"]
        if out["operators.dedup.band_candidates"] else 0.0)

    out.update(spark_layer(raw, [by_id[i] for i in untraced]))
    out["trace.overhead_s"] = (median([dur[i] for i in traced])
                               - median([dur[i] for i in untraced]))
    out["trace.layer_coverage"] = per_traced_job(
        lambda r: sum(selfs[i] for i in below[r]) / 1e6 / dur[r])
    return out


def spark_layer(raw, jobs):
    """Scheduler counters per untraced job of the traced run."""
    n = max(1, len(jobs))
    ids = {s["id"] for s in jobs}
    tasks = [t for t in raw["tasks"] if t[T_SPAN] in ids]
    wall = sum((s["end_us"] - s["start_us"]) / 1e6 for s in jobs)
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t[T_STAGE], []).append(t[T_RUN])
    skews = [max(v) / median(v) for v in by_stage.values()
             if len(v) > 1 and median(v) > 0]
    idle = []
    for s in jobs:
        lo, hi = s["start_us"] / 1000.0, s["end_us"] / 1000.0
        busy = union_length([(t[T_LAUNCH], t[T_FINISH]) for t in tasks
                             if t[T_SPAN] == s["id"]], lo, hi)
        idle.append((hi - lo - busy) / 1000.0)
    run_s = sum(t[T_RUN] for t in tasks) / 1000.0
    return {
        "spark.jobs": sum(1 for j in raw["spark_jobs"] if j[JOB_SPAN] in ids) / n,
        "spark.tasks": len(tasks) / n,
        "spark.task_run_s": run_s / n,
        "spark.task_cpu_s": sum(t[T_CPU] for t in tasks) / 1e9 / n,
        "spark.gc_s": sum(t[T_GC] for t in tasks) / 1000.0 / n,
        "spark.shuffle_write_bytes": sum(t[T_SW] for t in tasks) / n,
        "spark.shuffle_read_bytes": sum(t[T_SR] for t in tasks) / n,
        "spark.spill_bytes": sum(t[T_SPILL] for t in tasks) / n,
        "spark.task_skew": max(skews) if skews else 1.0,
        "spark.core_util": run_s / (wall * raw["cpus"]) if wall else 0.0,
        "spark.no_task_s": median(idle),
    }


def result(raw, spawn_ms):
    """The result object the benchmark prints as its last line."""
    attempted, failed, correct = outcome(raw)
    if raw["trace"]:
        values, units = per_layer(raw), PER_LAYER
    else:
        values, units = end_to_end(raw, spawn_ms), END_TO_END
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
