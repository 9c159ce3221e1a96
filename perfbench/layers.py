"""Per-layer metrics of a traced run: spans plus the Spark event log.

Every value is a total over the run's one timed pass, or over its set-up
(session boot, artifact build). Layers a workload does not exercise
read 0.
"""

from __future__ import annotations

import eventlog
import queries

SPARK_KEYS = (
    "exec_s", "jobs", "stages", "tasks", "single_task_stages", "task_run_s",
    "task_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "task_skew", "python_mb",
)


def _unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MiB"
    if suffix in ("task_skew", "scan_amplification", "bytes_out_per_byte_in"):
        return "ratio"
    return "count"


LAYER_NAMES = (
    ["session.boot_s", "artifacts.prebuild_s", "artifacts.jobs", "artifacts.task_cpu_s",
     "artifacts.bytes_mb", "registry.build_s", "registry.build_jobs", "spark.driver_gap_s"]
    + [f"spark.{k}" for k in SPARK_KEYS]
    + [f"{f}.{m}" for f in queries.FAMILIES for m in ("build_s", "exec_s", "jobs", "task_cpu_s")]
    + ["readers.csv_read_mb", "readers.scan_amplification", "pipeline.curate_s",
       "pipeline.present_s", "pipeline.jobs", "writers.write_s", "writers.files_out",
       "writers.bytes_out_mb", "writers.bytes_out_per_byte_in", "trace.wall_s",
       "trace.pass_self_s", "trace.setup_self_s"]
)
LAYER_UNITS = {name: _unit(name) for name in LAYER_NAMES}


def layer_metrics(log, tracer, res: dict, workload: str) -> dict[str, float]:
    """Layer totals of the timed pass and the set-up, from spans + event log."""
    eventlog.adopt_orphans(log, [(s.group, s.start, s.end) for s in tracer.spans if s.group])
    timed = res["pass"]
    ops = [o for o in tracer.children(tracer.spans.index(timed)) if o.group]
    op_groups = {o.group for o in ops if not o.name.startswith("oracle:")}
    out = {name: 0.0 for name in LAYER_NAMES}
    out.update({f"spark.{k}": v for k, v in eventlog.group_metrics(log, op_groups).items()})
    out["spark.driver_gap_s"] = sum(
        eventlog.driver_gap_s(log, o.group, o.start, o.end) for o in ops if o.group in op_groups
    )
    out["trace.pass_self_s"] = tracer.self_time(timed)
    if workload == "medallion_etl":
        writes = [o for o in ops if o.name.startswith("write:")]
        metric_writes = {o.group for o in writes if o.name.startswith("write:presentation/")}
        mg = eventlog.group_metrics(log, metric_writes)
        present_s = sum(o.dur for o in ops if o.name == "present")
        out.update({
            "readers.csv_read_mb": out["spark.file_read_mb"],
            "readers.scan_amplification": out["spark.file_read_mb"] / res["csv_mb"],
            "pipeline.curate_s": sum(o.dur for o in ops if o.name == "curate"),
            "pipeline.present_s": present_s,
            "pipeline.jobs": out["spark.jobs"],
            "writers.write_s": sum(o.dur for o in writes),
            "metrics.build_s": present_s,
            "metrics.exec_s": sum(o.dur for o in writes if o.group in metric_writes),
            "metrics.jobs": mg["jobs"],
            "metrics.task_cpu_s": mg["task_cpu_s"],
        })
    else:
        build, execs = {}, {}
        for q in ops:
            for child in tracer.children(tracer.spans.index(q)):
                kind, key = child.name.split(":", 1)
                (build if kind == "build" else execs)[key] = child
        out["registry.build_s"] = sum(s.dur for s in build.values())
        out["registry.build_jobs"] = float(sum(
            eventlog.jobs_started_before(log, k, s.end) for k, s in build.items()
        ))
        for fam in queries.FAMILIES:
            keys = [k for k, (f, _) in queries.KEYS.items() if f == fam and k in build]
            fg = eventlog.group_metrics(log, set(keys))
            out[f"{fam}.build_s"] = sum(build[k].dur for k in keys)
            out[f"{fam}.exec_s"] = sum(execs[k].dur for k in keys if k in execs)
            out[f"{fam}.jobs"] = fg["jobs"]
            out[f"{fam}.task_cpu_s"] = fg["task_cpu_s"]
        pb = res["prebuild"]
        ag = eventlog.group_metrics(log, {pb.group})
        out["artifacts.prebuild_s"] = pb.dur
        out["artifacts.jobs"] = ag["jobs"]
        out["artifacts.task_cpu_s"] = ag["task_cpu_s"]

    out.update(res["layers"])
    out["session.boot_s"] = res["boot_s"]
    setup = next(s for s in tracer.spans if s.name == "setup")
    out["trace.setup_self_s"] = tracer.self_time(setup)
    return {name: out[name] for name in LAYER_NAMES}
