"""Per-layer metrics of a traced run, from the spans recorded around the
program's calls and from Spark's event log.

Only traced steps count. Runner and merge numbers are per catch-up hour;
catalog and operator numbers are per pass; Spark engine numbers are per
traced ``run_hour`` call (the replay included) or per pass. A layer that does not run on a workload reports 0.
"""

from __future__ import annotations

import glob
import os

from spans import busy_share
from workloads import FAMILIES, median

STAR_TABLES = ["LineDim", "StopDim", "VehicleDim", "WeatherDim", "TimeDim", "DelayFact"]

# (name, unit, better)
PER_LAYER = (
    [
        ("session.start_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("process.peak_rss_mb", "MB", "lower"),
        ("sources.read_s", "s", "lower"),
        ("plans.inputs_s", "s", "lower"),
        ("plans.star_build_s", "s", "lower"),
        ("runner.jobs_per_hour", "count", "lower"),
        ("runner.replay_hour_s", "s", "lower"),
        ("runner.replay_jobs_per_hour", "count", "lower"),
        ("runner.verify_s", "s", "lower"),
        ("runner.verify_jobs", "count", "lower"),
        ("runner.empty_check_s", "s", "lower"),
        ("runner.empty_check_jobs", "count", "lower"),
        ("runner.retries", "count", "lower"),
    ]
    + [(f"runner.unit_s.{t}", "s", "lower") for t in STAR_TABLES]
    + [
        ("merge.s", "s", "lower"),
        ("merge.jobs", "count", "lower"),
        ("merge.rows_in", "rows", "lower"),
        ("merge.rows_appended", "rows", "higher"),
        ("merge.append_ratio", "ratio", "higher"),
        ("merge.probe_rows", "rows", "lower"),
        ("merge.files_published", "count", "lower"),
        ("warehouse.files", "count", "lower"),
        ("warehouse.bytes_per_row", "B", "lower"),
        ("catalog.build_s", "s", "lower"),
        ("catalog.build_jobs", "count", "lower"),
        ("catalog.action_s", "s", "lower"),
        ("catalog.action_jobs", "count", "lower"),
    ]
    + [(f"operators.{f}.{k}", u, "lower") for f in FAMILIES for k, u in (("s", "s"), ("jobs", "count"))]
    + [
        ("spark.jobs", "count", "lower"),
        ("spark.stages", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.task_busy_s", "s", "lower"),
        ("spark.idle_share", "ratio", "lower"),
        ("spark.shuffle_read_bytes", "B", "lower"),
        ("spark.shuffle_write_bytes", "B", "lower"),
        ("spark.spill_bytes", "B", "lower"),
        ("spark.input_bytes", "B", "lower"),
        ("spark.output_bytes", "B", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("spark.failed_tasks", "count", "lower"),
        ("spark.unattributed_jobs", "count", "lower"),
        ("trace.overhead_share", "ratio", "lower"),
    ]
)


def parquet_stats(path: str) -> tuple[int, int, int]:
    """(files, rows, bytes) of the published parquet parts of a table."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(path, "*.parquet"))
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return len(files), rows, sum(os.path.getsize(f) for f in files)


def compute(tracer, m, ev, *, session: dict, overhead: float, incoming: dict, warehouse: str) -> dict:
    vals = {name: 0.0 for name, _, _ in PER_LAYER}
    vals.update(session)
    vals["trace.overhead_share"] = overhead
    spans = tracer.spans
    by_id = {s.sid: s for s in spans}
    jobs = tracer.subtree_jobs()

    def root(s):
        while s.parent is not None:
            s = by_id[s.parent]
        return s

    top = {s.sid: root(s).name for s in spans}
    hours = [s for s in spans if s.name == "runner.run_hour"]
    replays = [s for s in spans if s.name == "runner.replay_hour"]
    steps = max(len(m.windows), 1)  # traced steps: hours (replay included) or passes

    if hours:
        n = len(hours)
        in_hour = [s for s in spans if top[s.sid] == "runner.run_hour"]

        def per_hour(prefix, what="s"):
            sel = [s for s in in_hour if s.name.startswith(prefix)]
            return sum(s.dur if what == "s" else jobs[s.sid] for s in sel) / n

        vals["runner.jobs_per_hour"] = median([jobs[s.sid] for s in hours])
        vals["runner.replay_hour_s"] = median([s.dur for s in replays])
        vals["runner.replay_jobs_per_hour"] = median([jobs[s.sid] for s in replays])
        vals["sources.read_s"] = per_hour("sources.")
        vals["plans.inputs_s"] = per_hour("plans.inputs.")
        vals["plans.star_build_s"] = per_hour("plans.star_build.")
        vals["runner.verify_s"] = per_hour("runner.verify_views")
        vals["runner.verify_jobs"] = per_hour("runner.verify_views", "jobs")
        vals["merge.s"] = per_hour("merge.")
        vals["merge.jobs"] = per_hour("merge.", "jobs")
        for t in STAR_TABLES:
            vals[f"runner.unit_s.{t}"] = per_hour(f"runner.unit.{t}")
        own = tracer.self_time()
        units = [s for s in in_hour if s.name.startswith("runner.unit.")]
        vals["runner.empty_check_s"] = sum(own[s.sid] for s in units) / n
        vals["runner.empty_check_jobs"] = sum(s.jobs for s in units) / n
        vals["runner.retries"] = m.extra["retries"]
        caught_up = [s.attrs["hour"] for s in hours]
        appended = sum(sum(m.extra["appended"][h].values()) for h in caught_up)
        rows_in = sum(
            sum(v.get(h, 0) if isinstance(v, dict) else v for v in incoming.values()) for h in caught_up
        )
        vals["merge.rows_appended"] = appended / n
        vals["merge.rows_in"] = rows_in / n
        vals["merge.append_ratio"] = appended / rows_in if rows_in else 0.0
        # the target rows each merge probes: what earlier hours appended
        before, probe = {}, 0
        for h in m.extra["loaded"]:
            if h in caught_up:
                probe += sum(before.get(t, 0) for t in m.extra["merged"][h])
            for t, k in m.extra["appended"][h].items():
                before[t] = before.get(t, 0) + k
        vals["merge.probe_rows"] = probe / n
        vals["merge.files_published"] = sum(m.extra["published"][h] for h in caught_up) / n
        files = rows = size = 0
        for t in STAR_TABLES:
            f, r, b = parquet_stats(os.path.join(warehouse, t))
            files, rows, size = files + f, rows + r, size + b
        vals["warehouse.files"] = files
        vals["warehouse.bytes_per_row"] = size / rows if rows else 0.0
    else:
        for s in spans:
            if s.name.startswith("catalog.build."):
                vals["catalog.build_s"] += s.dur / steps
                vals["catalog.build_jobs"] += jobs[s.sid] / steps
            elif s.name.startswith("catalog.action."):
                vals["catalog.action_s"] += s.dur / steps
                vals["catalog.action_jobs"] += jobs[s.sid] / steps
            elif s.name.startswith("catalog.entry."):
                fam = s.attrs["family"]
                vals[f"operators.{fam}.s"] += s.dur / steps
                vals[f"operators.{fam}.jobs"] += jobs[s.sid] / steps

    t = ev.totals()
    vals["spark.jobs"] = t.jobs / steps
    vals["spark.stages"] = t.stages / steps
    vals["spark.tasks"] = t.tasks / steps
    vals["spark.task_busy_s"] = t.task_busy_s / steps
    wall = sum(e - s for s, e in m.windows)
    busy = sum(busy_share(t.intervals, s, e) * (e - s) for s, e in m.windows)
    vals["spark.idle_share"] = 1.0 - busy / wall if wall else 0.0
    vals["spark.shuffle_read_bytes"] = t.shuffle_read_bytes / steps
    vals["spark.shuffle_write_bytes"] = t.shuffle_write_bytes / steps
    vals["spark.spill_bytes"] = t.spill_bytes / steps
    vals["spark.input_bytes"] = t.input_bytes / steps
    vals["spark.output_bytes"] = t.output_bytes / steps
    vals["spark.gc_s"] = t.gc_s / steps
    vals["spark.failed_tasks"] = t.failed_tasks
    vals["spark.unattributed_jobs"] = ev.totals({None}).jobs
    return vals
