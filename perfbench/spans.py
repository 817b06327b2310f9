"""Spans around calls into the program's layers, with Spark jobs
attributed to each span through job groups.

A span records its name, start, end, parent span and batch id. Opening
a span sets a Spark job group of its own on the calling thread, and
closing it restores the parent's group, so every Spark job belongs to
the innermost open span. The span's jobs and their stages are read from
Spark's status stores when the span closes: read at the end of a run,
jobs past ``spark.ui.retainedJobs`` would already be evicted. Spans are
kept in memory and written out by the caller at the end of the run.

``install`` wraps the public functions each layer exposes, in the
namespaces that call them (a function imported with ``from x import f``
is looked up in the importing module), so nothing in the program
changes. The tracer's own bookkeeping time is accumulated as
``overhead_s``: it is the wall time a traced run spends beyond an
untraced one doing the same work.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time

ROOT_GROUP = "perfbench-untraced"

# The span around each operation; the Spark totals of a run sum these.
OP_SPAN = "op"

# Functions the CLI pipeline calls, wrapped where pipeline.run calls them.
PIPELINE_OPERATORS = (
    "normalize_strings", "with_row_id", "extract_node", "add_secondary_id",
    "combine_columns", "extract_parent_property", "remove_nodes", "drop_internal",
    "string_canonical_dedup", "drop_all_null_prop_rows", "combine_rows",
    "clean_data", "ui_validation", "ssn_validation", "id_validation",
)
PIN_NAMES = ("pin.filtered", "pin.deduped", "pin.clustered")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.batch: str | None = None
        self.overhead_s = 0.0
        self.sc.setJobGroup(ROOT_GROUP, "outside spans")

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the body as span ``name``; yields the span record, whose
        ``attrs`` dict the body may fill."""
        t_in = time.perf_counter()
        rec = {
            "id": len(self.spans) + len(self.stack),
            "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "batch": self.batch,
            "attrs": {},
            "own": _empty_counts(),
            "incl": _empty_counts(),
        }
        self.stack.append(rec)
        self.sc.setJobGroup(_group(rec), name)
        rec["start"] = time.perf_counter() - self.t0
        self.overhead_s += time.perf_counter() - t_in
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["end"] = t_out - self.t0
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(_group(self.stack[-1]), self.stack[-1]["name"])
            else:
                self.sc.setJobGroup(ROOT_GROUP, "outside spans")
            self._read_jobs(rec)
            if self.stack:
                _add(self.stack[-1]["incl"], rec["incl"])
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t_out

    def record(self, name: str, start: float, end: float) -> None:
        """A span timed by the caller (``time.perf_counter`` values) for
        work done before the tracer existed, such as session start."""
        self.spans.append({
            "id": len(self.spans) + len(self.stack), "name": name, "parent": None,
            "batch": None, "attrs": {}, "own": _empty_counts(), "incl": _empty_counts(),
            "start": start - self.t0, "end": end - self.t0,
        })

    def _read_jobs(self, rec: dict) -> None:
        job_ids = self.status.getJobIdsForGroup(_group(rec))
        _add(rec["own"], stage_totals(self.sc, job_ids))
        _add(rec["incl"], rec["own"])


def stage_totals(sc, job_ids) -> dict:
    """Job, stage and task totals of the given Spark jobs, read from the
    status stores. Only stages that ran count (a skipped stage reused an
    earlier shuffle)."""
    status, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = _empty_counts()
    for job_id in job_ids:
        out["jobs"] += 1
        info = status.getJobInfo(job_id)
        if info is None:
            continue
        for stage_id in info.stageIds:
            stage = status.getStageInfo(stage_id)
            if stage is None:
                continue
            data = store.stageAttempt(stage_id, stage.currentAttemptId, False, None, False, None)._1()
            if data.status().toString() != "COMPLETE":
                continue
            run_s = data.executorRunTime() / 1e3
            out["stages"] += 1
            out["tasks"] += data.numTasks()
            out["task_time_s"] += run_s
            out["gc_s"] += data.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += data.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (data.memoryBytesSpilled() + data.diskBytesSpilled()) / 2**20
            if data.numTasks() > 1 and run_s > 0:
                summary = store.taskSummary(stage_id, stage.currentAttemptId, quantiles)
                if summary.isDefined():
                    q = summary.get().executorRunTime()
                    # Weighted by stage time: a skewed stage costs in
                    # proportion to how long the stage runs.
                    out["skew_weighted_s"] += run_s * q.apply(1) / max(q.apply(0), 1.0)
                    out["skew_weight_s"] += run_s
    return out


def inclusive_total(records: list[dict]) -> dict:
    """Sum of the inclusive Spark counts of the given spans."""
    out = _empty_counts()
    for rec in records:
        _add(out, rec["incl"])
    return out


def _group(rec: dict) -> str:
    return f"perfbench-span-{rec['id']}"


def _empty_counts() -> dict:
    return dict.fromkeys(
        ("jobs", "stages", "tasks", "task_time_s", "gc_s", "shuffle_write_mb",
         "spill_mb", "skew_weighted_s", "skew_weight_s"), 0,
    )


def _add(into: dict, counts: dict) -> None:
    for k, v in counts.items():
        into[k] += v


def wrap(tracer: Tracer, owner, attr: str, name, on_return=None) -> None:
    """Replace ``owner.attr`` by a function that runs it inside a span.
    ``name`` is the span name, or a function returning it per call;
    ``on_return(span, result)`` may record attributes of the result."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name() if callable(name) else name) as rec:
            result = fn(*args, **kwargs)
            if on_return is not None:
                on_return(rec, result)
            return result

    setattr(owner, attr, traced)


def _tsv_written(rec: dict, path) -> None:
    rec["attrs"]["files"] = 1 if path else 0
    rec["attrs"]["bytes"] = os.path.getsize(path) if path else 0


def install(tracer: Tracer) -> None:
    """Wrap the layers' public functions where the program calls them."""
    from cds_etl_spark import cli, llm_pipeline, pipeline
    from cds_etl_spark.sources import files

    wrap(tracer, cli, "main", "cli.main")
    wrap(tracer, cli, "load_model", "model.load")
    wrap(tracer, cli, "read_metadata", "sources.read_metadata")
    wrap(tracer, cli.CdsPipeline, "run", "pipeline.run")
    for op in PIPELINE_OPERATORS:
        wrap(tracer, pipeline, op, f"operators.{op}")
    wrap(tracer, cli, "add_historical_value", "history.merge")
    wrap(tracer, cli, "stamp_historical_value", "history.stamp")
    wrap(tracer, cli, "write_tsv_file", "sources.write_tsv", _tsv_written)
    wrap(tracer, files, "write_tsv_file", "sources.write_tsv", _tsv_written)

    # pin_stage is called once per pinned stage, in pipeline order.
    pins = {"n": 0}

    def pin_name() -> str:
        i = pins["n"]
        pins["n"] += 1
        return PIN_NAMES[i] if i < len(PIN_NAMES) else f"pin.stage{i}"

    def reset_pins(_rec, _result) -> None:
        pins["n"] = 0

    wrap(tracer, llm_pipeline, "pin_stage", pin_name)
    wrap(tracer, llm_pipeline, "connected_components", "components.connected_components")
    wrap(tracer, llm_pipeline, "prepare_training_data", "llm_pipeline.build", reset_pins)
