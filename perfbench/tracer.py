"""Per-layer tracing for ``--trace 1`` runs.

The tracer reaches each layer from outside, through its public names:

- it wraps the named package functions (catalog, graph, similarity,
  dedup, sinks) before any plan module or ``pipeline`` is imported, so
  their ``from .. import name`` bindings pick up the wrapper; a wrapper
  adds its call's wall time and the jobs started inside it;
- a py4j ``QueryExecutionListener`` reads
  ``queryExecution().tracker().phases()`` of every SQL execution;
- Spark's event log (uncompressed, not rolling) gives per-task executor
  metrics, grouped by the job group of each operation;
- /proc gives the CPU time of the JVM and of the Python processes.

Spans are kept in memory and turned into metrics when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

from harness import Harness

# Every per-layer metric, in BENCHMARK.json order. Layers a workload does
# not reach read 0.
BATCH_OPS = (
    "monthly_export", "render_classify", "amenity_proximity", "polygon_clip",
    "nrt_replay",
    "minhash_lsh_pairs", "dedup_exact", "text_quality",
    "curation_pipeline_e2e", "ann_ivf", "ann_pq",
)
PER_LAYER = (
    "session.start_s", "warmup_s", "plans.build_s", "plans.eager_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "spark.jobs", "spark.stages", "spark.tasks",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.shuffle_write_mb",
    "exec.shuffle_read_mb", "exec.spill_mb", "exec.input_mb",
    "proc.jvm_cpu_s", "proc.python_cpu_s", "proc.peak_rss_mb",
    "catalog.load_s", "catalog.scan_tasks", "graph.cc_s", "graph.cc_jobs",
    "similarity.ivf_train_s", "dedup.minhash_s", "sinks.write_s",
    "sinks.written_mb", "stream.triggers", "stream.trigger_p50_s",
    "stream.rows_per_s", "stream.first_trigger_s",
    "stream.add_batch_ms", "stream.get_batch_ms", "stream.latest_offset_ms",
    "stream.query_planning_ms", "stream.wal_commit_ms",
    "stream.commit_offsets_ms", "stream.state_rows", "stream.state_mb",
) + tuple(f"op.{o}_s" for o in BATCH_OPS)

UNITS = {"rows_per_s": "rows/s", "_s": "s", "_ms": "ms", "_mb": "MB"}

# (span name, module, function, whether the 2nd argument is an output path)
WRAPPED = (
    ("catalog.load", "gee_datapipeline_spark.catalog", "load_table", False),
    ("graph.cc", "gee_datapipeline_spark.operators.graph",
     "connected_components", False),
    ("similarity.ivf_train", "gee_datapipeline_spark.functions.similarity",
     "ivf_centroids", False),
    ("dedup.minhash", "gee_datapipeline_spark.functions.dedup",
     "minhash_lsh_pairs", False),
    ("sinks.write", "gee_datapipeline_spark.sinks.writers", "write_pixels",
     True),
    ("sinks.write", "gee_datapipeline_spark.sinks.writers",
     "write_points_csv", True),
)

MB = 1 << 20
# (metric, key path in an event log's "Task Metrics", scale)
TASK_METRICS = (
    ("exec.run_s", ("Executor Run Time",), 1e-3),
    ("exec.cpu_s", ("Executor CPU Time",), 1e-9),
    ("exec.gc_s", ("JVM GC Time",), 1e-3),
    ("exec.spill_mb", ("Disk Bytes Spilled",), 1 / MB),
    ("exec.shuffle_read_mb", ("Shuffle Read Metrics", "Remote Bytes Read"),
     1 / MB),
    ("exec.shuffle_read_mb", ("Shuffle Read Metrics", "Local Bytes Read"),
     1 / MB),
    ("exec.shuffle_write_mb",
     ("Shuffle Write Metrics", "Shuffle Bytes Written"), 1 / MB),
    ("exec.input_mb", ("Input Metrics", "Bytes Read"), 1 / MB),
)


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _lookup(d: dict, path: tuple[str, ...]) -> float:
    for key in path[:-1]:
        d = d.get(key) or {}
    return d.get(path[-1], 0)


class _PhaseListener:
    """py4j implementation of ``QueryExecutionListener``."""

    def __init__(self):
        self.phases: list[dict[str, int]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        ph = qe.tracker().phases()
        self.phases.append({
            k: ph.apply(k).durationMs()
            for k in ("analysis", "optimization", "planning")
            if ph.contains(k)
        })

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, h: Harness):
        self.h = h
        self.events_dir = os.path.join(h.work, "events")
        os.makedirs(self.events_dir, exist_ok=True)
        self.spans: dict[tuple[str, str], dict[str, float]] = {}
        self.cur: dict[str, float] | None = None
        self.group = ""
        self.depth: dict[str, int] = defaultdict(int)
        self.group_alias: dict[str, str] = {}
        self._install_wrappers()

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": self.events_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    def attach(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        sc = spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        self.listener = _PhaseListener()
        spark._jsparkSession.listenerManager().register(self.listener)
        self.bus = sc._jsc.sc().listenerBus()

    # ---------------------------------------------------------- wrappers
    def _install_wrappers(self) -> None:
        import importlib

        for span, mod_name, fn_name, writes in WRAPPED:
            mod = importlib.import_module(mod_name)
            setattr(mod, fn_name, self._wrap(span, getattr(mod, fn_name),
                                             writes))

    def _wrap(self, span: str, fn, writes: bool):
        def wrapper(*args, **kwargs):
            cur = self.cur
            if cur is None or self.depth[span]:
                return fn(*args, **kwargs)
            self.depth[span] += 1
            j0 = self.h.jobs_in_group(self.group)
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                cur[span + "_s"] += time.perf_counter() - t
                cur[span + "_jobs"] += self.h.jobs_in_group(self.group) - j0
                self.depth[span] -= 1
                path = args[1] if len(args) > 1 else kwargs.get("path")
                if writes and path:
                    cur[span + "_mb"] += dir_bytes(path) / MB

        wrapper.__wrapped__ = fn
        return wrapper

    # ------------------------------------------------------------- spans
    def begin(self, label: str, name: str) -> None:
        self.group = f"{label}:{name}"
        self.cur = self.spans.setdefault((label, name), defaultdict(float))

    def note(self, key: str, value: float) -> None:
        if self.cur is not None:
            self.cur[key] += value

    def end(self) -> None:
        self.bus.waitUntilEmpty()
        for ph in self.listener.phases:
            for k, v in ph.items():
                self.cur[f"catalyst.{k}_ms"] += v
        self.listener.phases.clear()
        self.cur = None

    def alias_group(self, group: str, label: str, name: str) -> None:
        """Attribute an engine-chosen job group (a streaming query's run
        id) to the span ``label:name``."""
        self.group_alias[group] = f"{label}:{name}"

    # ----------------------------------------------------------- metrics
    def _event_log(self, timed: set[str]) -> dict[str, float]:
        """Scheduler and executor totals over the timed passes."""
        stage_group: dict[int, str] = {}
        scan_stages: set[int] = set()
        out: dict[str, float] = defaultdict(float)
        stages: set[int] = set()
        for path in glob.glob(os.path.join(self.events_dir, "*")):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        g = props.get("spark.jobGroup.id", "")
                        g = self.group_alias.get(g, g)
                        for s in ev["Stage IDs"]:
                            stage_group[s] = g
                        if g.split(":")[0] in timed:
                            out["spark.jobs"] += 1
                    elif kind == "SparkListenerStageSubmitted":
                        info = ev["Stage Info"]
                        if any("FileScanRDD" in r.get("Name", "")
                               for r in info.get("RDD Info", [])):
                            scan_stages.add(info["Stage ID"])
                    elif kind == "SparkListenerTaskEnd":
                        sid = ev["Stage ID"]
                        g = stage_group.get(sid, "")
                        if g.split(":")[0] not in timed:
                            continue
                        stages.add(sid)
                        out["spark.tasks"] += 1
                        if sid in scan_stages:
                            out["catalog.scan_tasks"] += 1
                        m = ev.get("Task Metrics") or {}
                        for name, path, scale in TASK_METRICS:
                            out[name] += _lookup(m, path) * scale
        out["spark.stages"] = len(stages)
        return out

    def metrics(self, timed: set[str], n: int,
                extra: dict[str, float]) -> dict[str, dict]:
        """Per-layer metrics, per timed pass (or timed stream round).
        Call after the session stopped, so the event log is closed."""
        per_pass: dict[str, float] = defaultdict(float)
        for (label, _name), span in self.spans.items():
            if label in timed:
                for k, v in span.items():
                    per_pass[k] += v
        for k, v in self._event_log(timed).items():
            per_pass[k] += v
        per_pass["sinks.written_mb"] = per_pass.pop("sinks.write_mb", 0)
        per_pass["proc.jvm_cpu_s"], per_pass["proc.python_cpu_s"] = self.h.cpu
        vals = {k: v / n for k, v in per_pass.items()}
        vals["session.start_s"] = self.h.session_start_s
        vals["warmup_s"] = self.h.warmup_s
        vals["proc.peak_rss_mb"] = self.h.peak_rss_mb
        for op, times in self.h.op_s.items():
            vals[f"op.{op}_s"] = statistics.median(times)
        vals.update(extra)
        return {k: {"value": float(vals.get(k, 0.0)), "unit": unit_of(k)}
                for k in PER_LAYER}
