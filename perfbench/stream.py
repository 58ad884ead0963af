"""The NRT fire-stream replay, run as one operation of ``gee_nrt``.

``streaming.sources.FileEventSource`` (one file per trigger, through the
Kafka-shaped JSON wire format) -> ``decode_events`` ->
``streaming.jobs.windowed_max_composite`` (1 h windows, 2 h watermark)
-> an append-mode parquet sink. Every replay starts a fresh query (new
checkpoint and sink) over the same hourly files, so each pass does the
same backfill. It measures the fixed per-trigger cost, the state store
and the JSON decode, which no batch operation touches.
"""

from __future__ import annotations

import os
import statistics

import pandas as pd
import pyarrow.dataset as pads

import inputs
from harness import Harness

WINDOW, WATERMARK = "1 hour", "2 hours"
DURATIONS = {
    "stream.add_batch_ms": "addBatch",
    "stream.get_batch_ms": "getBatch",
    "stream.latest_offset_ms": "latestOffset",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}


class NrtReplay:
    def __init__(self, h: Harness, seed: int, smoke: bool):
        self.h, self.seed = h, seed
        self.hours, self.rows = (3, 200) if smoke else (4, 4000)
        self.replays: dict[str, list[dict]] = {}  # pass label -> progress

    def setup(self) -> None:
        from gee_datapipeline_spark.streaming.jobs import (
            windowed_max_composite)
        from gee_datapipeline_spark.streaming.sources import (
            FileEventSource, decode_events)

        self.src = os.path.join(self.h.work, "detections")
        self.events = inputs.fire_files(self.src, self.seed, self.hours,
                                        self.rows)
        self.want = _windows(self.events)
        self.query = lambda: windowed_max_composite(
            decode_events(FileEventSource(self.src, 1).load(self.h.spark)),
            WINDOW, WATERMARK)

    def replay(self, label: str) -> dict:
        """Start a fresh query, drain every file, stop it."""
        h = self.h
        root = os.path.join(h.work, "replay", label)
        q = (self.query().writeStream.format("parquet")
             .option("path", os.path.join(root, "out"))
             .option("checkpointLocation", os.path.join(root, "ck"))
             .outputMode("append").start())
        if h.tracer:
            # micro-batch jobs run under the query's run id, not ours
            h.tracer.alias_group(str(q.runId), label, "nrt_replay")
        try:
            q.processAllAvailable()
            progress = list(q.recentProgress)
        finally:
            q.stop()
        self.replays[label] = progress
        return {"progress": progress, "out": os.path.join(root, "out")}

    def check(self, r: dict) -> list[str]:
        """Every window the final watermark closed matches pandas; every
        generated row was consumed and none was dropped as late."""
        errs = []
        prog = r["progress"]
        consumed = sum(p["numInputRows"] for p in prog)
        if consumed != len(self.events):
            errs.append(f"consumed {consumed} rows, generated "
                        f"{len(self.events)}")
        dropped = sum(s.get("numRowsDroppedByWatermark", 0)
                      for p in prog for s in p["stateOperators"])
        if dropped:
            errs.append(f"{dropped} rows dropped by the watermark")
        triggers = sum(1 for p in prog if p["numInputRows"] > 0)
        if triggers != self.hours:
            errs.append(f"{triggers} data triggers for {self.hours} files")
        got = pads.dataset(r["out"], format="parquet",
                           exclude_invalid_files=True).to_table().to_pandas()
        got["window_start"] = pd.to_datetime(got["window_start"], utc=True)
        wm = pd.Timestamp(prog[-1]["eventTime"]["watermark"])
        closed = self.want[self.want["window_end"] <= wm]
        m = closed.merge(got, on=["window_start", "cell_x", "cell_y"],
                         how="outer", indicator=True)
        if (m["_merge"] != "both").any():
            errs.append(f"sink has {len(got)} window rows, pandas "
                        f"{len(closed)} closed by watermark {wm}")
        elif not ((m["max_value"] == m["want_max"])
                  & (m["n_obs"] == m["want_n"])).all():
            errs.append("window max/count differ from pandas")
        return errs

    # --------------------------------------------------------- metrics
    def triggers(self, labels: set[str]) -> list[dict]:
        """Progress of the triggers that carried data, in passes ``labels``."""
        return [p for lb in labels for p in self.replays.get(lb, [])
                if p["numInputRows"] > 0]

    def per_layer(self, labels: set[str],
                  replay_s: list[float]) -> dict[str, float]:
        """Stream metrics of the timed replays; ``replay_s`` holds each
        replay's wall time."""
        data = self.triggers(labels)
        runs = [self.replays[lb] for lb in sorted(labels)
                if lb in self.replays]
        if not data:
            return {}
        out = {k: statistics.median(p["durationMs"].get(v, 0) for p in data)
               for k, v in DURATIONS.items()}
        out["stream.triggers"] = len(data) / len(runs)
        out["stream.trigger_p50_s"] = statistics.median(
            p["durationMs"]["triggerExecution"] / 1e3 for p in data)
        out["stream.rows_per_s"] = len(self.events) / statistics.median(
            replay_s)
        out["stream.first_trigger_s"] = statistics.median(
            next(p for p in r if p["numInputRows"] > 0)["durationMs"]
            ["triggerExecution"] / 1e3 for r in runs)
        last = [r[-1]["stateOperators"][0] for r in runs]
        out["stream.state_rows"] = statistics.median(
            s["numRowsTotal"] for s in last)
        out["stream.state_mb"] = statistics.median(
            s["memoryUsedBytes"] for s in last) / (1 << 20)
        return out


def _windows(events: pd.DataFrame) -> pd.DataFrame:
    """Every 1 h window per cell, computed in pandas."""
    ev = events.assign(window_start=events["ts"].dt.floor("h"))
    out = (ev.groupby(["window_start", "cell_x", "cell_y"])["value"]
           .agg(want_max="max", want_n="count").reset_index())
    out["window_end"] = out["window_start"] + pd.Timedelta(hours=1)
    return out
