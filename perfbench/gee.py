"""``gee_nrt``: the reference's own job on a seeded pixel store, plus
its near-real-time fire feed.

Five operations per pass, all through the package's public functions:
the monthly composite-and-export loop (``pipeline.run_monthly``), a max
composite with resampling rendered against the WHO thresholds, a
proximity join against seeded amenities, a polygon clip (an Arrow
pandas_udf ray-cast) and a streaming backfill of hourly fire detections
(``stream.NrtReplay``). It is the only workload that writes files and
the only one through the geo, Arrow-UDF and streaming layers; it does no
graph work and has no ``spread_scan`` sites.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as pads

import inputs
from harness import Harness
from stream import NrtReplay

START, END = "2025-01-01", "2026-01-01"
N_AMENITIES = 25
RADIUS_KM = 3.0
RESAMPLE = 2
# A diamond (an L1 ball) inside the bbox. Off-grid centre and radius keep
# every pixel centre off the boundary, where a ray-cast may go either way.
CX, CY, CR = 77.2537, 28.6041, 0.3071
DIAMOND = (f"{CX} {CY - CR}, {CX + CR} {CY}, {CX} {CY + CR}, "
           f"{CX - CR} {CY}, {CX} {CY - CR}")
EARTH_RADIUS_KM = 6371.0088
NORMALIZE_EPS = 1e-6
ROUND_TOL = 1.01e-6  # values rounded to 6 decimals on both sides
ROWS_PER_CELL = len(inputs.DATASETS) * inputs.MONTHS * inputs.OBS_PER_MONTH


class Workload:
    order = ["monthly_export", "render_classify", "amenity_proximity",
             "polygon_clip", "nrt_replay"]

    def __init__(self, h: Harness, seed: int, smoke: bool):
        self.h, self.seed = h, seed
        self.grid = 8 if smoke else 32
        self.nrt = NrtReplay(h, seed, smoke)

    def run(self) -> None:
        h = self.h
        spark = h.start_session()
        from gee_datapipeline_spark import pipeline
        from gee_datapipeline_spark.functions import geo
        from gee_datapipeline_spark.sources.synthetic import make_thresholds

        self.pipeline, self.geo = pipeline, geo
        self.store = os.path.join(h.work, "pixels")
        self.out = os.path.join(h.work, "export")
        self.px = inputs.pixel_store(self.store, self.seed, self.grid)
        self.amen = inputs.amenities(self.seed, N_AMENITIES)
        self.amen_df = spark.createDataFrame(self.amen)
        self.thresholds = make_thresholds(spark)
        self.nrt.setup()
        h.run_batch(
            {n: getattr(self, n) for n in self.order},
            {n: getattr(self, "check_" + n) for n in self.order},
            self.order)

    def per_layer(self) -> dict[str, float]:
        return self.nrt.per_layer(self.h.timed_labels(),
                                  self.h.op_s.get("nrt_replay", []))

    # ------------------------------------------------------- operations
    def pixels(self):
        return self.h.spark.read.parquet(self.store)

    def monthly_export(self, check: bool):
        return self.pipeline.run_monthly(
            self.pixels(), list(inputs.DATASETS), START, END, self.out)

    def render_classify(self, check: bool):
        comp = self.pipeline.generate_composite(
            self.pixels(), list(inputs.DATASETS), START, END, agg="max",
            resample_cells=RESAMPLE)
        df = self.pipeline.render_composite(comp, self.thresholds)
        return _finish(df, check, "dataset", "bucket", "x", "y", "value_agg",
                       "norm_value", "class_bucket")

    def amenity_proximity(self, check: bool):
        df = self.geo.proximity_join(self.pixels(), self.amen_df, RADIUS_KM)
        return _finish(df, check, "x", "y", "pt_feature_id")

    def polygon_clip(self, check: bool):
        df = self.geo.clip_to_polygon(self.pixels(), DIAMOND)
        return _finish(df, check, "x", "y")

    def nrt_replay(self, check: bool):
        return self.nrt.replay(self.h.label)

    # ----------------------------------------------- independent checks
    def _monthly(self) -> pd.DataFrame:
        return self.px.assign(bucket=pd.to_datetime(self.px["date"])
                              .dt.strftime("%Y-%m-01"))

    def check_monthly_export(self, counts) -> list[str]:
        errs = []
        px = self._monthly()
        want_counts = (px.drop_duplicates(["dataset", "bucket", "x", "y"])
                       .groupby("bucket").size().to_dict())
        if counts != want_counts:
            errs.append(f"per-month counts {counts} != {want_counts}")
        got = pads.dataset(os.path.join(self.out, "parquet"),
                           partitioning="hive").to_table().to_pandas()
        got["dataset"] = got["dataset"].astype(str)
        want = (px.groupby(["dataset", "bucket", "x", "y"])["value"]
                .agg(["mean", "count"]).reset_index())
        keys = ["dataset", "bucket", "x", "y"]
        m = want.merge(got, on=keys, how="outer", indicator=True)
        if len(got) != len(want) or (m["_merge"] != "both").any():
            return errs + [f"exported {len(got)} rows, want {len(want)}"]
        if not (m["n_obs"] == m["count"]).all():
            errs.append("n_obs differs from the numpy count")
        null_ok = m["mean"].isna() == m["value_agg"].isna()
        close = (m["mean"] - m["value_agg"]).abs().fillna(0) <= ROUND_TOL
        if not (null_ok & close).all():
            errs.append(f"{int((~(null_ok & close)).sum())} means differ")
        csv_rows = sum(len(pd.read_csv(f)) for f in glob.glob(
            os.path.join(self.out, "csv", "*.csv")))
        if csv_rows != int(want["mean"].notna().sum()):
            errs.append(f"CSV has {csv_rows} rows, want "
                        f"{int(want['mean'].notna().sum())}")
        return errs

    def check_render_classify(self, got: pd.DataFrame) -> list[str]:
        errs = []
        px = self._monthly().assign(x=lambda d: d["x"] // RESAMPLE,
                                    y=lambda d: d["y"] // RESAMPLE)
        keys = ["dataset", "bucket", "x", "y"]
        want = px.groupby(keys)["value"].max().rename("want").reset_index()
        grp = want.groupby(["dataset", "bucket"])["want"]
        lo, hi = grp.transform("min"), grp.transform("max")
        want["want_norm"] = (want["want"] - lo) / (hi - lo + NORMALIZE_EPS)
        std = want["dataset"].map(inputs.STANDARD_VALUES)
        v = want["want"]
        want["want_class"] = np.select(
            [v < std, v < 1.5 * std, v < 2.0 * std],
            ["below_standard", "elevated", "high"], "severe")
        m = want.merge(got, on=keys, how="outer", indicator=True)
        if len(got) != len(want) or (m["_merge"] != "both").any():
            return [f"rendered {len(got)} rows, want {len(want)}"]
        if not (m["want"] == m["value_agg"]).all():
            errs.append("max composite differs from numpy")
        if not ((m["norm_value"] - m["want_norm"]).abs() <= ROUND_TOL).all():
            errs.append("norm_value differs from numpy")
        g = got.groupby(["dataset", "bucket"])
        norm, val = g["norm_value"], g["value_agg"]
        # the max is (hi-lo)/(hi-lo+eps): 1 up to the reference's epsilon
        short = NORMALIZE_EPS / (val.max() - val.min()) + ROUND_TOL
        if not (norm.min().eq(0).all() and (norm.max() <= 1).all()
                and (1 - norm.max() <= short).all()):
            errs.append("norm_value not in [0,1] with min 0 and max 1")
        if not (m["want_class"] == m["class_bucket"]).all():
            errs.append("classes differ from the numpy thresholds")
        return errs

    def _cells(self) -> pd.DataFrame:
        return self.px[["x", "y", "lon", "lat"]].drop_duplicates()

    def check_amenity_proximity(self, got: pd.DataFrame) -> list[str]:
        cells = self._cells()
        lon1, lat1 = (np.radians(cells[c].to_numpy())[:, None]
                      for c in ("lon", "lat"))
        lon2, lat2 = (np.radians(self.amen[c].to_numpy())[None, :]
                      for c in ("lon", "lat"))
        a = (np.sin((lat2 - lat1) / 2) ** 2
             + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2) ** 2)
        d = 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))
        near = np.abs(d - RADIUS_KM) < 1e-9
        ci, ai = np.nonzero((d <= RADIUS_KM) & ~near)
        want = {(int(cells["x"].iloc[i]), int(cells["y"].iloc[i]),
                 self.amen["feature_id"].iloc[j]) for i, j in zip(ci, ai)}
        near_pairs = {(int(cells["x"].iloc[i]), int(cells["y"].iloc[i]),
                       self.amen["feature_id"].iloc[j])
                      for i, j in zip(*np.nonzero(near))}
        pairs = got.groupby(["x", "y", "pt_feature_id"]).size()
        have = {k for k in pairs.index if k not in near_pairs}
        errs = []
        if have != want:
            errs.append(f"{len(have ^ want)} proximity pairs differ from "
                        "brute-force haversine")
        if not (pairs == ROWS_PER_CELL).all():
            errs.append("a pair is missing observations")
        return errs

    def check_polygon_clip(self, got: pd.DataFrame) -> list[str]:
        cells = self._cells()
        l1 = (np.abs(cells["lon"] - CX) + np.abs(cells["lat"] - CY)) / CR
        if (np.abs(l1 - 1) < 1e-9).any():
            return ["a pixel centre lies on the diamond's boundary"]
        inside = cells[l1 < 1]
        want = set(zip(inside["x"], inside["y"]))
        counts = got.groupby(["x", "y"]).size()
        errs = []
        if set(counts.index) != want:
            errs.append(f"clip kept {len(counts)} cells, closed form "
                        f"{len(want)}")
        if not (counts == ROWS_PER_CELL).all():
            errs.append("a clipped cell is missing observations")
        return errs


    def check_nrt_replay(self, r: dict) -> list[str]:
        return self.nrt.check(r)


def _finish(df, check: bool, *cols: str):
    """Collect ``cols`` for the check pass; otherwise run the whole
    output into the noop sink."""
    if check:
        return df.select(*cols).toPandas()
    df.write.format("noop").mode("overwrite").save()
    return None
