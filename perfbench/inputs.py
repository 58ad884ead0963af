"""Seeded input generators for the workloads.

Every generator is a pure function of its arguments (NumPy ``default_rng``),
writes with pyarrow only, and never touches Spark, so the inputs the
program reads are the same bytes the independent checks read.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Delhi-NCR bbox and dataset value ranges, as in the program's own
# synthetic fixtures (sources/synthetic.py); repeated here so the
# generator stays independent of the code it measures.
DELHI_BBOX = (76.85, 28.2, 77.65, 29.0)
DATASETS = {
    "aerosol": ("absorbing_aerosol_index", 0.0, 1.2),
    "no2": ("NO2_column_number_density", 0.0, 0.1),
    "so2": ("SO2_column_number_density", 0.0, 0.05),
    "co": ("CO_column_number_density", 0.0, 0.12),
}
STANDARD_VALUES = {"aerosol": 0.5, "no2": 0.04, "so2": 0.02, "co": 0.05}
MONTHS = 12
OBS_PER_MONTH = 3
NULL_FRAC = 0.05


def pixel_store(path: str, seed: int, grid: int) -> pd.DataFrame:
    """Write the long pixel table (4 datasets x 12 months x 3
    observations x ``grid``^2 cells, ~5% NULL nodata) as parquet
    partitioned by (dataset, date); return it as pandas for the checks."""
    rng = np.random.default_rng(seed)
    min_lon, min_lat, max_lon, max_lat = DELHI_BBOX
    xs, ys = np.meshgrid(np.arange(grid, dtype=np.int32),
                         np.arange(grid, dtype=np.int32))
    xs, ys = xs.ravel(), ys.ravel()
    lon = min_lon + (xs + 0.5) * (max_lon - min_lon) / grid
    lat = min_lat + (ys + 0.5) * (max_lat - min_lat) / grid
    n = grid * grid
    parts = []
    for ds, (band, lo, hi) in DATASETS.items():
        for m in range(MONTHS):
            for o in range(OBS_PER_MONTH):
                day = pd.Timestamp(2025, m + 1, 1 + 9 * o)
                v = rng.uniform(lo, hi, n)
                v[rng.random(n) < NULL_FRAC] = np.nan
                parts.append(pd.DataFrame({
                    "dataset": ds, "band": band, "date": day.date(),
                    "ts": day, "x": xs, "y": ys, "lon": lon, "lat": lat,
                    "value": v,
                }))
    df = pd.concat(parts, ignore_index=True)
    df["ts"] = df["ts"].dt.tz_localize("UTC").astype("datetime64[us, UTC]")
    schema = pa.schema([
        ("dataset", pa.string()), ("band", pa.string()),
        ("date", pa.date32()), ("ts", pa.timestamp("us", tz="UTC")),
        ("x", pa.int32()), ("y", pa.int32()), ("lon", pa.float64()),
        ("lat", pa.float64()), ("value", pa.float64()),
    ])
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_to_dataset(table, path, partition_cols=["dataset", "date"])
    return df


def amenities(seed: int, n: int) -> pd.DataFrame:
    """Point amenities uniformly inside the bbox (the power-plant overlay)."""
    rng = np.random.default_rng([seed, 1])
    min_lon, min_lat, max_lon, max_lat = DELHI_BBOX
    return pd.DataFrame({
        "feature_id": [f"node/{i}" for i in range(n)],
        "lon": rng.uniform(min_lon, max_lon, n),
        "lat": rng.uniform(min_lat, max_lat, n),
    })


# The corpus mirrors the shape of the catalog's ``documents`` /
# ``embeddings`` test tables: a 30-word vocabulary, 10-100 words per
# document, 5% near-duplicates (an earlier text plus " dup"), a few exact
# duplicates, 40% English, 20 sources, unit-norm 64-d float vectors with
# ten labels.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int,
           dim: int = 64) -> None:
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and rng.random() < 0.005:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    v = rng.standard_normal((n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


FIRE_GRID = (40, 30)
T0 = pd.Timestamp("2025-11-01 00:00:00", tz="UTC")


def fire_files(path: str, seed: int, hours: int, rows_per_hour: int,
               dup_frac: float = 0.02, late_s: int = 1800) -> pd.DataFrame:
    """Hourly parquet files of VIIRS-like fire detections, one per hour.

    Each file holds that hour's detections plus events up to ``late_s``
    older (out of order) and ``dup_frac`` rows replayed from the previous
    file. File mtimes strictly increase with the hour, so a file source
    taking one file per trigger replays them in order. Returns every row
    written, duplicates included."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(path, exist_ok=True)
    nx, ny = FIRE_GRID
    written, prev = [], None
    base_mtime = 1_700_000_000
    for h in range(hours):
        start = T0 + pd.Timedelta(hours=h)
        offs = rng.integers(-late_s if h else 0, 3600, rows_per_hour)
        df = pd.DataFrame({
            "ts": (start + pd.to_timedelta(offs, unit="s")).astype(
                "datetime64[us, UTC]"),
            "cell_x": rng.integers(0, nx, rows_per_hour).astype(np.int32),
            "cell_y": rng.integers(0, ny, rows_per_hour).astype(np.int32),
            "value": np.round(rng.exponential(12.0, rows_per_hour), 3),
        })
        if prev is not None:
            n_dup = int(round(dup_frac * rows_per_hour))
            df = pd.concat([df, prev.sample(n=n_dup, random_state=seed + h)],
                           ignore_index=True)
        f = os.path.join(path, f"detections_{h:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), f)
        os.utime(f, (base_mtime + 60 * h, base_mtime + 60 * h))
        written.append(df)
        prev = df.iloc[:rows_per_hour]
    return pd.concat(written, ignore_index=True)
