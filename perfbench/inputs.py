"""Seeded inputs for the benchmark workloads and the single-process numpy
oracles their outputs are checked against.

Everything here derives from the ``--seed`` argument. The library sees
only the DataFrames built from these inputs; the oracles never touch
Spark.
"""

from __future__ import annotations

import hashlib
import json
import math
from collections import defaultdict

import numpy as np
import pandas as pd

from tiff_to_geojson_csv_json_format_converter_spark.functions import affine, geometry, projection
from tiff_to_geojson_csv_json_format_converter_spark.sources import synth

IMAGE_SIZES = [64, 256]
# the synthetic image mix (size, cluster share, CRS, bands, format, NoData
# mode) cycles every 240 ids (lcm of 16, 5 and 3); aligning the seeded id
# range to it keeps the mix, and so the work per pass, identical across seeds
_ID_PERIOD = 240


# --- images -----------------------------------------------------------------

def image_ids(seed: int, n: int, stream: int = 0) -> np.ndarray:
    rng = np.random.default_rng([seed, stream])
    base = _ID_PERIOD * int(rng.integers(1, 10_000))
    return np.arange(base, base + n, dtype=np.int64)


def images_df(spark, ids: np.ndarray, partitions: int):
    pdf = synth.generate_pandas(ids, len(ids), IMAGE_SIZES)
    return spark.createDataFrame(pdf, synth.ARROW_SCHEMA_DDL).repartition(partitions)


def image_pixels(ids: np.ndarray) -> int:
    total = 0
    for i in ids:
        p = synth.image_params(int(i), len(ids), IMAGE_SIZES)
        total += p["size"] * p["size"] * p["band_count"]
    return total


def oracle_points(ids: np.ndarray) -> dict:
    """Valid points of every image straight from the generated grids:
    pixel-centre affine, float32 downcast, WGS84, rounding, NoData mask."""
    parts = defaultdict(list)
    for i in (int(v) for v in ids):
        p = synth.image_params(i, len(ids), IMAGE_SIZES)
        grid = synth.make_grid(i, p)
        size = p["size"]
        idx = np.arange(size * size, dtype=np.int64)
        x, y = affine.pixel_to_world(p["transform"], idx // size, idx % size)
        lon, lat = projection.to_wgs84(
            x.astype(np.float32).astype(np.float64), y.astype(np.float32).astype(np.float64), p["crs"])
        lon, lat = np.round(lon, 6), np.round(lat, 6)
        for band in range(p["band_count"]):
            z = grid[band].reshape(-1).astype(np.float32)
            mask = (z > 0) if grid.dtype == np.uint8 else (z > -1e30)
            n = int(mask.sum())
            parts["image"].append(np.full(n, f"img_{i:08d}", dtype=object))
            parts["band"].append(np.full(n, band, dtype=np.int64))
            parts["pixel_idx"].append(idx[mask])
            parts["lon"].append(lon[mask])
            parts["lat"].append(lat[mask])
            parts["z"].append(np.round(z[mask], 2).astype(np.float64))
    return {k: np.concatenate(v) for k, v in parts.items()}


def oracle_stats(pts: dict, rings: list) -> dict:
    """Per-(image, band) zonal stats of the points inside ``rings``."""
    lo = np.asarray(rings[0])
    box = ((pts["lon"] >= lo[:, 0].min()) & (pts["lon"] <= lo[:, 0].max())
           & (pts["lat"] >= lo[:, 1].min()) & (pts["lat"] <= lo[:, 1].max()))
    sel = np.flatnonzero(box)
    sel = sel[geometry.points_in_polygon(pts["lon"][sel], pts["lat"][sel], rings)]
    frame = pd.DataFrame({"image": pts["image"][sel], "band": pts["band"][sel], "z": pts["z"][sel]})
    out = {}
    for (img, band), z in frame.groupby(["image", "band"])["z"]:
        z = z.to_numpy()
        out[(img, int(band))] = {"min": float(z.min()), "max": float(z.max()), "mean": float(z.mean()),
                                 "std_pop": float(z.std()), "count": len(z)}
    return out


def _same_stats(got: dict, want: dict, std_key: str) -> bool:
    """Counts and extremes exactly; mean and std up to summation order."""
    return (got["count"] == want["count"] and got["min"] == want["min"] and got["max"] == want["max"]
            and math.isclose(got["mean"], want["mean"], rel_tol=1e-6, abs_tol=1e-6)
            and math.isclose(got[std_key], want["std_pop"], rel_tol=1e-6, abs_tol=1e-6))


def stats_match(got: dict, want: dict) -> bool:
    return set(got) == set(want) and all(_same_stats(got[k], w, "std_pop") for k, w in want.items())


def response_oracle(stats: dict) -> dict:
    """The zonal endpoint's per-band merge: the first image (by id) keeps
    mean/std/count, min/max widen across images; no rows -> "Null"."""
    by_band = defaultdict(list)
    for (img, band), s in sorted(stats.items()):
        by_band[band].append(s)
    out = {}
    for band, rows in by_band.items():
        first = dict(rows[0])
        first["min"] = min(r["min"] for r in rows)
        first["max"] = max(r["max"] for r in rows)
        out[f"band_{band + 1}"] = first
    return out or {"band_1": "Null"}


def response_matches(body: str, want: dict) -> bool:
    got = json.loads(body)["min_max"]
    return set(got) == set(want) and all(
        got[band] == w if "Null" in (w, got[band]) else _same_stats(got[band], w, "std")
        for band, w in want.items())


# --- polygons and queries ---------------------------------------------------

def _box(x0, y0, x1, y1):
    return [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]


def polygon_layer(seed: int) -> list[dict]:
    """Boxes, concave stars and holed boxes over the dense cluster, a few
    boxes over the sparse spread, boxes that miss all data, and one
    polygon spanning the whole layer extent."""
    rng = np.random.default_rng([seed, 2])
    polys = []

    def add(rings):
        polys.append({"polygon_id": f"poly_{len(polys):03d}", "rings": rings})

    for _ in range(8):
        cx, cy = rng.uniform(77.05, 77.45), rng.uniform(28.05, 28.45)
        h = rng.uniform(0.01, 0.05)
        add([_box(cx - h, cy - h, cx + h, cy + h)])
    for _ in range(4):
        cx, cy = rng.uniform(77.1, 77.4), rng.uniform(28.1, 28.4)
        r = rng.uniform(0.03, 0.08)
        ang = np.linspace(0.0, 2 * np.pi, 11)[:-1] + rng.uniform(0, 1)
        rad = np.where(np.arange(10) % 2 == 0, r, 0.45 * r)
        ring = [[float(cx + a * np.cos(t)), float(cy + a * np.sin(t))] for a, t in zip(rad, ang)]
        add([ring + [ring[0]]])
    for _ in range(3):
        cx, cy = rng.uniform(77.1, 77.4), rng.uniform(28.1, 28.4)
        h = rng.uniform(0.04, 0.08)
        add([_box(cx - h, cy - h, cx + h, cy + h), _box(cx - h / 3, cy - h / 3, cx + h / 3, cy + h / 3)])
    for _ in range(3):
        cx, cy = rng.uniform(71.0, 89.0), rng.uniform(21.0, 34.0)
        h = rng.uniform(0.5, 1.0)
        add([_box(cx - h, cy - h, cx + h, cy + h)])
    for _ in range(2):
        cx, cy = rng.uniform(-60.0, -10.0), rng.uniform(40.0, 60.0)
        add([_box(cx - 1.0, cy - 1.0, cx + 1.0, cy + 1.0)])
    add([_box(70.0, 20.0, 90.0, 35.0)])
    return [{**p, "rings": [[[float(a), float(b)] for a, b in r] for r in p["rings"]]} for p in polys]


def polygons_df(spark, polys: list[dict]):
    rows = []
    for p in polys:
        shell = np.asarray(p["rings"][0])
        rows.append((p["polygon_id"], json.dumps({"type": "Polygon", "coordinates": p["rings"]}),
                     float(shell[:, 0].min()), float(shell[:, 1].min()),
                     float(shell[:, 0].max()), float(shell[:, 1].max())))
    return spark.createDataFrame(
        rows, "polygon_id string, geojson string, min_lon double, min_lat double, "
              "max_lon double, max_lat double")


def knn_queries(seed: int, n: int, stream: int = 3) -> list[dict]:
    """Dense-cluster, sparse-spread and outside-extent probes, k in 1/2/4."""
    rng = np.random.default_rng([seed, stream])
    out = []
    for j in range(n):
        kind = j % 6
        if kind in (0, 1, 2):
            lon, lat = rng.uniform(77.0, 77.5), rng.uniform(28.0, 28.5)
        elif kind in (3, 4):
            lon, lat = rng.uniform(70.0, 90.0), rng.uniform(20.0, 35.0)
        else:
            lon, lat = rng.uniform(-120.0, -100.0), rng.uniform(40.0, 50.0)
        out.append({"query_id": f"q_{j:04d}", "lon": float(lon), "lat": float(lat),
                    "k": int((1, 2, 4)[j % 3])})
    return out


def knn_oracle(pts: dict, queries: list[dict], kmax: int) -> dict:
    """Brute force: each query's ``kmax`` smallest squared distances."""
    out = {}
    for q in queries:
        d2 = (pts["lon"] - q["lon"]) * (pts["lon"] - q["lon"]) + (pts["lat"] - q["lat"]) * (pts["lat"] - q["lat"])
        out[q["query_id"]] = np.sort(np.partition(d2, kmax)[:kmax]) if len(d2) > kmax else np.sort(d2)
    return out


def knn_matches(rows: list, queries: list[dict], truth: dict, guard: float) -> tuple[bool, int]:
    """Rows from ``knn_join`` against brute force. Exact rows must hit the
    true rank distance; inexact rows may not beat it; a query may return
    fewer than k rows only when the true neighbours lie beyond the
    searched radius. Returns (ok, rows checked, inexact rows among them)."""
    by_q = defaultdict(list)
    for r in rows:
        by_q[r["query_id"]].append(r)
    checked = inexact = 0
    for q in queries:
        got = sorted((r for r in by_q.get(q["query_id"], []) if r["knn_rank"] <= q["k"]),
                     key=lambda r: r["knn_rank"])
        want = truth[q["query_id"]][: q["k"]]
        if [r["knn_rank"] for r in got] != list(range(1, len(got) + 1)):
            return False, checked, inexact
        for r, w in zip(got, want):
            checked += 1
            if r["exact"]:
                if not math.isclose(r["dist2"], float(w), rel_tol=1e-9, abs_tol=1e-15):
                    return False, checked, inexact
            else:
                inexact += 1
                if r["dist2"] < float(w) - 1e-15:
                    return False, checked, inexact
        if len(got) < min(q["k"], int((want <= guard).sum())):
            return False, checked, inexact
    return True, checked, inexact


# --- geo export ---------------------------------------------------------------

def sampled_feature_count(size: int, sample_cap: int, geojson_cap: int) -> int:
    """Features per image for the sampled GeoJSON: stride to the sample
    cap, then stride again to the GeoJSON cap (doesSamples.py rule)."""
    total = size * size
    rate = total // sample_cap if total > sample_cap else 1
    n = len(range(0, total, rate))
    if n > geojson_cap:
        n = len(range(0, n, n // geojson_cap))
    return n


# --- captions and embeddings --------------------------------------------------

_VOCAB = ("spark join scan tile pixel raster band merge filter query shard batch "
          "vector index cache table order group river delta slope ridge north south "
          "east west urban forest field coast cloud").split()
_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def documents(seed: int, n_base: int, replicas: int, n_sources: int = 20) -> list[dict]:
    """Word-bag captions with planted exact and near duplicates inside each
    source; every replica is the base set under its own alphabet rotation,
    which keeps the in-replica duplicate structure and removes overlap
    across replicas."""
    rng = np.random.default_rng([seed, 4])
    base = []
    for j in range(n_base):
        src = j % n_sources
        same = [b for b in base if b["source"] == src]
        roll = rng.random()
        if same and roll < 0.08:
            text = same[int(rng.integers(len(same)))]["text"]
        elif same and roll < 0.25:
            words = same[int(rng.integers(len(same)))]["text"].split()
            for _ in range(max(1, len(words) // 12)):
                words[int(rng.integers(len(words)))] = _VOCAB[int(rng.integers(len(_VOCAB)))]
            text = " ".join(words)
        else:
            text = " ".join(_VOCAB[int(v)] for v in rng.integers(len(_VOCAB), size=int(rng.integers(20, 70))))
        base.append({"source": src, "text": text})
    shifts = rng.permutation(np.arange(1, 26))[: replicas - 1].tolist()
    out = []
    for r, shift in enumerate([0] + shifts):
        table = str.maketrans(_ALPHA, _ALPHA[shift:] + _ALPHA[:shift])
        for j, b in enumerate(base):
            out.append({"doc_id": r * n_base + j, "source": f"src{b['source']}",
                        "text": b["text"].translate(table)})
    return out


def dedup_oracle(docs: list[dict]) -> dict:
    keep: dict[str, list] = {}
    for d in docs:
        h = hashlib.md5(d["text"].encode()).hexdigest()
        cur = keep.setdefault(h, [d["doc_id"], 0])
        cur[0] = min(cur[0], d["doc_id"])
        cur[1] += 1
    return {h: tuple(v) for h, v in keep.items()}


def jaccard_oracle(docs: list[dict], n: int, threshold_e6: int) -> set:
    """All same-source pairs whose character n-gram Jaccard, scaled by 1e6
    and floored, reaches the threshold."""
    by_src = defaultdict(list)
    for d in docs:
        t = d["text"]
        sh = {t[i:i + n] for i in range(max(len(t) - n + 1, 1))}
        by_src[d["source"]].append((d["doc_id"], sh))
    pairs = set()
    for members in by_src.values():
        members.sort(key=lambda m: m[0])
        for a in range(len(members)):
            ida, sa = members[a]
            for b in range(a + 1, len(members)):
                idb, sb = members[b]
                small, big = (len(sa), len(sb)) if len(sa) <= len(sb) else (len(sb), len(sa))
                if small * 1_000_000 < threshold_e6 * big:
                    continue
                ni = len(sa & sb)
                if math.floor(ni / (len(sa) + len(sb) - ni) * 1e6) >= threshold_e6:
                    pairs.add((ida, idb))
    return pairs


def embeddings(seed: int, n: int, dim: int = 64, n_clusters: int = 10) -> tuple[np.ndarray, set]:
    """Unit vectors around seeded cluster centres, with one vector in
    twenty a near copy of an earlier one; returns the vectors and those
    planted (earlier, copy) pairs."""
    rng = np.random.default_rng([seed, 5])
    centres = rng.normal(size=(n_clusters, dim))
    labels = rng.integers(n_clusters, size=n)
    v = centres[labels] + rng.normal(scale=1.2, size=(n, dim))
    planted = set()
    for j in range(1, n):
        if j % 20 == 0:
            src = int(rng.integers(j))
            v[j] = v[src] + rng.normal(scale=0.05, size=dim)
            planted.add((src, j))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), planted


def quantized(v: np.ndarray, scale: int = 1000) -> np.ndarray:
    return np.floor(v.astype(np.float64) * scale).astype(np.int64)


def cosine_e6(q: np.ndarray) -> np.ndarray:
    qf = q.astype(np.float64)
    dots = np.rint(qf @ qf.T)
    n2 = np.diag(dots).copy()
    return np.floor(dots / np.sqrt(np.outer(n2, n2)) * 1e6).astype(np.int64)
