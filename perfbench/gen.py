"""Seeded, vectorized input generators for the benchmark workloads.

Every input is a pure function of ``(workload, seed, size)``: one numpy
``PCG64`` stream per input, no wall clock, no global RNG. Files are
cached under the checkout's ``.perfbench/cache`` keyed by that triple,
so a repeated seed skips generation (which set-up time never counts).

Geotags are carried as ``phash`` exactly as in the images table: the
engine derives ``lon``/``lat`` from it (``sources.images.with_geo``,
``functions.codecs.lonlat_from_phash``). A workload's ``hot_share`` of
rows falls in three fixed "city" boxes (FIXTURES.md §1 skew). The
cities are fixed, not seeded, so every seed asks the same work of the
PIP layer: one city lies in cells FULLY inside three nested admins,
one in a BOUNDARY cell of a level-4 admin (its rows go through the
refine), one FULLY inside two admins.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from osmnightwatch_spark.functions.codecs import lonlat_from_phash

#: (lon, lat) city centres; see the module docstring for why these.
CITIES = np.array([(-120.0, 10.0), (2.35, 48.86), (139.7, 35.7)])
#: half-width of a city box in degrees — well inside one res-7 cell
CITY_HALF_DEG = 0.02

_TWO32 = 4294967296.0
# the geotag formula's lat range (functions.codecs.lonlat_from_phash)
_LAT0, _LAT_SPAN = -85.0, 170.0


def phash_from_lonlat(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Inverse of ``lonlat_from_phash`` up to its 2^-32 quantization:
    the int64 whose low/high 32 bits encode ``lon``/``lat``."""
    lo = np.clip(np.floor((np.asarray(lon) + 180.0) / 360.0 * _TWO32),
                 0, _TWO32 - 1).astype(np.uint64)
    hi = np.clip(np.floor((np.asarray(lat) - _LAT0) / _LAT_SPAN * _TWO32),
                 0, _TWO32 - 1).astype(np.uint64)
    return ((hi << np.uint64(32)) | lo).view(np.int64)


def geotag_phash(rng: np.random.Generator, n: int,
                 hot_share: float) -> np.ndarray:
    """``n`` geotag hashes: uniform over the world, except a
    ``hot_share`` of rows (exactly ``round(n * hot_share)``, spread
    over the cities in turn) jittered inside the city boxes."""
    ph = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                      size=n, dtype=np.int64, endpoint=True)
    n_hot = int(round(n * hot_share))
    if n_hot:
        rows = rng.choice(n, size=n_hot, replace=False)
        city = np.arange(n_hot) % len(CITIES)
        jitter = rng.uniform(-CITY_HALF_DEG, CITY_HALF_DEG, size=(n_hot, 2))
        ph[rows] = phash_from_lonlat(CITIES[city, 0] + jitter[:, 0],
                                     CITIES[city, 1] + jitter[:, 1])
    return ph


def image_ids(ids: np.ndarray) -> pa.Array:
    """``img%012d`` strings built from digit arithmetic (no per-row
    Python): a fixed-width byte matrix viewed as an Arrow string array."""
    ids = np.asarray(ids, dtype=np.int64)
    width = 15
    buf = np.empty((len(ids), width), dtype=np.uint8)
    buf[:, :3] = np.frombuffer(b"img", dtype=np.uint8)
    v = ids.copy()
    for col in range(width - 1, 2, -1):
        buf[:, col] = ord("0") + v % 10
        v //= 10
    offsets = np.arange(0, (len(ids) + 1) * width, width, dtype=np.int32)
    return pa.StringArray.from_buffers(
        len(ids), pa.py_buffer(offsets), pa.py_buffer(buf.tobytes()))


def rng_for(workload: str, seed: int, stream: str) -> np.random.Generator:
    """Independent stream per (workload, seed, purpose)."""
    key = hashlib.sha256(f"{workload}/{seed}/{stream}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(key[:16], "little")))


class InputCache:
    """Generated inputs on disk, one directory per (workload, seed, size).

    A directory is complete once its ``_DONE`` marker exists; it is
    built under a temporary name and renamed into place. At most
    ``keep`` entries stay; the oldest are dropped first.
    """

    def __init__(self, root: str, keep: int = 12):
        self.root = root
        self.keep = keep
        os.makedirs(root, exist_ok=True)

    def get(self, workload: str, seed: int, size: str, build) -> str:
        path = os.path.join(self.root, f"{workload}-s{seed}-{size}")
        if os.path.exists(os.path.join(path, "_DONE")):
            os.utime(path)
            return path
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        self._evict()
        return path

    def _evict(self) -> None:
        entries = [os.path.join(self.root, d) for d in os.listdir(self.root)
                   if os.path.exists(os.path.join(self.root, d, "_DONE"))]
        entries.sort(key=os.path.getmtime)
        for old in entries[:-self.keep]:
            shutil.rmtree(old, ignore_errors=True)


# -- per-workload inputs ----------------------------------------------------

def write_geotags(path: str, workload: str, seed: int, n: int,
                  hot_share: float, row_group: int = 1 << 20) -> None:
    """The geotag table ``(image_id, phash)`` as parquet files."""
    ph = geotag_phash(rng_for(workload, seed, "geotags"), n, hot_share)
    table = pa.table({"image_id": image_ids(np.arange(n)), "phash": ph})
    os.makedirs(os.path.join(path, "geotags"))
    n_files = max(1, -(-n // row_group))
    for f in range(n_files):
        part = table.slice(f * row_group, row_group)
        pq.write_table(part, os.path.join(path, "geotags", f"part-{f:04d}.parquet"))


def points_table(ids: np.ndarray, ph: np.ndarray) -> dict:
    lon, lat = lonlat_from_phash(ph)
    return {"id": np.asarray(ids, np.int64), "phash": ph, "lon": lon, "lat": lat}


def write_knn_inputs(path: str, seed: int, n_cand: int, n_queries: int,
                     probes_per_query: int, hot_share: float) -> None:
    """Candidates ``(cand_id, lon, lat)`` and ``n_queries`` probe
    batches ``(query, probe_id, lon, lat)``. Every batch holds the same
    number of hot probes, so queries differ in where their probes are,
    not in how many sit in a hot cell. Probe ids are negative, so they
    never collide with a candidate id (the operator drops self-matches
    by id)."""
    cph = geotag_phash(rng_for("knn_lookup", seed, "cand"), n_cand, hot_share)
    clon, clat = lonlat_from_phash(cph)
    pq.write_table(pa.table({"cand_id": np.arange(n_cand, dtype=np.int64),
                             "lon": clon, "lat": clat}),
                   os.path.join(path, "candidates.parquet"))
    rng = rng_for("knn_lookup", seed, "probe")
    pph = np.concatenate([geotag_phash(rng, probes_per_query, hot_share)
                          for _ in range(n_queries)])
    plon, plat = lonlat_from_phash(pph)
    n_probe = n_queries * probes_per_query
    pq.write_table(pa.table({
        "query": np.repeat(np.arange(n_queries, dtype=np.int64), probes_per_query),
        "probe_id": -1 - np.arange(n_probe, dtype=np.int64),
        "lon": plon, "lat": plat,
    }), os.path.join(path, "probes.parquet"))


def write_base_points(path: str, seed: int, first_id: int, n: int,
                      hot_share: float) -> None:
    """The change stream's generated base geotags ``(id, phash)``, ids
    ``first_id .. first_id+n-1``, as one parquet file."""
    ph = geotag_phash(rng_for("change_stream", seed, "base"), n, hot_share)
    os.makedirs(os.path.join(path, "base"))
    pq.write_table(pa.table({"id": np.arange(first_id, first_id + n, dtype=np.int64),
                             "phash": ph}),
                   os.path.join(path, "base", "part-0000.parquet"))


_PAYLOAD = pa.struct([("id", pa.int64()), ("phash", pa.int64()),
                      ("lon", pa.float64()), ("lat", pa.float64())])


def write_change_stream(path: str, seed: int, n_base: int, n_batches: int,
                        inserts: int, moves: int, deletes: int,
                        hot_share: float) -> None:
    """``n_batches`` image changesets (FIXTURES.md §6 shape: op,
    entity_type, id, version, payload) against a base snapshot holding
    ids ``0 .. n_base-1``. Each batch creates ``inserts`` new ids,
    moves ``moves`` live ids and deletes ``deletes`` live ids; every
    create and move also carries a lower-version row that must lose
    compaction. Ids are drawn from the live set the earlier batches
    leave, so the stream is consistent."""
    rng = rng_for("change_stream", seed, "stream")
    live = np.arange(n_base, dtype=np.int64)
    next_id = n_base
    os.makedirs(os.path.join(path, "batches"))
    for b in range(n_batches):
        pick = rng.choice(len(live), size=moves + deletes, replace=False)
        moved, deleted = live[pick[:moves]], live[pick[moves:]]
        created = np.arange(next_id, next_id + inserts, dtype=np.int64)
        next_id += inserts
        live = np.concatenate([np.delete(live, pick[moves:]), created])
        upsert_ids = np.concatenate([created, moved])
        win = points_table(upsert_ids, geotag_phash(rng, len(upsert_ids), hot_share))
        lose = points_table(upsert_ids, geotag_phash(rng, len(upsert_ids), hot_share))
        n_up = len(upsert_ids)
        ops = np.array(["C"] * inserts + ["M"] * moves + ["M"] * n_up + ["D"] * deletes)
        ids = np.concatenate([upsert_ids, upsert_ids, deleted])
        # base rows are version 1; batch b writes version b + 3 and its
        # losers b + 2, so a later batch always outranks an earlier one
        version = np.concatenate([np.full(n_up, b + 3), np.full(n_up, b + 2),
                                  np.full(deletes, b + 3)]).astype(np.int32)
        payload = pa.StructArray.from_arrays(
            [pa.array(np.concatenate([win[k], lose[k]])) for k in ("id", "phash", "lon", "lat")],
            fields=list(_PAYLOAD))
        payload = pa.concat_arrays([payload, pa.nulls(deletes, _PAYLOAD)])
        order = rng.permutation(len(ids))  # arrival order is not version order
        batch = pa.table({
            "op": pa.array(ops[order]),
            "entity_type": pa.array(np.full(len(ids), "image")),
            "id": pa.array(ids[order]),
            "version": pa.array(version[order]),
            "payload": payload.take(pa.array(order)),
        })
        pq.write_table(batch, os.path.join(path, "batches", f"batch-{b:04d}.parquet"))


def write_images(path: str, seed: int, n: int) -> None:
    """Bytes-bearing images from the engine's own generator
    (``sources.images.generate_batch``), which ``images_df`` runs per
    task; written with pyarrow so no Spark job is needed."""
    from osmnightwatch_spark.sources import images as I

    os.makedirs(os.path.join(path, "images"))
    step = 1024
    for f, lo in enumerate(range(0, n, step)):
        pdf = I.generate_batch(np.arange(lo, min(n, lo + step), dtype=np.int64), seed)
        table = pa.Table.from_pandas(pdf, schema=pa.schema([
            ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
            ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
            ("phash", pa.int64())]), preserve_index=False)
        pq.write_table(table, os.path.join(path, "images", f"part-{f:04d}.parquet"))
