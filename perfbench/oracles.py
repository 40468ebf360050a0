"""Independent reference results the benchmark checks outputs against."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from osmnightwatch_spark.functions import cells as C
from osmnightwatch_spark.sources import polygons as P

ROLLUP_COLS = ["polygon_id", "tile", "n_images", "n_distinct_phash"]

# Spark's with_geo arithmetic, with every literal typed DOUBLE so DuckDB
# evaluates the same IEEE expression (a bare 4294967296.0 is DECIMAL)
_LON = ("(-180.0::DOUBLE + ((CAST((phash & 4294967295) AS DOUBLE)"
        " / 4294967296.0::DOUBLE) * 360.0::DOUBLE))")
_LAT = ("(-85.0::DOUBLE + ((CAST(((phash >> 32) & 4294967295) AS DOUBLE)"
        " / 4294967296.0::DOUBLE) * 170.0::DOUBLE))")


def canonical_rollup(df: pd.DataFrame) -> pd.DataFrame:
    """Rollup rows as int64 columns sorted by (polygon_id, tile)."""
    out = df[ROLLUP_COLS].astype("int64")
    return out.sort_values(["polygon_id", "tile"], kind="stable").reset_index(drop=True)


def digest(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for col in df.columns:
        h.update(col.encode())
        h.update(np.ascontiguousarray(df[col].to_numpy()).tobytes())
    return h.hexdigest()


def duckdb_rollup(parquet_glob: str, threads: int, tile_res: int = 8) -> pd.DataFrame:
    """The flagship rollup over a geotag table, computed by DuckDB from
    the engine's SQL renderings of the cell encode
    (``cells.cell_sql``) and rectangle containment
    (``polygons.rect_pip_sql_predicate``)."""
    import duckdb

    pred = P.rect_pip_sql_predicate("p.lon", "p.lat")
    sql = (
        f"WITH p AS (SELECT phash, {_LON} AS lon, {_LAT} AS lat "
        f"FROM read_parquet('{parquet_glob}')) "
        f"SELECT h.polygon_id AS polygon_id, {C.cell_sql('p.lon', 'p.lat', tile_res)} AS tile, "
        "COUNT(*) AS n_images, COUNT(DISTINCT p.phash) AS n_distinct_phash "
        f"FROM p, LATERAL {pred} AS h GROUP BY 1, 2"
    )
    con = duckdb.connect(config={"threads": threads, "memory_limit": "1GB"})
    try:
        return canonical_rollup(con.execute(sql).fetchdf())
    finally:
        con.close()


def knn_brute(plon: np.ndarray, plat: np.ndarray, pid: np.ndarray,
              clon: np.ndarray, clat: np.ndarray, cid: np.ndarray,
              k: int) -> pd.DataFrame:
    """Exact k nearest candidates per probe by squared planar degree
    distance, ranked by (dist2, cand_id) — the operator's contract,
    computed with the same float expression."""
    rows = []
    for lo, la, p in zip(plon, plat, pid):
        d2 = (lo - clon) * (lo - clon) + (la - clat) * (la - clat)
        # everything tied with the k-th distance competes on cand_id
        kth = np.partition(d2, k - 1)[k - 1]
        idx = np.nonzero(d2 <= kth)[0]
        idx = idx[np.lexsort((cid[idx], d2[idx]))][:k]
        rows.append(pd.DataFrame({
            "probe_id": p, "cand_id": cid[idx], "dist2": d2[idx],
            "rank": np.arange(1, len(idx) + 1)}))
    return canonical_knn(pd.concat(rows, ignore_index=True))


class BandKnn:
    """The same answer as :func:`knn_brute`, from a latitude-sorted
    copy of the candidates: a probe looks only at the box
    ``|dlon|, |dlat| <= r``, doubling ``r`` until at least ``k``
    candidates in it lie within ``0.999 r``. Every candidate outside
    the box is farther than that, so the box holds the whole answer,
    ties included. Checking a run's queries this way takes
    milliseconds instead of seconds."""

    def __init__(self, clon: np.ndarray, clat: np.ndarray, cid: np.ndarray):
        order = np.argsort(clat, kind="stable")
        self.lon, self.lat, self.cid = clon[order], clat[order], cid[order]

    def query(self, plon: np.ndarray, plat: np.ndarray, pid: np.ndarray,
              k: int) -> pd.DataFrame:
        rows = []
        for lo, la, p in zip(plon, plat, pid):
            r = 0.25
            while True:
                a = np.searchsorted(self.lat, la - r, side="left")
                b = np.searchsorted(self.lat, la + r, side="right")
                box = a + np.nonzero(np.abs(lo - self.lon[a:b]) <= r)[0]
                lon, lat, cid = self.lon[box], self.lat[box], self.cid[box]
                d2 = (lo - lon) * (lo - lon) + (la - lat) * (la - lat)
                # past 360 degrees the box holds every candidate
                if (d2 <= (0.999 * r) ** 2).sum() >= k or r > 360:
                    break
                r *= 2
            kth = np.partition(d2, k - 1)[k - 1]
            idx = np.nonzero(d2 <= kth)[0]
            idx = idx[np.lexsort((cid[idx], d2[idx]))][:k]
            rows.append(pd.DataFrame({
                "probe_id": p, "cand_id": cid[idx], "dist2": d2[idx],
                "rank": np.arange(1, len(idx) + 1)}))
        return canonical_knn(pd.concat(rows, ignore_index=True))


def canonical_knn(df: pd.DataFrame) -> pd.DataFrame:
    out = df[["probe_id", "cand_id", "dist2", "rank"]].astype(
        {"probe_id": "int64", "cand_id": "int64", "dist2": "float64", "rank": "int64"})
    return out.sort_values(["probe_id", "rank"], kind="stable").reset_index(drop=True)


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Exact equality, column by column (floats compared bit for bit)."""
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    return all(np.array_equal(a[c].to_numpy(), b[c].to_numpy()) for c in a.columns)
