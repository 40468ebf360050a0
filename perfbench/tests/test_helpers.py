"""Tests for the benchmark's own helpers (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from osmnightwatch_spark.functions import cells as C
from osmnightwatch_spark.functions.codecs import lonlat_from_phash
from perfbench import gen, oracles, stats
from perfbench.trace import Span, Tracer, capture, self_times


# -- generators ----------------------------------------------------------------

def _read_dir(path):
    out = {}
    for dirpath, _dirs, files in sorted(os.walk(path)):
        for fn in sorted(files):
            if fn.endswith(".parquet"):
                out[os.path.relpath(os.path.join(dirpath, fn), path)] = \
                    pq.read_table(os.path.join(dirpath, fn))
    return out


@pytest.mark.parametrize("build", [
    lambda p, s: gen.write_geotags(p, "bulk_rollup", s, 5000, 0.2, row_group=2048),
    lambda p, s: gen.write_knn_inputs(p, s, 3000, 4, 8, 0.25),
    lambda p, s: gen.write_change_stream(p, s, 2000, 3, 50, 30, 20, 0.2),
    lambda p, s: gen.write_base_points(p, s, 512, 3000, 0.2),
], ids=["geotags", "knn", "change_stream", "base_points"])
def test_generator_deterministic_per_seed(tmp_path, build):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        d.mkdir()
        build(str(d), seed)
    ta, tb, tc = _read_dir(a), _read_dir(b), _read_dir(c)
    assert ta.keys() == tb.keys() == tc.keys() and ta
    assert all(ta[k].equals(tb[k]) for k in ta)
    assert not all(ta[k].equals(tc[k]) for k in ta)


def test_hot_share_lands_in_city_cells():
    rng = np.random.default_rng(0)
    n, share = 20_000, 0.2
    lon, lat = lonlat_from_phash(gen.geotag_phash(rng, n, share))
    city_cells = C.cell_of(gen.CITIES[:, 0], gen.CITIES[:, 1], 7)
    in_city = np.isin(C.cell_of(lon, lat, 7), city_cells)
    # exactly the planted rows, plus the few uniform rows that happen
    # to fall in those three cells
    assert int(round(n * share)) <= in_city.sum() < int(round(n * share)) + 20


def test_phash_from_lonlat_round_trips():
    lon = np.array([-180.0, -120.0, 0.0, 2.35, 179.999])
    lat = np.array([-85.0, 10.0, 0.0, 48.86, 84.999])
    lo, la = lonlat_from_phash(gen.phash_from_lonlat(lon, lat))
    assert np.all(np.abs(lo - lon) <= 360.0 / 2**32)
    assert np.all(np.abs(la - lat) <= 170.0 / 2**32)


def test_image_ids_match_engine_format():
    ids = np.array([0, 7, 123456789012])
    assert gen.image_ids(ids).to_pylist() == [f"img{i:012d}" for i in ids]


def test_change_stream_is_consistent(tmp_path):
    """Deletes and moves only touch live ids; creates are new ids; every
    upsert has exactly one losing lower-version row."""
    gen.write_change_stream(str(tmp_path), 3, 500, 4, 20, 10, 5, 0.2)
    live = set(range(500))
    for b in range(4):
        t = pq.read_table(tmp_path / "batches" / f"batch-{b:04d}.parquet").to_pandas()
        top = t.sort_values(["id", "version"]).groupby("id").tail(1)
        assert set(t["id"]) == set(top["id"]) and len(t) == 2 * 30 + 5
        created = set(top.loc[top.op == "C", "id"])
        assert not created & live
        assert set(top.loc[top.op != "C", "id"]) <= live
        assert (t.groupby("id").size().loc[list(created)] == 2).all()
        live = (live - set(top.loc[top.op == "D", "id"])) | created


def test_input_cache_builds_once(tmp_path):
    calls = []
    cache = gen.InputCache(str(tmp_path), keep=2)

    def build(p):
        calls.append(p)
        open(os.path.join(p, "x"), "w").close()

    p1 = cache.get("w", 1, "n10", build)
    assert cache.get("w", 1, "n10", build) == p1 and len(calls) == 1
    cache.get("w", 2, "n10", build)
    cache.get("w", 3, "n10", build)
    assert len([d for d in os.listdir(tmp_path)]) == 2


# -- the ten-beyond tail rule ----------------------------------------------------

@pytest.mark.parametrize("n, pct", [(100, 90), (200, 95), (20, 50), (37, 72), (1000, 99)])
def test_tail_percentile_has_ten_beyond(n, pct):
    samples = [float(i) for i in range(1, n + 1)]
    t = stats.tail(samples)
    assert t["percentile"] == pct and t["n"] == n
    assert t["beyond"] >= 10
    assert sum(s > t["value"] for s in samples) == t["beyond"]
    # one percentile higher would leave fewer than ten beyond
    assert sum(s > stats.percentile(samples, pct + 1) for s in samples) < 10


def test_tail_falls_back_to_max_below_twenty_samples():
    t = stats.tail([3.0, 1.0, 2.0])
    assert t == {"value": 3.0, "percentile": 100, "n": 3, "beyond": 0}


# -- span self time ---------------------------------------------------------------

def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "r")


def test_self_time_subtracts_children():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0),
             _span(3, 1.5, 2.0, 1)]
    st = self_times(spans)
    assert st[0] == pytest.approx(7.0)
    assert st[1] == pytest.approx(1.5)
    assert st[3] == pytest.approx(0.5)


def test_self_time_counts_overlapping_children_once_and_clips():
    # two children overlap on [2, 3]; one runs past its parent's end
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 3.0, 0), _span(2, 2.0, 4.0, 0),
             _span(3, 9.0, 12.0, 0)]
    assert self_times(spans)[0] == pytest.approx(10.0 - 3.0 - 1.0)


def test_tracer_nests_spans_and_disabled_records_nothing():
    tr = Tracer("r", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("outer", None), ("inner", 0)]
    off = Tracer("r", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


# -- capture -----------------------------------------------------------------------

class _Owner:
    @staticmethod
    def double(x, scale=2):
        return x * scale


def test_capture_records_calls_and_restores():
    raw = _Owner.double
    with capture(_Owner, "double") as calls:
        assert _Owner.double(3) == 6
        assert _Owner.double(4, scale=3) == 12
    assert _Owner.double is raw
    assert calls == [((3,), {}, 6), ((4,), {"scale": 3}, 12)]


# -- the kNN reference ---------------------------------------------------------------

def test_band_knn_equals_brute_force_with_ties():
    rng = np.random.default_rng(5)
    n = 20_000
    clon, clat = rng.uniform(-180, 180, n), rng.uniform(-85, 85, n)
    # a hot cluster, exact duplicates and a ring of equidistant points
    clon[:2000], clat[:2000] = rng.uniform(2.3, 2.4, 2000), rng.uniform(48.8, 48.9, 2000)
    clon[2000:2010], clat[2000:2010] = 10.0, 10.0
    ang = np.arange(12) * np.pi / 6
    clon[2010:2022], clat[2010:2022] = -50 + np.cos(ang), 20 + np.sin(ang)
    cid = rng.permutation(n).astype(np.int64)
    plon = np.concatenate([[10.0, -50.0, 2.35, 179.9, -179.9], rng.uniform(-180, 180, 40)])
    plat = np.concatenate([[10.0, 20.0, 48.85, 0.0, -84.9], rng.uniform(-85, 85, 40)])
    pid = -1 - np.arange(len(plon))
    band = oracles.BandKnn(clon, clat, cid)
    for k in (1, 5, 12):
        want = oracles.knn_brute(plon, plat, pid, clon, clat, cid, k)
        assert oracles.frames_equal(band.query(plon, plat, pid, k), want)
