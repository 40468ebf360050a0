"""The benchmark's workloads.

Each workload builds its seeded inputs (cached, never timed), sets up
its state (timed as part of ``setup_s``), runs one operation at a time
in a closed loop with a single client, checks every output, and — in a
traced run — splits its operation into layers from outside the engine.

An operation returns an :class:`Op`: its latency sample, the input
rows it consumed, any extra per-op figures, and whether its output
check passed. Layer splits time lazily built plans by running
successively longer prefixes of the same plan into Spark's ``noop``
sink; a layer's time is the difference between its prefix and the one
before (one sample each, so a split can come out slightly negative
when the layer is nearly free).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from pyspark.sql import functions as F
from pyspark.sql import types as T

from osmnightwatch_spark.functions import cells as C
from osmnightwatch_spark.operators import knn as KNN
from osmnightwatch_spark.operators import pip_join as PJ
from osmnightwatch_spark.operators.images_ops import decode_verify
from osmnightwatch_spark.plans import incremental as INC
from osmnightwatch_spark.plans import pipeline as PIPE
from osmnightwatch_spark.sources import catalog as CAT
from osmnightwatch_spark.sources import images as I
from osmnightwatch_spark.sources import polygons as P
from osmnightwatch_spark.streaming import cdc

from . import gen, host, oracles
from .trace import capture, python_udf_rows

COVER_RES = 7   # the flagship's default covering resolution
TILE_RES = 8    # the flagship's default tile resolution
KNN_K = 5


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def prepare_polygons() -> PJ.PreparedPolygons:
    """The flagship's polygon set and covering, exactly as
    ``plans.pipeline.flagship_points`` builds it (so later calls hit
    the engine's memo)."""
    return PJ.PreparedPolygons.build(P.valid_polygon_list(rect_only=True),
                                     res=COVER_RES)


def committed_bytes(table: CAT.Table, snap: int) -> tuple[int, int]:
    """(bytes, files) a non-append commit wrote: its data files plus
    its manifest."""
    m = table.manifest(snap)
    mpath = os.path.join(table.root, "manifests", f"manifest-{snap}.json")
    return (m["metrics"]["total_bytes"] + os.path.getsize(mpath),
            m["metrics"]["n_files"])


@dataclass
class Op:
    latency_s: float
    rows: int
    ok: bool
    extra: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    tracer: object
    inputs: str
    work: str
    data: dict = field(default_factory=dict)   # inputs and references (load)
    state: dict = field(default_factory=dict)  # session-bound state (setup)


class Workload:
    name = ""
    why = ""
    hot_share = 0.2
    rate = "images_per_s"  # name of the printed figure rows / median latency
    # warm up with at least this many operations: the JVM keeps
    # getting faster for several operations after the cold first one
    warmup_ops = 2

    def size_key(self) -> str:
        raise NotImplementedError

    def build_inputs(self, path: str, seed: int) -> None:
        raise NotImplementedError

    def load(self, ctx: Ctx) -> None:
        """Driver-side inputs and reference results into ``ctx.data``
        (not timed; runs before the session starts)."""

    def setup(self, ctx: Ctx) -> None:
        """Session-bound state the operations need, into ``ctx.state``
        (timed)."""

    def op(self, ctx: Ctx, i: int) -> Op:
        raise NotImplementedError

    def finish(self, ctx: Ctx) -> list[str]:
        """Checks that need the whole run; returns failure messages."""
        return []

    def teardown(self, ctx: Ctx) -> None:
        ctx.state.clear()

    def layers(self, ctx: Ctx, ops: list[Op]) -> dict:
        return {}

    def extras(self, ctx: Ctx) -> dict:
        """End-to-end figures that exist on this workload only."""
        return {}


class BulkRollup(Workload):
    name = "bulk_rollup"
    why = ("nightly flagship rollup over a 2M-row geotag table with 20% of rows "
           "in 3 hot city cells: scan, cell encode, PIP covering join, refine "
           "and aggregation do most of the work")
    n_rows = 2 << 20
    file_rows = 1 << 20

    def size_key(self):
        return f"n{self.n_rows}-h{self.hot_share}"

    def build_inputs(self, path, seed):
        gen.write_geotags(path, self.name, seed, self.n_rows, self.hot_share,
                          row_group=self.file_rows)
        # the reference depends on the input alone, so it is cached with it
        oracles.duckdb_rollup(os.path.join(path, "geotags", "*.parquet"),
                              host.nproc()).to_parquet(os.path.join(path, "expected.parquet"))

    def load(self, ctx):
        ctx.data["expected"] = pd.read_parquet(os.path.join(ctx.inputs, "expected.parquet"))
        ctx.data["digests"] = set()

    def setup(self, ctx):
        ctx.state["images"] = ctx.spark.read.parquet(
            os.path.join(ctx.inputs, "geotags"))

    def op(self, ctx, i):
        t0 = time.perf_counter()
        df = PIPE.flagship(ctx.state["images"])
        pdf = df.toPandas()
        lat = time.perf_counter() - t0
        ctx.state["last"] = df  # its executed plan carries the refine's row count
        got = oracles.canonical_rollup(pdf)
        ctx.data["digests"].add(oracles.digest(got))
        ok = oracles.frames_equal(got, ctx.data["expected"])
        return Op(lat, self.n_rows, ok, {"hits": int(got["n_images"].sum())})

    def finish(self, ctx):
        d = ctx.data["digests"]
        return [] if len(d) <= 1 else [f"result digest differs across runs: {sorted(d)}"]

    def layers(self, ctx, ops):
        df = ctx.state["images"]
        tr = ctx.tracer
        pts = lambda: I.with_geo(df.select("phash"))  # noqa: E731
        with tr.span("split.sources.images.scan"):
            t_scan = timed(lambda: noop(df.select("phash")))
        with tr.span("split.functions.cells.encode"):
            t_enc = timed(lambda: noop(C.attach_cell(pts(), COVER_RES, out="_leaf")))
        with tr.span("split.operators.pip_join.join"):
            t_pip = timed(lambda: noop(PJ.pip_join(pts(), prepare_polygons())))
        t_full = float(np.median([o.latency_s for o in ops]))
        return {
            "sources.images.scan_s": t_scan,
            "functions.cells.encode_s": t_enc - t_scan,
            "operators.pip_join.self_s": t_pip - t_enc,
            "plans.pipeline.aggregate_s": t_full - t_pip,
            "operators.pip_join.refine_candidates": python_udf_rows(ctx.state["last"]),
            "operators.pip_join.hits": ops[-1].extra["hits"],
        }


class KnnLookup(Workload):
    name = "knn_lookup"
    why = ("closed-loop kNN queries (k=5, 16 probes, 4 in hot cells) against a "
           "persisted 256k-row candidate table: driver planning, job scheduling "
           "and kNN do the work; PIP refine and codecs do none")
    n_cand = 1 << 18
    probes_per_query = 16
    n_queries = 256
    hot_share = 0.25
    rate = "probes_per_s"
    # queries kept getting faster for 20-30 runs, from 1.3 s to 0.65 s;
    # 16 is what a run's time allows
    warmup_ops = 16

    def size_key(self):
        return f"c{self.n_cand}-p{self.probes_per_query}x{self.n_queries}-h{self.hot_share}"

    def build_inputs(self, path, seed):
        gen.write_knn_inputs(path, seed, self.n_cand, self.n_queries,
                             self.probes_per_query, self.hot_share)

    def load(self, ctx):
        cand = pq.read_table(os.path.join(ctx.inputs, "candidates.parquet")).to_pandas()
        ctx.data["cand_np"] = (cand["lon"].to_numpy(), cand["lat"].to_numpy(),
                                cand["cand_id"].to_numpy())
        probes = pq.read_table(os.path.join(ctx.inputs, "probes.parquet")).to_pandas()
        ctx.data["probes"] = [g.drop(columns="query").reset_index(drop=True)
                               for _, g in probes.groupby("query", sort=True)]
        ctx.data["results"] = []

    def setup(self, ctx):
        cand = ctx.spark.read.parquet(
            os.path.join(ctx.inputs, "candidates.parquet")).persist()
        cand.count()
        ctx.state["cand"] = cand

    _SCHEMA = T.StructType([T.StructField("probe_id", T.LongType(), False),
                            T.StructField("lon", T.DoubleType(), False),
                            T.StructField("lat", T.DoubleType(), False)])

    def op(self, ctx, i):
        q = i % self.n_queries
        t0 = time.perf_counter()
        probes = ctx.spark.createDataFrame(ctx.data["probes"][q], schema=self._SCHEMA)
        res = KNN.knn_join(probes, ctx.state["cand"], k=KNN_K, n_candidates=self.n_cand)
        with ctx.tracer.span("operators.knn.collect"):
            pdf = res.toPandas()
        lat = time.perf_counter() - t0
        ctx.data["results"].append((q, pdf))  # checked against brute force in finish
        return Op(lat, self.probes_per_query, True)

    def finish(self, ctx):
        ref = oracles.BandKnn(*ctx.data["cand_np"])
        bad = []
        for q, pdf in ctx.data["results"]:
            p = ctx.data["probes"][q]
            want = ref.query(p["lon"].to_numpy(), p["lat"].to_numpy(),
                             p["probe_id"].to_numpy(), KNN_K)
            if not oracles.frames_equal(oracles.canonical_knn(pdf), want):
                bad.append(f"query {q}: kNN result differs from brute force")
        return bad

    def teardown(self, ctx):
        if "cand" in ctx.state:
            ctx.state["cand"].unpersist()
        ctx.state.clear()


class ChangeStream(Workload):
    """The reference's two phases: bulk-load a snapshot, then the
    minutely loop. The first set-up ingests bytes-bearing images
    through the checkpointed flagship (decode + phash/caption
    verification, PIP join, rollup, each stage committed to the
    catalog) and resumes it on the same root. It then commits the base
    snapshot, the verified points plus the generated base geotags, and
    its full rollup. Every set-up publishes those two as a fresh
    stream's tables. Each operation is one micro-batch: CDC compact +
    merge, incremental tile rollup, and two catalog commits the next
    batch reads back."""

    name = "change_stream"
    why = ("minutely loop over a 131k-geotag snapshot whose base holds 512 verified, "
           "checkpointed images: per batch of 232 image changes, CDC merge, "
           "incremental rollup and two catalog commits")
    rate = "changes_per_s"
    n_images = 512   # the engine's image generator plants its own city rows
    n_base = 1 << 17
    n_batches = 96
    # per batch; not taken from a measured changeset stream (see README)
    inserts, moves, deletes = 64, 40, 24

    @property
    def rows_per_batch(self):
        return 2 * (self.inserts + self.moves) + self.deletes

    def size_key(self):
        return (f"n{self.n_images}+{self.n_base}-{self.inserts}.{self.moves}.{self.deletes}"
                f"x{self.n_batches}-h{self.hot_share}")

    def build_inputs(self, path, seed):
        gen.write_images(path, seed, self.n_images)
        gen.write_base_points(path, seed, self.n_images, self.n_base, self.hot_share)
        gen.write_change_stream(path, seed, self.n_images + self.n_base, self.n_batches,
                                self.inserts, self.moves, self.deletes, self.hot_share)

    def load(self, ctx):
        ctx.data.update(images=os.path.join(ctx.inputs, "images"), failures=[])

    def _batch(self, ctx, b):
        return os.path.join(ctx.inputs, "batches", f"batch-{b:04d}.parquet")

    def setup(self, ctx):
        spark = ctx.spark
        if "base_root" not in ctx.data:
            # the bulk load runs once per run, inside the first set-up;
            # later set-ups start from the snapshot it committed
            ctx.data["base_root"] = self._bulk_load(ctx)
        base = ctx.data["base_root"]
        root = os.path.join(ctx.work, f"stream-{time.monotonic_ns()}")
        points = CAT.Table(os.path.join(root, "points"))
        points.commit(CAT.Table(os.path.join(base, "points")).read(spark))
        rollup = CAT.Table(os.path.join(root, "rollup"))
        rollup.commit(CAT.Table(os.path.join(base, "rollup")).read(spark))
        ctx.state.update(root=root, points=points, rollup=rollup, next=0)

    def _bulk_load(self, ctx) -> str:
        """Checkpointed, verified flagship over the images into a fresh
        catalog root, then a resume on the same root; both checked.
        Then the base snapshot and its full rollup, committed."""
        spark = ctx.spark
        ingest = os.path.join(ctx.work, "ingest")
        t0 = time.perf_counter()
        first = PIPE.flagship_checkpointed(spark, ctx.data["images"], ingest).toPandas()
        t1 = time.perf_counter()
        again = PIPE.flagship_checkpointed(spark, ctx.data["images"], ingest).toPandas()
        t2 = time.perf_counter()
        n_verified = CAT.Table(os.path.join(ingest, "verified")).manifest()["metrics"]["total_rows"]
        if n_verified != self.n_images:
            ctx.data["failures"].append(f"verified {n_verified} of {self.n_images} images")
        if not oracles.frames_equal(oracles.canonical_rollup(first),
                                    oracles.canonical_rollup(again)):
            ctx.data["failures"].append("resumed ingest differs from the first run")
        ctx.data["ingest"] = {"ingest_s": t1 - t0, "resume_s": t2 - t1,
                              "verified_rows": n_verified}
        base = os.path.join(ctx.work, "base")
        verified = (CAT.Table(os.path.join(ingest, "verified")).read(spark)
                    .select(F.expr("CAST(substring(image_id, 4) AS BIGINT)").alias("id"),
                            "phash"))
        generated = spark.read.parquet(os.path.join(ctx.inputs, "base"))
        points = CAT.Table(os.path.join(base, "points"))
        points.commit(I.with_geo(verified.unionByName(generated)))
        CAT.Table(os.path.join(base, "rollup")).commit(
            PIPE.flagship_points(points.read(spark), tile_res=TILE_RES))
        return base

    def _plans(self, ctx, b):
        spark = ctx.spark
        base = ctx.state["points"].read(spark)
        prev = ctx.state["rollup"].read(spark)
        changes = spark.read.parquet(self._batch(ctx, b))
        compacted = cdc.compact_changeset(changes)
        merged = cdc.apply_changeset(base, compacted)
        roll = INC.incremental_tile_rollup(base, changes, tile_res=TILE_RES,
                                           prev_rollup=prev)
        return compacted, merged, roll

    def op(self, ctx, i):
        b = ctx.state["next"]
        if b >= self.n_batches:
            raise RuntimeError("change stream exhausted its generated batches")
        ctx.state["next"] = b + 1
        t0 = time.perf_counter()
        _, merged, roll = self._plans(ctx, b)
        s1 = ctx.state["points"].commit(merged, lineage={"batch": b})
        s2 = ctx.state["rollup"].commit(roll, lineage={"batch": b})
        lat = time.perf_counter() - t0
        w1, f1 = committed_bytes(ctx.state["points"], s1)
        w2, f2 = committed_bytes(ctx.state["rollup"], s2)
        return Op(lat, self.rows_per_batch, True, {
            "bytes_written": w1 + w2, "files_written": f1 + f2,
            "input_bytes": os.path.getsize(self._batch(ctx, b))})

    def finish(self, ctx):
        spark = ctx.spark
        got = oracles.canonical_rollup(ctx.state["rollup"].read(spark).toPandas())
        full = oracles.canonical_rollup(
            PIPE.flagship_points(ctx.state["points"].read(spark),
                                 tile_res=TILE_RES).toPandas())
        bad = list(ctx.data["failures"])
        if not oracles.frames_equal(got, full):
            bad.append("incremental rollup differs from the full rollup of the "
                       "committed merged snapshot")
        return bad

    def extras(self, ctx):
        ing = ctx.data["ingest"]
        return {"ingest_s": ing["ingest_s"], "resume_s": ing["resume_s"],
                "ingest_images_per_s": self.n_images / ing["ingest_s"]}

    def teardown(self, ctx):
        root = ctx.state.get("root")
        ctx.state.clear()
        if root:
            shutil.rmtree(root, ignore_errors=True)

    def layers(self, ctx, ops):
        """One more batch, split: compact, merge, the incremental rollup
        and the two commits (commit self time is the commits minus the
        runs of the same plans). The dirty tiles, the recompute input
        and the PIP figures are the engine's own: the DataFrames
        ``incremental_tile_rollup`` builds are captured as it builds
        them, and the refine's row count is read from the rollup's
        executed plan. Plus the bulk load's decode + verify over the
        input images."""
        b = ctx.state["next"]
        tr = ctx.tracer
        imgs = ctx.spark.read.parquet(ctx.data["images"])
        with tr.span("split.operators.images_ops.decode_verify"):
            t_verify = timed(lambda: noop(decode_verify(imgs)))
        # the dirty tile set is the one-column frame the rollup
        # broadcasts; the recompute input is what it passes to
        # flagship_points, whose result is the recomputed part
        with capture(F, "broadcast") as bcast, \
                capture(PIPE, "flagship_points") as recompute:
            compacted, merged, roll = self._plans(ctx, b)
        dirty = next(a[0] for a, _, _ in bcast if a[0].columns == ["tile"])
        (dirty_pts, *_), _, fresh = recompute[0]
        with tr.span("split.streaming.cdc.compact"):
            t_compact = timed(lambda: noop(compacted))
        with tr.span("split.streaming.cdc.merge"):
            t_merge = timed(lambda: noop(merged))
        with tr.span("split.plans.incremental.rollup"):
            t_roll = timed(roll.collect)
        counts = {
            "plans.incremental.dirty_tiles": dirty.count(),
            "plans.incremental.recompute_ratio": dirty_pts.count() / merged.count(),
            "operators.pip_join.refine_candidates": python_udf_rows(roll),
            "operators.pip_join.hits": fresh.agg(F.sum("n_images")).first()[0] or 0,
        }
        n_spans = len(tr.spans)
        self.op(ctx, 0)  # commits batch b through the instrumented Table.commit
        commit_total = sum(s.end - s.start for s in tr.spans[n_spans:]
                           if s.name == "sources.catalog.Table.commit")
        return counts | {
            "operators.images_ops.decode_verify_s": t_verify,
            "operators.images_ops.verified_rows": ctx.data["ingest"]["verified_rows"],
            "streaming.cdc.compact_s": t_compact,
            "streaming.cdc.merge_s": t_merge - t_compact,
            "plans.incremental.rollup_s": t_roll,
            "sources.catalog.commit_self_s": commit_total - t_merge - t_roll,
        }


WORKLOADS = {w.name: w for w in (BulkRollup(), KnnLookup(), ChangeStream())}
