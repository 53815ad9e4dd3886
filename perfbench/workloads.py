"""The benchmark's workloads: ``validate`` and ``relayer``.

Each workload has a ``setup`` (seeded input generation written as the
parquet files the engine reads, repeated for ``setup_s``), a measured
``run`` and ``check``, which compares outputs against independent
references. Every call into the
engine sits inside a tracer span named after the engine module it enters;
with tracing off the spans only carry counts.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

from wayproblems_spark.fixtures.pages import generate_corpus
from wayproblems_spark.operators.knn import build_knn_index, knn_nearest_way
from wayproblems_spark.operators.overlay import (
    build_overlay_index,
    polygon_intersect_join,
    unpersist_overlay_index,
)
from wayproblems_spark.operators.pip import (
    build_pip_index,
    point_in_polygon,
    unpersist_pip_index,
)
from wayproblems_spark.operators.resolve import drop_invalid_geometry, resolve_locations
from wayproblems_spark.operators.spatial_join import spatial_range_join
from wayproblems_spark.operators.tiles import tile_counts_anchored, tile_pyramid_anchored
from wayproblems_spark.plans.checkpoint import (
    CheckpointLog,
    run_bucketed,
    stage_bucketed_input,
    with_bucket,
)
from wayproblems_spark.rules import problems, way_problems
from wayproblems_spark.sinks.writer import layer_features
from wayproblems_spark.sources.pages_source import (
    nodes_from_pages,
    verify_extraction,
    ways_from_pages,
)

from . import checks, inputs
from .trace import BUCKET_SPAN, tail_percentile

# Sizes. validate: 20k pages carry 12k ways and 60k nodes; at the job's
# default 64 buckets a bucket holds ~190 ways, so per-bucket fixed cost
# (job launches, plan compile of the ~230-site rule projection, the
# checkpoint's write + count + fingerprint) dominates each bucket.
# relayer: the way network is dense enough that kNN's first tier settles
# almost every point; 40% of the backfill points sit in eight mega-cell
# clusters, and the static side of the range join clusters at the same
# centres, so candidate and pair counts are skewed.
VALIDATE = {"pages": 20_000, "buckets": 64, "tile_z": 12, "oracle_sample": 300}
RELAYER = {
    "ways": 12_000, "polys": 150, "points": 40_000, "static": 10_000,
    "clusters": 8, "clustered": 0.4, "radius_m": 250.0,
    "knn_level": 12, "pip_level": 10, "overlay_level": 9,
    "z_min": 6, "z_max": 17, "max_cycles": 2, "sample": 200,
}


class Outcome:
    """Attempted/failed bookkeeping shared by operations and checks. An
    operation that raises is recorded and ends the run: no result line."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, name, fn, *args, **kw):
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception:
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
            raise

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {name} failed {detail}")


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ---------------------------------------------------------------- validate


class Validate:
    """``jobs/run_wayproblems.py`` on a pages corpus at 64 buckets.

    The build is the job's one pass over the source (parse → resolve →
    bucket staging). The measured operation is one checkpointed bucket,
    driven through ``run_bucketed(fail_after=1)`` (the job's own loop, run
    as a resume per bucket), closed loop for the run's seconds. The tile
    step then runs over what was written, as the job does."""

    name = "validate"

    def __init__(self, spark, tracer, work, seed, seconds):
        self.spark, self.tr, self.work = spark, tracer, work
        self.seed, self.seconds = seed, seconds
        self.out = os.path.join(work, "validate")
        self.counters: dict = {}

    def setup(self, rep: int) -> None:
        self.corpus = generate_corpus(n_pages=VALIDATE["pages"], seed=self.seed, split="bench")
        self.pages_path = os.path.join(self.work, f"pages_{rep}")
        inputs.write_parquet(inputs.pages_table(self.corpus), self.pages_path)

    def _materialize(self, df, name):
        path = os.path.join(self.work, "traced", name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def _transform(self, part):
        return layer_features(problems(part), with_anchor=True)

    def _transform_traced(self, part):
        with self.tr.span("rules.problems", "rules"):
            probs = self._materialize(problems(part), "problems")
        with self.tr.span("sinks.layer_features", "sinks"):
            return self._materialize(layer_features(probs, with_anchor=True), "features")

    def run(self, res: Outcome) -> dict:
        spark, tr, B = self.spark, self.tr, VALIDATE["buckets"]
        pages = spark.read.parquet(self.pages_path)
        staged = os.path.join(self.out, "problems.staged")
        self.log = CheckpointLog(os.path.join(self.out, "checkpoints"))
        transform = self._transform_traced if tr.enabled else self._transform
        with tr.span("validate", "bench"):
            t0 = time.perf_counter()
            if tr.enabled:
                with tr.span("sources.ways_from_pages", "sources", len(self.corpus["pages"])) as s:
                    ways = self._materialize(ways_from_pages(pages).drop("src_url"), "ways")
                self.counters["ways_parsed"] = s.rows_out
                with tr.span("sources.nodes_from_pages", "sources", len(self.corpus["pages"])):
                    nodes = self._materialize(nodes_from_pages(pages), "nodes")
                with tr.span("resolve.resolve_locations", "resolve", s.rows_out) as r:
                    resolved = self._materialize(
                        drop_invalid_geometry(resolve_locations(ways, nodes)), "resolved")
                self.counters["ways_resolved"] = r.rows_out
            else:
                resolved = drop_invalid_geometry(resolve_locations(
                    ways_from_pages(pages).drop("src_url"), nodes_from_pages(pages)))
            with tr.span("checkpoint.stage_bucketed_input", "checkpoint"):
                res.op("stage", stage_bucketed_input, resolved, "way_id", B, staged)
            build_s = time.perf_counter() - t0

            self.processed, walls = [], []
            start = None
            while len(self.processed) < B:
                t = time.perf_counter()
                with tr.span(BUCKET_SPAN, "checkpoint"):
                    done = res.op(
                        "bucket", run_bucketed, resolved, "way_id", B, transform,
                        self.log, os.path.join(self.out, "problems"), fail_after=1,
                    )
                walls.append(time.perf_counter() - t)
                self.processed += done
                if start is None:
                    start = time.perf_counter()  # the first bucket warms up
                elif time.perf_counter() - start >= self.seconds:
                    break
            self.feats_path = os.path.join(self.out, "problems", "bucket=*")
            feats = spark.read.parquet(self.feats_path)
            t = time.perf_counter()
            with tr.span("tiles.tile_counts_anchored", "tiles"):
                tile_counts_anchored(
                    feats, VALIDATE["tile_z"], "anchor_lon", "anchor_lat"
                ).write.mode("overwrite").parquet(os.path.join(self.out, "tiles"))
            tiles_s = time.perf_counter() - t

        recs = self.log.completed()
        window = self.processed[1:]
        flagged = sum(recs[b]["rows"] for b in window)
        tiled = sum(r["rows"] for r in recs.values())
        self.counters["tile_pairs"] = tiled
        pct, tail = tail_percentile(walls[1:])
        return {
            "build_s": build_s,
            "op_p50_s": statistics.median(walls[1:]),
            "op_tail_s": tail,
            "items_per_s": flagged / sum(walls[1:]),
            "_notes": {
                "op": "one checkpointed bucket",
                "ops_timed": len(walls) - 1, "tail_percentile": pct,
                "warmup_bucket_s": walls[0], "flagged_rows": flagged,
                "tile_s": tiles_s, "tiles_per_s": tiled / tiles_s,
            },
        }

    def check(self, res: Outcome) -> None:
        spark = self.spark
        bad = verify_extraction(spark.read.parquet(self.pages_path))
        n_pages = len(self.corpus["pages"])
        self.counters.update(pages=n_pages, pages_identical=n_pages - bad)
        res.check("extract_identical", bad == 0, f"{bad} pages differ")

        cols = ("id", "site", "sub", "layer", "style", "problem")
        feats = [tuple(r) for r in spark.read.parquet(self.feats_path).select(*cols).collect()]
        recs = self.log.completed()
        files = [f for f in os.listdir(self.log.path) if f.endswith(".json")]
        res.check(
            "checkpoint_log",
            sorted(recs) == sorted(self.processed) and len(files) == len(self.processed)
            and sum(r["rows"] for r in recs.values()) == len(feats),
            f"{len(files)} records for {len(self.processed)} buckets, {len(feats)} rows",
        )
        tiles = spark.read.parquet(os.path.join(self.out, "tiles"))
        tile_sum = tiles.agg(F.sum("problem_count")).collect()[0][0] or 0
        res.check("tile_sum", tile_sum == len(feats), f"{tile_sum} != {len(feats)}")

        # oracle sample: generator ways whose bucket (the engine's own
        # with_bucket) was processed; expected rows from the pure-Python rule
        # oracle. Ways with under two resolvable refs must have no rows, so a
        # resolve or staging bug that loses ways shows here too.
        n_nodes = len(self.corpus["nodes"])
        ways = {w[0]: w for w in self.corpus["ways"]}
        sample = random.Random(self.seed).sample(sorted(ways), VALIDATE["oracle_sample"])
        bucket_of = dict(
            with_bucket(
                spark.createDataFrame([(w,) for w in sample], "way_id long"),
                "way_id", VALIDATE["buckets"],
            ).collect()
        )
        done = set(self.processed)
        sample = [w for w in sample if bucket_of[w] in done]
        exp = set()
        for w in sample:
            refs, tags = ways[w][6], ways[w][7]
            if sum(1 <= r <= n_nodes for r in refs) < 2:
                continue
            for e in way_problems({"tags": tags, "closed": refs[0] == refs[-1]}):
                exp.add((str(w), *(e[k] for k in cols[1:])))
        ids = {str(w) for w in sample}
        got = {f for f in feats if f[0] in ids}
        res.check("rules_oracle", got == exp and len(sample) > 0,
                  f"{len(got ^ exp)} rows differ over {len(sample)} ways")

        checked = (
            spark.read.parquet(os.path.join(self.out, "problems.staged"))
            .filter(F.col("bucket").isin(self.processed)).count()
        )
        self.counters["ways_checked"] = checked
        self.counters["ways_flagged"] = len({f[0] for f in feats})
        out_bytes = _dir_bytes(os.path.join(self.out, "problems"))
        staged_bytes = sum(
            _dir_bytes(os.path.join(self.out, "problems.staged", f"bucket={b}"))
            for b in self.processed
        )
        self.counters["sink_bytes"] = out_bytes + _dir_bytes(os.path.join(self.out, "tiles"))
        # checkpointed path: staged input + bucket outputs + log, per output byte
        self.counters["bucket_out_bytes"] = out_bytes
        self.counters["bytes_written"] = staged_bytes + out_bytes + _dir_bytes(self.log.path)


# ---------------------------------------------------------------- relayer


class Relayer:
    """A new version of every static layer arrives: rebuild the kNN, PIP
    and overlay indexes, overlay the new polygon layer against the old
    one, backfill the skewed point set through kNN, PIP and the range
    join, and render the density pyramid. One cycle is one operation;
    cycles repeat (with the next layer versions) for the run's seconds.
    The first cycle runs cold, as a job started per layer release does."""

    name = "relayer"

    def __init__(self, spark, tracer, work, seed, seconds):
        self.spark, self.tr, self.work = spark, tracer, work
        self.seed, self.seconds = seed, seconds
        self.counters: dict = {}

    def _path(self, *parts):
        return os.path.join(self.work, "relayer", *map(str, parts))

    def setup(self, rep: int) -> None:
        P, seed = RELAYER, self.seed
        self.ways, self.polys = {}, {}
        for v in range(P["max_cycles"] + 1):
            self.polys[v] = inputs.polygon_layer(seed, P["polys"], v)
            inputs.write_parquet(inputs.polygon_table(self.polys[v]), self._path(rep, "polys", v))
            if v:
                wid, lat, lon, table = inputs.way_network(seed, P["ways"], v)
                self.ways[v] = (wid, lat, lon)
                inputs.write_parquet(table, self._path(rep, "ways", v))
        centres = inputs.cluster_centres(seed, P["clusters"])
        self.points = inputs.skewed_points(seed, P["points"], centres, P["clustered"], 0.003)
        self.static = inputs.skewed_points(seed + 1, P["static"], centres, 0.1, 0.01)
        for name, (lat, lon), idc in (("points", self.points, "point_id"),
                                      ("static", self.static, "sid")):
            inputs.write_parquet(inputs.points_table(lat, lon, idc), self._path(rep, name))
        self.rep = rep

    def _cycle(self, res: Outcome, v: int) -> dict:
        spark, tr, P = self.spark, self.tr, RELAYER
        rd = lambda *p: spark.read.parquet(self._path(self.rep, *p))
        out = lambda name: self._path("out", v, name)
        ways, new, old = rd("ways", v), rd("polys", v), rd("polys", v - 1)
        points, static = rd("points"), rd("static")
        n = P["points"]
        persists: list = []
        with tr.span(f"relayer.cycle{v}", "bench"):
            t0 = time.perf_counter()
            with tr.span("knn.build_knn_index", "knn", P["ways"]):
                ki = res.op("knn_build", build_knn_index, ways, P["knn_level"])
                ki[2].count()
            with tr.span("pip.build_pip_index", "pip", len(self.polys[v])):
                pi = res.op("pip_build", build_pip_index, spark, new, P["pip_level"])
            with tr.span("overlay.build_overlay_index", "overlay",
                         len(self.polys[v]) + len(self.polys[v - 1])):
                oa = res.op("overlay_build", build_overlay_index, spark, new, P["overlay_level"])
                ob = res.op("overlay_build", build_overlay_index, spark, old, P["overlay_level"])
                for f in oa[1:] + ob[1:]:
                    f.count()
            t1 = time.perf_counter()
            with tr.span("overlay.polygon_intersect_join", "overlay") as s:
                res.op("overlay_join", lambda: polygon_intersect_join(
                    spark, None, None, prebuilt_a=oa, prebuilt_b=ob, track_persists=persists,
                ).write.mode("overwrite").parquet(out("overlay")))
            self.counters["overlay_pairs"] = self.counters.get("overlay_pairs", 0) + s.rows_out
            t2 = time.perf_counter()
            with tr.span("knn.knn_nearest_way", "knn", n):
                res.op("knn", lambda: knn_nearest_way(
                    points, None, prebuilt=ki, track_persists=persists,
                ).write.mode("overwrite").parquet(out("knn")))
            with tr.span("pip.point_in_polygon", "pip", n) as s:
                res.op("pip", lambda: point_in_polygon(
                    spark, points, None, prebuilt=pi,
                ).write.mode("overwrite").parquet(out("pip")))
            self._add("pip_points", n)
            self._add("pip_hits", s.rows_out)
            with tr.span("spatial_join.spatial_range_join", "spatial_join", n) as s:
                res.op("range", lambda: spatial_range_join(
                    points, P["radius_m"], right=static, id_col="point_id", right_id_col="sid",
                ).write.mode("overwrite").parquet(out("range")))
            self._add("range_points", n)
            self._add("range_pairs", s.rows_out)
            t3 = time.perf_counter()
            with tr.span("tiles.tile_pyramid_anchored", "tiles", n):
                res.op("tiles", lambda: tile_pyramid_anchored(
                    points.withColumn("layer", F.lit("points")),
                    P["z_min"], P["z_max"], "lon", "lat",
                ).write.mode("overwrite").parquet(out("tiles")))
            self._add("tile_pairs", n * (P["z_max"] - P["z_min"] + 1))
            t4 = time.perf_counter()
            for f in persists:
                f.unpersist()
            unpersist_pip_index(pi)
            unpersist_overlay_index(oa)
            unpersist_overlay_index(ob)
            ki[1].unpersist()
            ki[2].unpersist()
        return {"cycle": time.perf_counter() - t0, "build": t1 - t0,
                "overlay": t2 - t1, "backfill": t3 - t2, "tiles": t4 - t3}

    def _add(self, key, v):
        self.counters[key] = self.counters.get(key, 0) + v

    def run(self, res: Outcome) -> dict:
        self.cycles = []
        start = time.perf_counter()
        with self.tr.span("relayer", "bench"):
            for v in range(1, RELAYER["max_cycles"] + 1):
                self.cycles.append(self._cycle(res, v))
                if time.perf_counter() - start >= self.seconds:
                    break
        cyc = [c["cycle"] for c in self.cycles]
        pct, tail = tail_percentile(cyc)
        P = RELAYER
        zooms = P["z_max"] - P["z_min"] + 1
        return {
            "build_s": statistics.median([c["build"] for c in self.cycles]),
            "op_p50_s": statistics.median(cyc),
            "op_tail_s": tail,
            "items_per_s": P["points"] * len(cyc) / sum(c["backfill"] for c in self.cycles),
            "_notes": {
                "tiles_per_s": P["points"] * zooms * len(cyc) / sum(c["tiles"] for c in self.cycles),
                "op": "one relayer cycle", "ops_timed": len(cyc), "tail_percentile": pct,
                "overlay_s": statistics.median([c["overlay"] for c in self.cycles]),
                "cycles": self.cycles,
            },
        }

    def check(self, res: Outcome) -> None:
        spark, P = self.spark, RELAYER
        rng = np.random.default_rng([self.seed % 2**32, 97])
        plat, plon = self.points
        slat, slon = self.static
        for v in range(1, len(self.cycles) + 1):
            rd = lambda name: spark.read.parquet(self._path("out", v, name))
            ids = np.sort(rng.choice(P["points"], P["sample"], replace=False))
            idl = ids.tolist()
            knn = rd("knn")
            res.check(f"knn_rows{v}", knn.count() == P["points"])
            got = {r["point_id"]: (r["way_id"], r["dist_m"])
                   for r in knn.filter(F.col("point_id").isin(idl)).collect()}
            wid, vlat, vlon = self.ways[v]
            bad = 0
            for pid, (w, d, gap) in zip(idl, checks.nearest_vertex(plat[ids], plon[ids], vlat, vlon, wid)):
                gw, gd = got.get(pid, (None, np.inf))
                if abs(gd - d) > 1e-3 or (gw != w and gap > 1e-3):
                    bad += 1
            res.check(f"knn_brute{v}", bad == 0, f"{bad}/{len(idl)} points")

            pip = {}
            for r in rd("pip").filter(F.col("point_id").isin(idl)).collect():
                pip.setdefault(r["point_id"], set()).add(r["poly_id"])
            layer = self.polys[v]
            box = checks.bboxes([ring for _, _, ring in layer])
            bad = 0
            for pid in idl:
                la, lo = plat[pid], plon[pid]
                hit = (box[:, 0] <= lo) & (lo <= box[:, 1]) & (box[:, 2] <= la) & (la <= box[:, 3])
                exp = {
                    layer[i][0] for i in np.flatnonzero(hit)
                    if checks.in_ring(la, lo, layer[i][2])
                }
                bad += exp != pip.get(pid, set())
            res.check(f"pip_brute{v}", bad == 0, f"{bad}/{len(idl)} points")

            rng_pairs = {}
            for r in rd("range").filter(F.col("point_id").isin(idl)).collect():
                rng_pairs.setdefault(r["point_id"], set()).add(r["sid"])
            sid = np.arange(len(slat))
            bad = 0
            for pid, near in zip(idl, checks.range_partners(
                    plat[ids], plon[ids], slat, slon, sid, P["radius_m"])):
                got_s = rng_pairs.get(pid, set())
                # pairs within 1e-9 of the threshold may go either way
                sure = {s for s, rel in near.items() if rel <= 1.0 - 1e-9}
                if not (sure <= got_s <= set(near)):
                    bad += 1
            res.check(f"range_brute{v}", bad == 0, f"{bad}/{len(idl)} points")

            pairs = {(r["a_id"], r["b_id"]) for r in rd("overlay").collect()}
            new = {p: ring for p, _, ring in self.polys[v]}
            old = {p: ring for p, _, ring in self.polys[v - 1]}
            na, nb = list(new), list(old)
            ba = checks.bboxes(list(new.values()))[:, None, :]
            bb = checks.bboxes(list(old.values()))[None, :, :]
            ia, ib = np.nonzero(
                (ba[..., 0] <= bb[..., 1]) & (bb[..., 0] <= ba[..., 1])
                & (ba[..., 2] <= bb[..., 3]) & (bb[..., 2] <= ba[..., 3])
            )
            cand = [(na[i], nb[j]) for i, j in zip(ia, ib)]
            pick = random.Random(self.seed + v)
            sample = pick.sample(sorted(pairs), min(50, len(pairs)))
            sample += pick.sample(cand, min(50, len(cand)))
            bad = sum(
                checks.rings_intersect(new[a], old[b]) != ((a, b) in pairs) for a, b in sample
            )
            res.check(f"overlay_brute{v}", bad == 0 and len(pairs) > 0,
                      f"{bad}/{len(sample)} pairs")

            tiles = rd("tiles").groupBy("tile_z").agg(F.sum("problem_count").alias("n")).collect()
            res.check(
                f"tile_sum{v}",
                len(tiles) == P["z_max"] - P["z_min"] + 1
                and all(r["n"] == P["points"] for r in tiles),
            )


WORKLOADS = {w.name: w for w in (Validate, Relayer)}
