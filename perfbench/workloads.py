"""The two closed-loop workloads.

One client in one process issues each operation only after the previous
one has returned: every caller of this library blocks on its DataFrame
result. Operations call the public functions of ``rgm.index``,
``rgm.query``, ``rgm.streaming``, ``rgm.covering`` (through
``rgm.udfs.compute_covers``) and ``rgm.bitmap`` from outside, so changes to
those modules are measured with unchanged benchmark code.

- ``ingest`` (write path): fresh builds of the point and region indexes,
  tile assignment, streamed appends each followed by a read-your-writes
  search, one maintenance pass, then a bitmap count.
- ``serve`` (read path on committed indexes built untimed in set-up):
  small batches below ``rgm.query.DRIVER_COVER_ROWS`` (driver-side
  covering, Spark job floors dominate), bulk batches above it on a corpus
  with 30% of its points in one ~50 km box (distributed covering, polygon
  kernel, refine UDF and bitmap union carry the time).
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

import inputs as gen
import oracle
from spans import SparkJobs, Tracer

# one scale per run mode; "toy" is the self-test's (sf0.001-sized corpus)
SCALES = {
    "full": dict(
        corpus=150_000, hot_share=0.3, region_caps=5_000, small_batch=256,
        small_rounds=2, bulk_batch=4608,
        bulk_hot_share=0.125, bulk_check=256, appends=3, append_rows=2000,
        fresh_caps=256, fresh_radius_m=50.0, tile_level=9, tile_max_cells=30,
    ),
    "toy": dict(
        corpus=1_500, hot_share=0.3, region_caps=500, small_batch=16,
        small_rounds=1, bulk_batch=64,
        bulk_hot_share=0.125, bulk_check=16, appends=2, append_rows=100,
        fresh_caps=16, fresh_radius_m=50.0, tile_level=9, tile_max_cells=30,
    ),
}
WORKLOADS = ("ingest", "serve")
LEVEL9_LSB = 1 << (2 * (30 - 9))  # lowest set bit of every level-9 S2 cell id


def _median(xs):
    return statistics.median(xs) if xs else None


def _keys_rows(index_dir: str) -> int:
    """Committed key rows, read from parquet footers (not through rgm)."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(index_dir, "keys", "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _stage_files(index_dir: str, stage: str) -> list[str]:
    return [
        f for f in glob.glob(os.path.join(index_dir, stage, "**", "*.parquet"), recursive=True)
        if not os.path.basename(f).startswith(("_", "."))
    ]


def _stage_bytes(index_dir: str, stage: str) -> int:
    return sum(os.path.getsize(f) for f in _stage_files(index_dir, stage))


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Bench:
    """One run of one workload. ``tamper`` corrupts the first refined search
    result before it is checked (the self-test's proof that a wrong answer
    is counted as a failed op)."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work_dir: str, scale: str = "full", tamper: bool = False):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work, self.tamper = trace, work_dir, tamper
        self.p = SCALES[scale]
        self.inp = gen.Inputs(seed)
        self.ops: list = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.layers: dict[str, list[float]] = {}
        self.setup: dict[str, float] = {}
        self.settings: dict = {}
        self.spark = None

    # -- bookkeeping ------------------------------------------------------
    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))

    def layer(self, name: str, value) -> None:
        if value is not None:
            self.layers.setdefault(name, []).append(float(value))

    def _fail(self, what: str, msg: str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {msg}")
        print(f"[perfbench] FAILED {what}: {msg}", file=sys.stderr, flush=True)

    def run_op(self, name: str, body, check=None):
        """Time ``body(rec)`` as one op; ``check(result)`` returns a list of
        error strings. An exception or a failed check counts the op as
        failed; the run goes on."""
        self.attempted += 1
        try:
            with self.tracer.op(name) as rec:
                result = body(rec)
        except Exception:
            self._fail(name, traceback.format_exc(limit=3).strip().splitlines()[-1])
            return None, None
        self.ops.append(rec)
        self.sample(name, rec.seconds)
        if check is not None:
            self.jobs.new_group(f"{name}.check")
            try:
                errs = check(result)
            except Exception:
                errs = [traceback.format_exc(limit=3).strip().splitlines()[-1]]
            if errs:
                rec.ok = False
                self._fail(name, "; ".join(errs[:3]) + (f" (+{len(errs) - 3} more)" if len(errs) > 3 else ""))
        return result, rec

    # -- set-up -----------------------------------------------------------
    def start(self) -> None:
        t0 = time.perf_counter()
        from rgm.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.settings = {"cpus": cpus, "driver_memory": "2g"}
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}", cpus=cpus,
            driver_memory=self.settings["driver_memory"],
            extra_conf={
                "spark.local.dir": tmp,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.streaming.checkpointLocation": os.path.join(self.work, "ckpt-default"),
            },
        )
        self.settings["shuffle_partitions"] = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        self.jobs = SparkJobs(self.spark.sparkContext)
        self.tracer = Tracer(self.jobs, self.trace)
        self.setup = {"session.start_s": time.perf_counter() - t0, "session.warmup_s": 0.0}

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        jvm_pid = gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None
        self.peak_rss_mb = (_vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)) / 1024.0
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- shared pieces ----------------------------------------------------
    def _df(self, pdf: pd.DataFrame, schema: str = gen.REGION_SCHEMA):
        self.jobs.new_group("inputs")
        return self.spark.createDataFrame(pdf, schema)

    def _points_corpus(self, n_orders: int, hot: pd.DataFrame | None):
        """(Spark frame, oracle PointSet) of the corpus: ``points_df`` over
        an orders table of ``n_orders`` rows, plus optional hot points. The
        oracle's copy of the coordinates is computed here in numpy from the
        same orders-key arithmetic as ``points_df``."""
        from pyspark.sql import functions as F
        from rgm import benchqueries as bq

        sf = os.path.join(self.work, "orders")
        gen.write_orders(sf, n_orders)
        pts = bq.points_df(self.spark, sf).select(
            F.col("image_id").alias("key"), F.lit("point").alias("kind"),
            F.col("lat").cast("double").alias("lat"), F.col("lng").cast("double").alias("lng"),
        )
        k = np.arange(n_orders, dtype=np.int64)
        keys = [str(x) for x in k]
        lat = gen.LAT_LO + (k * 9973 % 100_000) / 100_000.0 * (gen.LAT_HI - gen.LAT_LO)
        lng = gen.LNG_LO + (k * 7919 % 100_000) / 100_000.0 * (gen.LNG_HI - gen.LNG_LO)
        if hot is not None and len(hot):
            pts = pts.unionByName(self._df(hot, "key string, kind string, lat double, lng double"))
            keys += hot["key"].tolist()
            lat = np.concatenate([lat, hot["lat"].to_numpy()])
            lng = np.concatenate([lng, hot["lng"].to_numpy()])
        return pts, oracle.PointSet(keys, lat, lng)

    def _build(self, name: str, src, path: str, n_rows: int, bucket: int):
        from rgm import index as ridx

        shutil.rmtree(path, ignore_errors=True)

        def check(_):
            got = _keys_rows(path)
            return [] if got == n_rows else [f"{got} keys committed, want {n_rows}"]

        return self.run_op(name, lambda rec: ridx.build_index(self.spark, src, "key", path, bucket=bucket, resume=False), check)

    def _index_layers(self, path: str) -> None:
        from rgm.checkpoint import Manifest

        m = Manifest(path).metrics()
        for st in ("covers", "keys", "pairs", "postings"):
            self.layer(f"index.{st}_s", m.get(st, {}).get("secs"))
            self.layer(f"index.{st}_bytes", _stage_bytes(path, st))
        self.layer("index.pairs_rows", m.get("pairs", {}).get("rows"))

    def _refined_search(self, name: str, path: str, pdf: pd.DataFrame, points: oracle.PointSet,
                        check_rows: np.ndarray | None = None):
        from rgm import query as rq

        qdf = self._df(pdf)

        def body(rec):
            return rq.search(self.spark, path, qdf, refine=True).select("query_id", "key").collect()

        def check(rows):
            got: dict[str, set] = {}
            for r in rows:
                got.setdefault(r["query_id"], set()).add(r["key"])
            if self.tamper and not getattr(self, "_tampered", False) and rows:
                self._tampered = True
                qid = rows[0]["query_id"]
                got[qid].discard(rows[0]["key"])
            sub = pdf if check_rows is None else pdf.iloc[check_rows]
            return oracle.check_regions(points, sub, got)

        rows, rec = self.run_op(name, body, check)
        if self.trace and rec is not None:
            self._traced(name, self._trace_search, rec, path, pdf, qdf, len(rows))
        return rows

    def _count(self, name: str, path: str, pdf: pd.DataFrame, check):
        from rgm import query as rq

        qdf = self._df(pdf)
        res, rec = self.run_op(
            name,
            lambda rec: {r["query_id"]: r["n_keys"] for r in rq.count_keys(self.spark, path, qdf).collect()},
            check,
        )
        if self.trace and rec is not None:
            self._traced(name, self._trace_count, rec, path, qdf)
        return res

    def _count_superset_check(self, points: oracle.PointSet, pdf: pd.DataFrame, rows: np.ndarray | None):
        def check(counts):
            errs = []
            sub = pdf if rows is None else pdf.iloc[rows]
            for row in sub.to_dict("records"):
                must, _ = points.in_region(row)
                if counts.get(row["query_id"], 0) < len(must):
                    errs.append(f"{row['query_id']}: count {counts.get(row['query_id'], 0)} < {len(must)} matching keys")
            return errs

        return check

    # -- per-layer tracing (sub-layer spans re-run the inner public
    #    function on the same batch; self time = outer - inner) ----------
    def _traced(self, name: str, fn, *args) -> None:
        """Run a sub-layer re-run; an engine error there fails the op."""
        try:
            fn(*args)
        except Exception:
            self._fail(f"{name} (traced re-run)", traceback.format_exc(limit=3).strip().splitlines()[-1])

    def _plan(self, rec, path, qdf):
        from rgm import query as rq

        with self.tracer.sub(rec, "plan") as sp:
            q_cells, prefixes = rq.plan_query_cells(self.spark, qdf, rq.index_bucket(path, None), 30)
        self.jobs.new_group("trace")
        if prefixes is None:
            prefixes = [r["q_l3"] for r in q_cells.select("q_l3").distinct().collect()]
        return sp, q_cells, prefixes

    def _trace_search(self, rec, path, pdf, qdf, n_out: int) -> None:
        from pyspark.sql import functions as F
        from rgm import index as ridx
        from rgm import query as rq

        sp, q_cells, prefixes = self._plan(rec, path, qdf)
        n_cells = q_cells.count()
        with self.tracer.sub(rec, "candidates") as sc:
            n_cand = rq.candidate_keys(self.spark, path, qdf).count()
        self.jobs.new_group("trace")
        scanned = ridx.load_pairs(self.spark, path).filter(F.col("cell_l3").isin(prefixes)).count()
        self.layer("query.plan_s", sp["seconds"])
        self.layer("query.plan_jobs", sp["counts"].jobs)
        self.layer("query.cells_per_region", n_cells / max(len(pdf), 1))
        self.layer("query.candidates_s", sc["seconds"] - sp["seconds"])
        self.layer("query.candidates_jobs", sc["counts"].jobs - sp["counts"].jobs)
        self.layer("query.pairs_rows_scanned", scanned)
        self.layer("query.rows_per_candidate", scanned / max(n_cand, 1))
        self.layer("query.refine_s", rec.seconds - sc["seconds"])
        self.layer("query.refine_jobs", rec.counts.jobs - sc["counts"].jobs)
        self.layer("query.refine_selectivity", n_out / max(n_cand, 1))
        self.layer("search.jobs", rec.counts.jobs)
        self.layer("search.stages", rec.counts.stages)
        self.layer("search.tasks", rec.counts.tasks)
        self._trace_covering(pdf)

    def _trace_covering(self, pdf: pd.DataFrame) -> None:
        """Covering kernel cost per region (µs), caps and polygons apart,
        on the op's own batch; a batch without polygons is measured as
        squares around its cap centres."""
        from rgm.udfs import compute_covers

        caps = pdf[pdf["kind"] == "cap"]
        polys = pdf[pdf["kind"] == "polygon"]
        if not len(polys):
            polys = gen.squares_frame(caps["query_id"], caps["lat"].to_numpy(), caps["lng"].to_numpy(), 1000.0)
        for kind, part in (("cap", caps), ("polygon", polys)):
            if not len(part):
                continue
            n = len(part)
            none = pd.Series([None] * n, dtype=object)
            nan = pd.Series(np.full(n, np.nan))
            args = [
                part["kind"].reset_index(drop=True),
                part["lat"].reset_index(drop=True), part["lng"].reset_index(drop=True),
                part["radius_m"].reset_index(drop=True), nan, nan, nan, nan,
                part["verts"].reset_index(drop=True), none, pd.Series(np.full(n, 30)),
            ]
            t0 = time.perf_counter()
            compute_covers(*args, 3)
            self.layer(f"covering.{kind}_us", (time.perf_counter() - t0) / n * 1e6)

    def _trace_count(self, rec, path, qdf) -> None:
        from pyspark.sql import functions as F
        from rgm import bitmap as bm
        from rgm import index as ridx

        _, _, prefixes = self._plan(rec, path, qdf)
        # the posting rows the count path reads after the cell_l3 prune,
        # decoded in one decode_many call
        blobs = (
            ridx.load_postings(self.spark, path).filter(F.col("cell_l3").isin(prefixes))
            .select("bitmap").toPandas()["bitmap"].to_numpy()
        )
        self.layer("query.count_s", rec.seconds)
        self.layer("query.postings_rows_scanned", len(blobs))
        t0 = time.perf_counter()
        vals, _ = bm.decode_many(blobs)
        dt = time.perf_counter() - t0
        if len(vals) and dt > 0:
            self.layer("bitmap.decode_values_per_s", len(vals) / dt)
        self.layer("count.jobs", rec.counts.jobs)
        self.layer("count.stages", rec.counts.stages)
        self.layer("count.tasks", rec.counts.tasks)

    # -- workloads --------------------------------------------------------
    def run(self) -> None:
        t0 = time.perf_counter()
        self.start()
        if self.workload == "ingest":
            self.setup_s = time.perf_counter() - t0
            self._loop(self._ingest_cycle)
        else:
            self._serve_setup()
            self.setup_s = time.perf_counter() - t0
            self._loop(self._serve_cycle)

    def _loop(self, cycle) -> None:
        """Whole cycles until ``seconds`` have passed (at least one)."""
        self.cycles: list[float] = []
        t_end = time.perf_counter() + self.seconds
        i = 0
        while True:
            n0 = len(self.ops)
            cycle(i)
            self.cycles.append(sum(r.seconds for r in self.ops[n0:]))
            i += 1
            if time.perf_counter() >= t_end:
                break

    def _ingest_cycle(self, i: int) -> None:
        from pyspark.sql import functions as F
        from rgm import query as rq
        from rgm import streaming as rs

        p = self.p
        d = os.path.join(self.work, f"ingest{i}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        pts, points = self._points_corpus(p["corpus"], None)
        regions = self.inp.region_caps(p["region_caps"])
        reg_df = self._df(regions.rename(columns={"query_id": "key"}), gen.REGION_SCHEMA.replace("query_id", "key"))
        pidx, ridx_path = os.path.join(d, "points"), os.path.join(d, "regions")

        t_build = 0.0
        for name, src, path, n, bucket in (("build_points", pts, pidx, p["corpus"], 3),
                                           ("build_regions", reg_df, ridx_path, p["region_caps"], 1)):
            _, rec = self._build(name, src, path, n, bucket)
            if rec is not None:
                t_build += rec.seconds
        if t_build:
            self.sample("build_rows_per_s", (p["corpus"] + p["region_caps"]) / t_build)
        n_keys = _keys_rows(pidx) + _keys_rows(ridx_path)
        total = sum(_stage_bytes(x, st) for x in (pidx, ridx_path) for st in ("covers", "keys", "pairs", "postings"))
        if n_keys:
            self.sample("index_bytes_per_key", total / n_keys)
        if self.trace:
            self._index_layers(pidx)
        centres = oracle.PointSet(regions["query_id"].to_numpy(), regions["lat"].to_numpy(), regions["lng"].to_numpy())
        self._contains(ridx_path, self.inp.small_caps(f"h{i}_", p["small_batch"]), centres, 1000.0)

        # tiles: points -> level-9 tile, regions -> covering level-9 tiles
        t_dir, r_dir = os.path.join(d, "tiles_points"), os.path.join(d, "tiles_regions")
        region_q = reg_df.withColumnRenamed("key", "query_id")

        def tiles(rec):
            t0 = time.perf_counter()
            rq.assign_tiles(pts, p["tile_level"]).select("key", "tile_id").write.parquet(t_dir)
            t1 = time.perf_counter()
            rq.tiles_for_regions(region_q, p["tile_level"], max_tiles=p["tile_max_cells"]).write.parquet(r_dir)
            rec.parts = {"assign": t1 - t0, "regions": time.perf_counter() - t1}

        def check_tiles(_):
            tp, tr = pd.read_parquet(t_dir), pd.read_parquet(r_dir)
            errs = []
            if len(tp) != p["corpus"]:
                errs.append(f"{len(tp)} point tiles, want {p['corpus']}")
            for what, ids in (("point", tp["tile_id"]), ("region", tr["tile_id"])):
                ids = ids.to_numpy(dtype=np.int64)
                if not np.all((ids & -ids) == LEVEL9_LSB):
                    errs.append(f"{what} tile ids not at level {p['tile_level']}")
            if tr["query_id"].nunique() != p["region_caps"]:
                errs.append(f"{tr['query_id'].nunique()} regions tiled, want {p['region_caps']}")
            # each region's tiles must include the tile of its own centre
            self.jobs.new_group("tiles.check")
            centre = rq.assign_tiles(region_q.select("query_id", "lat", "lng"), p["tile_level"]) \
                .select("query_id", "tile_id").toPandas()
            have = set(zip(tr["query_id"], tr["tile_id"]))
            miss = sum((q, t) not in have for q, t in zip(centre["query_id"], centre["tile_id"]))
            if miss:
                errs.append(f"{miss} regions miss their centre tile")
            self._tile_rows = len(tp) + len(tr)
            return errs

        _, rec = self.run_op("tiles", tiles, check_tiles)
        if rec is not None:
            self.sample("tile_rows_per_s", getattr(self, "_tile_rows", p["corpus"]) / rec.seconds)
            self.layer("query.tiles_assign_s", rec.parts["assign"])
            self.layer("query.tiles_regions_s", rec.parts["regions"])

        # streamed appends, each followed by a read-your-writes search
        inc, ckpt = os.path.join(d, "incoming"), os.path.join(d, "ckpt")
        os.makedirs(inc)
        schema = "key string, kind string, lat double, lng double"
        seen = [points]
        for b in range(p["appends"]):
            new = self.inp.append_points(b, p["append_rows"])
            new.to_parquet(os.path.join(inc, f"batch{b:03d}.parquet"), index=False)

            def append(rec):
                stream = self.spark.readStream.schema(schema).parquet(inc)
                q = rs.stream_index_append(self.spark, stream, "key", pidx, ckpt)
                rec.extra_groups.append(str(q.runId))
                q.awaitTermination(120)
                if q.isActive:
                    q.stop()
                    raise TimeoutError("append did not finish in 120 s")
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))

            def check_append(_):
                got = _keys_rows(pidx)
                want = p["corpus"] + (b + 1) * p["append_rows"]
                return [] if got == want else [f"{got} keys after append, want {want}"]

            _, rec = self.run_op("append", append, check_append)
            if rec is not None:
                self.sample("append_rows_per_s", p["append_rows"] / rec.seconds)
                self.layer("streaming.append_s", rec.seconds)
            seen.append(oracle.PointSet(new["key"].to_numpy(), new["lat"].to_numpy(), new["lng"].to_numpy()))
            fresh = self.inp.fresh_caps(f"f{b}_", new, p["fresh_caps"], p["fresh_radius_m"])
            self._refined_search("fresh_search", pidx, fresh, oracle.PointSet.concat(seen))
        self.layer("streaming.pairs_files", len(_stage_files(pidx, "pairs")))
        self.layer("streaming.keys_files", len(_stage_files(pidx, "keys")))

        # maintenance: compaction, then postings rebuilt from the pairs
        def maintenance(rec):
            from rgm import index as ridx

            t0 = time.perf_counter()
            ridx.compact_pairs(self.spark, pidx)
            ridx.compact_keys(self.spark, pidx)
            t1 = time.perf_counter()
            ridx.refresh_postings(self.spark, pidx)
            rec.parts = {"compact": t1 - t0, "refresh": time.perf_counter() - t1}

        def check_maint(_):
            want = p["corpus"] + p["appends"] * p["append_rows"]
            got = _keys_rows(pidx)
            return [] if got == want else [f"{got} keys after compaction, want {want}"]

        _, rec = self.run_op("maintenance", maintenance, check_maint)
        if rec is not None:
            self.sample("maintenance_s", rec.seconds)
            self.layer("index.compact_s", rec.parts["compact"])
            self.layer("index.refresh_postings_s", rec.parts["refresh"])

        # bitmap count over the refreshed postings == distinct cell-level keys
        batch = self.inp.small_caps("n", p["small_batch"])

        def check_count(counts):
            self.jobs.new_group("count.check")
            qdf = self._df(batch)
            exp = {
                r["query_id"]: r["n"]
                for r in rq.search(self.spark, pidx, qdf, refine=False)
                .groupBy("query_id").agg(F.countDistinct("key_id").alias("n")).collect()
            }
            bad = [q for q in set(exp) | set(counts) if exp.get(q, 0) != counts.get(q, 0)]
            errs = [f"{len(bad)} queries where count_keys != distinct search(refine=False) keys"] if bad else []
            return errs + self._count_superset_check(oracle.PointSet.concat(seen), batch, None)(counts)

        self._count("count", pidx, batch, check_count)
        self.rate_ops = ("build_points", "build_regions", "tiles", "append")
        self.rate_rows = (p["corpus"] + p["region_caps"] + getattr(self, "_tile_rows", 0)
                          + p["appends"] * p["append_rows"])
        shutil.rmtree(d, ignore_errors=True)

    def _serve_setup(self) -> None:
        from rgm import index as ridx
        from rgm import query as rq

        p = self.p
        t0 = time.perf_counter()
        d = os.path.join(self.work, "serve")
        os.makedirs(d, exist_ok=True)
        n_hot = int(round(p["corpus"] * p["hot_share"]))
        pts, self.points = self._points_corpus(p["corpus"] - n_hot, gen.hot_points(n_hot))
        self.pidx = os.path.join(d, "points")
        self.jobs.new_group("setup")
        ridx.build_index(self.spark, pts, "key", self.pidx, resume=False)
        t1 = time.perf_counter()
        if self.trace:
            self._index_layers(self.pidx)
        # warm the small read paths once (untimed)
        self.jobs.new_group("setup.warm")
        w = self._df(self.inp.small_caps("w", 8))
        rq.search(self.spark, self.pidx, w, refine=True).collect()
        rq.count_keys(self.spark, self.pidx, w).collect()
        self.setup.update({"setup.build_s": t1 - t0, "session.warmup_s": time.perf_counter() - t1})

    def _contains(self, path: str, pdf: pd.DataFrame, centres: oracle.PointSet, radius_m: float) -> None:
        """Cell-level Contains (search without refinement) against an index
        of equal-radius caps; checked as a superset of the overlapping caps."""
        from rgm import query as rq

        qdf = self._df(pdf)

        def contains(rec):
            return rq.search(self.spark, path, qdf, refine=False).select("query_id", "key").collect()

        def check(rows):
            got: dict[str, set] = {}
            for row in rows:
                got.setdefault(row["query_id"], set()).add(row["key"])
            return oracle.check_caps_overlap(centres, radius_m, pdf, got)

        self.run_op("contains", contains, check)

    def _serve_cycle(self, i: int) -> None:
        from rgm import query as rq

        p = self.p
        for r in range(p["small_rounds"]):
            tag = f"s{i}_{r}_"
            self._refined_search("search", self.pidx, self.inp.small_caps(tag + "s", p["small_batch"]), self.points)
            cb = self.inp.small_caps(tag + "c", p["small_batch"])
            self._count("count", self.pidx, cb, self._count_superset_check(self.points, cb, None))

        n = p["bulk_batch"]
        bb = self.inp.bulk_batch(f"b{i}s", n, p["bulk_hot_share"])
        self._refined_search("bulk_search", self.pidx, bb, self.points, self.inp.sample(n, p["bulk_check"]))
        bc = self.inp.bulk_batch(f"b{i}c", n, p["bulk_hot_share"])
        rows = self.inp.sample(n, p["bulk_check"])
        self._count("bulk_count", self.pidx, bc, self._count_superset_check(self.points, bc, rows))
        for name in ("bulk_search", "bulk_count"):
            if self.samples.get(name):
                self.sample(f"{name}_regions_per_s", n / self.samples[name][-1])

        self.rate_ops = ("bulk_search", "bulk_count")
        self.rate_rows = 2 * n

    # -- results ----------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        """The generic metrics every workload reports (BENCHMARK.json)."""
        rate_t = [sum(self.samples.get(n, [])) for n in self.rate_ops]
        return {
            "setup_s": self.setup_s,
            "cycle_s": _median(self.cycles),
            "rows_per_s": (self.rate_rows * len(self.cycles) / sum(rate_t)) if sum(rate_t) else None,
            "peak_rss_mb": self.peak_rss_mb,
        }
